from filemapreduce_spark.sources.files import (
    FILES_SCHEMA,
    files_from_memory,
    read_files,
)
from filemapreduce_spark.sources.tables import TABLE_NAMES, load_tables, register_views

__all__ = [
    "FILES_SCHEMA",
    "read_files",
    "files_from_memory",
    "TABLE_NAMES",
    "load_tables",
    "register_views",
]
