"""filemapreduce_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
the Redundancy/fileMapReduce reference (hierarchical file MapReduce with
scan sharing and directory-file metadata inheritance), re-expressed
Spark-first: declarative DataFrame/SQL plans optimized by Catalyst, plus
a general relational surface and large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns).

Public surface:
    from filemapreduce_spark import PathFilter, MultiFilter, Job, FileEngine
    from filemapreduce_spark import cache_scope
    from filemapreduce_spark.session import get_spark
"""

from filemapreduce_spark.cache import cache_scope
from filemapreduce_spark.globs import MultiFilter, PathFilter
from filemapreduce_spark.core.engine import FileEngine, Job

__all__ = [
    "PathFilter",
    "MultiFilter",
    "Job",
    "FileEngine",
    "cache_scope",
]

__version__ = "0.1.0"
