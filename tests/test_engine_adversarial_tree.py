"""Adversarial file trees for the engine core (round-11 axis).

The glob/parents/shared-scan core was golden-tested on shallow
fixtures (testFixtures/a mirrors, depth <= 3). This axis stresses the
shapes a real repository/crawl tree produces:

- >= 64-deep nesting with a directory file at EVERY level (the
  ancestor lookup's parents stack at maximum practical depth);
- unicode / whitespace path segments (glob compiler must treat them
  as literals — no regex-metachar or encoding surprises);
- empty folders and metadata-only folders (scan yields no rows, no
  errors);
- a file matching BOTH directory_files and the data path_filter —
  the reference allows this (mapreduce.go:152-184): the file is a
  data row AND its payload parents files in strict subfolders
  (never itself or its siblings).

All trees are real on-disk trees (tmp_path), driven through the
public FileEngine(spark, root=...) API.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from filemapreduce_spark import FileEngine, Job, MultiFilter

DEPTH = 64


@pytest.fixture()
def deep_tree(tmp_path):
    """d001/d002/.../d064 with meta.json at the root and at every
    level (value = level), data.json at the bottom."""
    root = tmp_path / "deep"
    cur = root
    cur.mkdir()
    (cur / "meta.json").write_text('{"value": 0}')
    for i in range(1, DEPTH + 1):
        cur = cur / f"d{i:03d}"
        cur.mkdir()
        (cur / "meta.json").write_text(json.dumps({"value": i}))
    (cur / "data.json").write_text('{"value": 1000}')
    return str(root)


def test_deep_nesting_parents_at_every_level(spark, deep_tree):
    """The leaf at depth 64 inherits exactly the 64 ancestor metas
    (levels 0..63, root-first); its own folder's meta (level 64) is a
    sibling and must NOT apply."""
    eng = FileEngine(spark, root=deep_tree)
    out = eng.run(
        [
            Job(
                name="deep",
                path_filter="**/data.json",
                directory_files=MultiFilter("meta.json", "**/meta.json"),
                loader="json:value INT",
                mapper=lambda df: df.select(
                    "path",
                    F.col("data.value").alias("v"),
                    F.transform(
                        F.col("parents"), lambda p: p["value"]
                    ).alias("pv"),
                ),
            )
        ]
    )
    rows = out["deep"].collect()
    assert len(rows) == 1
    (r,) = rows
    assert r.path == "/".join(
        f"d{i:03d}" for i in range(1, DEPTH + 1)
    ) + "/data.json"
    assert r.v == 1000
    # exactly levels 0..63, root-first — not the sibling level-64 meta
    assert r.pv == list(range(DEPTH))


def test_deep_nesting_glob_prunes_and_matches(spark, deep_tree):
    """A leaf-anchored glob still matches at depth 64, and a
    non-matching glob returns an empty (not failed) result."""
    eng = FileEngine(spark, root=deep_tree)
    out = eng.run(
        [
            Job(
                name="leaf",
                path_filter="**/d064/data.json",
                loader="text",
                mapper=lambda df: df.select("path"),
            ),
            Job(
                name="none",
                path_filter="**/*.txt",
                loader="text",
                mapper=lambda df: df.select("path"),
            ),
        ]
    )
    assert [r.path.rsplit("/", 2)[-2:] for r in out["leaf"].collect()] == [
        ["d064", "data.json"]
    ]
    assert out["none"].collect() == []


@pytest.fixture()
def unicode_tree(tmp_path):
    root = tmp_path / "uni"
    (root / "fo o" / "日本 語").mkdir(parents=True)
    (root / "fo o" / "meta.json").write_text('{"value": 7}')
    (root / "fo o" / "日本 語" / "da ta.txt").write_text("x y z")
    (root / "fo o" / "日本 語" / "café näïve.txt").write_text("a b")
    (root / "weird-[brackets]" ).mkdir()
    (root / "weird-[brackets]" / "f.txt").write_text("w")
    return str(root)


def test_unicode_whitespace_segments(spark, unicode_tree):
    """Spaces, CJK, diacritics, and regex metachars in segments are
    literal path text for the glob compiler, and directory-file
    inheritance crosses a unicode/whitespace boundary."""
    eng = FileEngine(spark, root=unicode_tree)
    out = eng.run(
        [
            Job(
                name="wc",
                path_filter="**/*.txt",
                directory_files="*/meta.json",
                loader="text",
                mapper=lambda df: df.select(
                    F.explode(F.split("data", r"\s+")).alias("w"),
                    F.size("parents").alias("np"),
                ),
                reducer=lambda df: df.groupBy("np").agg(
                    F.count(F.lit(1)).alias("n")
                ),
            ),
            Job(
                # literal unicode/whitespace segments in the glob
                name="lit",
                path_filter="fo o/**/da ta.txt",
                loader="text",
                mapper=lambda df: df.select("path", "data"),
            ),
        ]
    )
    wc = {r.np: r.n for r in out["wc"].collect()}
    # 5 words under "fo o" inherit 1 parent; 1 word under the bracket
    # folder inherits none
    assert wc == {1: 5, 0: 1}
    lit = out["lit"].collect()
    assert [(r.path, r.data) for r in lit] == [
        ("fo o/日本 語/da ta.txt", "x y z")
    ]


def test_empty_and_metadata_only_folders(spark, tmp_path):
    """Empty folders at several levels and a folder holding only a
    directory file (no data siblings, no descendants) scan cleanly:
    no rows, no errors, no phantom parents."""
    root = tmp_path / "sparse"
    (root / "empty1" / "empty2" / "empty3").mkdir(parents=True)
    (root / "metaonly").mkdir()
    (root / "metaonly" / "meta.json").write_text('{"value": 9}')
    (root / "data").mkdir()
    (root / "data" / "a.txt").write_text("hello world")
    eng = FileEngine(spark, root=str(root))
    out = eng.run(
        [
            Job(
                name="wc",
                path_filter="**/*.txt",
                directory_files="**/meta.json",
                loader="text",
                mapper=lambda df: df.select(
                    F.explode(F.split("data", r"\s+")).alias("w"),
                    F.size("parents").alias("np"),
                ),
            )
        ]
    )
    rows = out["wc"].collect()
    # the metaonly folder's payload applies to NOTHING (subfolder
    # scope, and it has no subfolders) — a.txt sees zero parents
    assert sorted((r.w, r.np) for r in rows) == [
        ("hello", 0),
        ("world", 0),
    ]


def test_file_matching_both_dir_and_data_glob(spark, tmp_path):
    """mapreduce.go:152-184 parity: a file matching BOTH globs is a
    data row itself AND parents its strict descendants — never
    itself, never its siblings."""
    root = tmp_path / "both"
    (root / "sub").mkdir(parents=True)
    (root / "meta.json").write_text('{"value": 2}')
    (root / "sub" / "data.json").write_text('{"value": 3}')
    (root / "sub" / "meta.json").write_text('{"value": 5}')
    eng = FileEngine(spark, root=str(root))
    out = eng.run(
        [
            Job(
                name="both",
                # matches every json INCLUDING both meta.json files
                path_filter=MultiFilter("*.json", "**/*.json"),
                directory_files=MultiFilter("meta.json", "**/meta.json"),
                loader="json:value INT",
                mapper=lambda df: df.select(
                    "path",
                    F.col("data.value").alias("v"),
                    F.transform(
                        F.col("parents"), lambda p: p["value"]
                    ).alias("pv"),
                ),
            )
        ]
    )
    got = sorted(
        (r.path, r.v, list(r.pv)) for r in out["both"].collect()
    )
    assert got == [
        # root meta: a data row, no ancestors
        ("meta.json", 2, []),
        # sub/data.json: parented by root meta only (sub/meta.json is
        # its sibling)
        ("sub/data.json", 3, [2]),
        # sub/meta.json: a data row parented by root meta — NOT by
        # itself
        ("sub/meta.json", 5, [2]),
    ]
