"""Pinned regressions for the round-10 constructed axes.

Each test pins one root-cause class from FIXTURES.md §D so the fix
can't silently regress: ASCII-only case folding, the explicit ASCII
whitespace class, the descending-sequence guard, the O(n)
reversed-sort forward window, DECIMAL(38,0) exact accumulation, and
the code-point frame unit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import ascii_fold, words


def test_ascii_fold_leaves_unicode_case_alone(spark):
    df = spark.createDataFrame(
        [("İstanbul ΣΤΙΓΜΑΣ STRASSE Mix3d",)], "t string"
    )
    out = df.select(ascii_fold("t").alias("f")).collect()[0].f
    # ASCII letters fold; İ and Σ keep their case (engine-native
    # lower() maps them differently between Java and utf8proc)
    assert out == "İstanbul ΣΤΙΓΜΑΣ strasse mix3d"


def test_words_splits_on_explicit_ascii_whitespace(spark):
    df = spark.createDataFrame([("a\tb\nc\rd\x0be f",)], "t string")
    out = df.select(words("t").alias("w")).collect()[0].w
    assert out == ["a", "b", "c", "d", "e", "f"]
    # zero-width space is NOT whitespace: one token
    df2 = spark.createDataFrame([("x​y",)], "t string")
    assert df2.select(words("t").alias("w")).collect()[0].w == ["x​y"]


def test_empty_text_yields_no_tokens_and_no_segments(spark):
    df = spark.createDataFrame([("",), (None,)], "text string")
    ws = df.select(words("text").alias("w")).collect()
    assert ws[0].w == [] and ws[1].w is None
    # the sequence guard: size=0 must NOT produce sequence(0,-1)'s
    # descending [0,-1] phantom rows
    segs = (
        df.select(words("text").alias("ws"))
        .where(F.size("ws") >= 1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.floor((F.size("ws") + 7) / 8) - 1,
                )
            )
        )
        .count()
    )
    assert segs == 0


def test_forward_asof_reversed_frame_matches_naive(spark):
    """The O(n) reversed-sort running frame must equal the naive
    forward-unbounded first() on a partition with NULL payload gaps."""
    rows = [(1, i, None if i % 3 else f"v{i}") for i in range(1, 31)]
    df = spark.createDataFrame(rows, "k int, t int, p string")
    fwd_naive = (
        Window.partitionBy("k")
        .orderBy("t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    fwd_fast = (
        Window.partitionBy("k")
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = df.select(
        "t",
        F.first("p", ignorenulls=True).over(fwd_naive).alias("a"),
        F.last("p", ignorenulls=True).over(fwd_fast).alias("b"),
    ).collect()
    for r in got:
        assert r.a == r.b, (r.t, r.a, r.b)


def test_dsum_is_exact_past_int64(spark):
    from filemapreduce_spark.operators.money import dsum

    big = 4_611_686_018_427_387_904  # 2^62
    df = spark.createDataFrame([(big,)] * 5, "v long")
    out = df.agg(dsum(F.col("v")).alias("s")).collect()[0].s
    assert int(out) == 5 * big  # exact, no overflow, no rounding


def test_incremental_sumsq_state_survives_extreme_values(spark):
    from filemapreduce_spark.operators.incremental import (
        finalize_state,
        merge_states,
        partial_state,
    )

    df = spark.createDataFrame(
        [("a", 10**9), ("a", 10**9), ("a", 3)], "k string, v long"
    )
    s1 = partial_state(df.where(F.col("v") > 100), ["k"], F.col("v"))
    s2 = partial_state(df.where(F.col("v") <= 100), ["k"], F.col("v"))
    merged = merge_states([s1, s2], ["k"]).collect()[0]
    assert int(merged.sumsq_v) == 2 * 10**18 + 9  # exact decimal state
    fin = finalize_state(merge_states([s1, s2], ["k"]), ["k"]).collect()[0]
    assert fin.n == 3 and fin.var_v is not None


def test_frame_sampler_counts_codepoints(spark):
    """Multibyte payloads frame over CODE POINTS: 64 CJK chars = two
    32-char frames (stride 4 keeps frame 0 only), not six byte-frames."""
    import hashlib

    from filemapreduce_spark.queries.multimodal import multimodal_frame_sample

    # route through the registered function via a temp parquet dir
    import tempfile

    d = tempfile.mkdtemp(prefix="fmr_frames_")
    spark.createDataFrame(
        [(1, "日" * 64, "xx", "src", 64)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = multimodal_frame_sample(spark, d).collect()
    assert [r.frame_idx for r in out] == [0]
    assert out[0].frame_md5 == hashlib.md5(
        ("日" * 32).encode("utf-8")
    ).hexdigest()


def test_levenshtein_ascii_projection_unit(spark):
    df = spark.createDataFrame([("日本語", "abc")], "a string, b string")
    proj = lambda c: F.regexp_replace(c, "[^\\x00-\\x7F]", "\x7f")
    d = df.select(
        F.levenshtein(proj(F.col("a")), proj(F.col("b"))).alias("d")
    ).collect()[0].d
    assert d == 3  # three substitutions, not nine byte edits
