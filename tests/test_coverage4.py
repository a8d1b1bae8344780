"""Invariant tests for the round-4 audit/sketch coverage batch and the
foreachBatch upsert."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from filemapreduce_spark.queries import load_all

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_candidate_key_audit_flags_the_true_key(spark, registry):
    rows = {
        r["combo"]: r
        for r in registry["candidate_key_audit"].fn(spark, SF_SMALL).collect()
    }
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    truth = {
        "l_orderkey": li.select("l_orderkey").distinct().count(),
        "l_orderkey,l_linenumber": li.select(
            "l_orderkey", "l_linenumber"
        )
        .distinct()
        .count(),
        "l_partkey,l_suppkey": li.select("l_partkey", "l_suppkey")
        .distinct()
        .count(),
    }
    n_rows = li.count()
    for combo, r in rows.items():
        assert r["n_rows"] == n_rows
        assert r["n_distinct"] == truth[combo]
        assert r["is_key"] == (1 if r["n_distinct"] == r["n_rows"] else 0)
    # the bare orderkey is never a key on a line-level table
    assert rows["l_orderkey"]["is_key"] == 0


def test_acf_bounded_and_sample_sizes_shrink(spark, registry):
    rows = registry["acf_daily_lags"].fn(spark, SF_SMALL).collect()
    assert rows
    by_type: dict[str, list] = {}
    for r in rows:
        assert abs(r["acf_milli"]) <= 1001
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r["lag_days"])
        ns = [r["n"] for r in series]
        assert ns == sorted(ns, reverse=True), "n must shrink with lag"


def test_foreachbatch_upsert_equals_batch_aggregate(spark, registry):
    """Multi-micro-batch merge must reproduce the one-shot batch
    aggregate exactly (exactly-once application of every batch)."""
    out = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in registry["streaming_foreachbatch_upsert"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["c"])
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
        )
        .collect()
    }
    assert out == batch


def test_column_fingerprints_detect_single_column_drift(spark, registry):
    """Perturbing ONE column must change exactly that column's
    fingerprint (computed via the same arithmetic on a modified
    frame) while the others stay equal."""
    from pyspark.sql import functions as F

    base = {
        r["column_name"]: r["fingerprint"]
        for r in registry["column_fingerprint_audit"].fn(
            spark, SF_SMALL
        ).collect()
    }

    def fp(df, name, sql_expr):
        return df.agg(
            F.expr(
                "bit_xor(CAST(conv(substring(md5("
                f"concat('{name}:', {sql_expr})"
                "), 1, 15), 16, 10) AS BIGINT))"
            )
        ).collect()[0][0]

    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    drifted = o.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") == 1, F.col("o_custkey") + 1).otherwise(
            F.col("o_custkey")
        ),
    )
    assert fp(
        drifted, "o_custkey", "CAST(o_custkey AS STRING)"
    ) != base["o_custkey"]
    assert fp(
        drifted, "o_orderkey", "CAST(o_orderkey AS STRING)"
    ) == base["o_orderkey"]


def test_histogram_sketch_error_within_one_bin(spark, registry):
    """The sketch's estimation error is bounded by one bin width
    (range/256) by construction."""
    rows = registry["histogram_sketch_percentiles"].fn(
        spark, SF_SMALL
    ).collect()
    assert len(rows) == 3
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    lo, hi = o.agg(
        F.min(F.round(F.col("o_totalprice") * 100).cast("long")),
        F.max(F.round(F.col("o_totalprice") * 100).cast("long")),
    ).collect()[0]
    bin_width = (hi - lo + 1) / 256
    for r in rows:
        assert r["abs_err_cents"] <= bin_width + 1


def test_clamped_balance_stays_in_bounds_and_diverges_from_sum(
    spark, registry
):
    """Balances must lie in [0, cap]; where no clamp ever bit, the
    balance equals max(0, min(cap, unclamped)) is NOT generally true,
    but balance == unclamped must hold whenever the unclamped prefix
    path never left the bounds — verified on a hand-folded sample."""
    from filemapreduce_spark.queries.engine import _CLAMP_CAP

    rows = registry["clamped_running_balance"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r["balance_cents"] <= _CLAMP_CAP

    # hand-fold three users from raw data and compare exactly
    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .orderBy("ts", "event_id")
        .collect()
    )
    import collections

    series = collections.defaultdict(list)
    for e in ev:
        delta = round(e["value"] * 100)
        if e["event_type"] not in ("purchase", "signup"):
            delta = -delta
        series[e["user_id"]].append(delta)
    got = {r["user_id"]: r["balance_cents"] for r in rows}
    for uid in list(series)[:3]:
        bal = 0
        for d in series[uid]:
            bal = max(0, min(_CLAMP_CAP, bal + d))
        assert got[uid] == bal


def test_parallel_scan_equals_sequential_fold(spark, registry):
    """The two-pass clamp-composition scan must produce exactly the
    same balances as the applyInPandas sequential fold — the whole
    point of the parallel formulation."""
    seq = {
        r["user_id"]: r["balance_cents"]
        for r in registry["clamped_running_balance"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    par = {
        r["user_id"]: r["balance_cents"]
        for r in registry["clamped_balance_parallel_scan"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert par == seq


def test_join_cardinality_actual_matches_real_join(spark, registry):
    row = registry["join_cardinality_estimate_audit"].fn(
        spark, SF_SMALL
    ).collect()[0]
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    c = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    true_n = o.join(
        c, o["o_custkey"] == c["c_custkey"]
    ).count()
    assert row["actual_rows"] == true_n
    assert row["q_error_milli"] >= 1000  # q-error is >= 1 by definition


def test_out_of_order_counts_bounded(spark, registry):
    rows = registry["out_of_order_audit"].fn(spark, SF_SMALL).collect()
    for r in rows:
        assert 0 <= r["n_backward"] < r["n_events"]
        assert r["max_backward_us"] >= 0
        if r["n_backward"] == 0:
            assert r["max_backward_us"] == 0


def test_banded_ids_are_dense_and_order_consistent(spark, registry):
    rows = registry["banded_dense_row_ids"].fn(spark, SF_SMALL).collect()
    ids = [r["global_id"] for r in rows]
    assert ids == list(range(len(rows)))
    keys = [(r["n_chars"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)


def test_sampled_estimate_matches_handcheck(spark, registry):
    """The exact column must equal a direct sum; the estimate must be
    exactly 10x the sampled mass."""
    rows = registry["sampled_aggregate_estimate"].fn(
        spark, SF_SMALL
    ).collect()
    direct = {
        r["l_returnflag"]: r["s"]
        for r in spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("s")
        )
        .collect()
    }
    for r in rows:
        assert r["exact_cents"] == direct[r["l_returnflag"]]
        assert r["est_cents"] % 10 == 0
        assert r["n_sampled"] > 0


def test_argmax_struct_matches_window_formulation(spark, registry):
    from pyspark.sql import Window

    rows = {
        r["event_type"]: (r["top_cents"], r["top_user"])
        for r in registry["argmax_struct_per_type"].fn(
            spark, SF_SMALL
        ).collect()
    }
    totals = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("event_type", "user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("cents").desc(), F.col("user_id").asc()
    )
    ref = {
        r["event_type"]: (r["cents"], r["user_id"])
        for r in totals.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }
    assert rows == ref


def test_scd2_incremental_equals_rebuild_and_versions_dense(
    spark, registry
):
    """Versions per user must be dense 1..K with no gaps, and the
    total event mass must be conserved."""
    rows = registry["scd2_incremental_merge"].fn(spark, SF_SMALL).collect()
    import collections

    per_user = collections.defaultdict(list)
    for r in rows:
        per_user[r["user_id"]].append(r["version"])
    for versions in per_user.values():
        versions.sort()
        assert versions == list(range(1, len(versions) + 1))
    n_total = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    assert sum(r["n_events"] for r in rows) == n_total


def test_fk_containment_known_edges(spark, registry):
    rows = {
        r["pair"]: r
        for r in registry["fk_containment_discovery"].fn(
            spark, SF_SMALL
        ).collect()
    }
    for r in rows.values():
        assert 0 <= r["contained"] <= r["child_keys"]
        assert r["is_inclusion"] == (
            1 if r["contained"] == r["child_keys"] else 0
        )


def test_bitmap_overlap_always_matches_exact(spark, registry):
    rows = registry["bitmap_audience_overlap"].fn(spark, SF_SMALL).collect()
    assert len(rows) == 10  # 5 types -> C(5,2) pairs
    for r in rows:
        assert r["bitmap_matches_exact"] == 1
        assert r["n_both"] <= min(r["n_a"], r["n_b"])
