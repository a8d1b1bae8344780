"""User-defined execution surface (SURVEY.md §2 Part B, "UDx"): the
Python extension points, each in its Arrow-vectorized form — never
row-at-a-time Python UDFs in a hot path.

- scalar `pandas_udf`: batch-vectorized column function;
- grouped `applyInPandas`: per-group pandas transform (UDAF/flatMap
  over groups);
- (`mapInPandas` is covered by multimodal_decode_features, and
  `applyInPandasWithState` by streaming_stateful_user_stats.)

Both queries are deliberately integer/order-deterministic so they can
be hash-checked against SQL oracles — the pattern for validating any
Python operator against a relational spec.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from filemapreduce_spark.queries import register
from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.sources.tables import load_table as t


@register(
    "pandas_udf_char_classes",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
           CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper,
           CAST(len(text) AS BIGINT) AS n_chars
    FROM documents ORDER BY doc_id
    """,
    tags=("udx", "pandas_udf", "llm"),
    sort="body",
)
def pandas_udf_char_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar `pandas_udf`: per-document character-class
    counts, computed inside the UDF with pyarrow's RE2-backed
    ``count_substring_regex`` kernel (C++ over the Arrow batch —
    measured ~2× pandas ``str.count``, which walks rows in Python).

    Scale shape: one Python worker per task over Arrow batches
    (zero-copy columnar transfer), ~10-100× a row-at-a-time udf; the
    operator stays embarrassingly parallel. One struct-returning UDF
    (not one per output) ships the text column to Python once. The
    sort runs BEFORE the projection: orderBy after a UDF projection
    makes the range-sampling pass evaluate the UDF a second time,
    while sorting the pruned (doc_id, text) input costs one cheap
    sampling scan and the projection preserves the order.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    @pandas_udf("n_digits long, n_upper long")
    def char_classes(s: pd.Series) -> pd.DataFrame:
        arr = pa.Array.from_pandas(s)
        # nullable Int64, not int64: the RE2 kernel returns NULL for
        # NULL text (matching the oracle's len(regexp_extract_all(
        # NULL))), and plain astype(int64) crashes on the NaN those
        # nulls become (r9 text-null probe)
        return pd.DataFrame(
            {
                "n_digits": pc.count_substring_regex(arr, "[0-9]")
                .to_pandas()
                .astype("Int64"),
                "n_upper": pc.count_substring_regex(arr, "[A-Z]")
                .to_pandas()
                .astype("Int64"),
            }
        )

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.orderBy("doc_id")
        .select(
            "doc_id",
            char_classes("text").alias("c"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .select("doc_id", "c.n_digits", "c.n_upper", "n_chars")
    )


@register(
    "apply_in_pandas_top3",
    """
    SELECT event_type, event_id, rnk FROM (
      SELECT event_type, event_id,
             CAST(row_number() OVER (
               PARTITION BY event_type
               ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id
             ) AS BIGINT) AS rnk
      FROM events
    ) WHERE rnk <= 3
    ORDER BY event_type, rnk
    """,
    tags=("udx", "applyInPandas", "llm"),
    # types x 3 rows; orderBy's sampling job would run both Python
    # stages a second time (0.88 -> 0.60 s at sf0.1)
    sort="one_part_sorted",
)
def apply_in_pandas_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped `applyInPandas`: per-event-type top-3 by value computed
    inside a pandas transform (exact integer cents + id tie-break —
    fully deterministic, so the window-function oracle hash-matches).

    Scale shape — partial-reduce before the shuffle: a `mapInPandas`
    stage keeps each input partition's local top-3 per type (no data
    movement, output ≤ partitions × types × 3 rows), so the group-key
    shuffle and the final `applyInPandas` see only finalists instead
    of the full table — the combiner pattern every distributed
    group-local Python operator needs at 100 TB (per-group model
    scoring, custom resampling). Top-3-of-local-top-3s is exact for
    any associative selection. For plain top-k the built-in window
    wins — the point here is validating the Python path against the
    SQL spec.
    """
    e = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def local_top3(batches):
        for pdf in batches:
            yield (
                pdf.sort_values(
                    ["cents", "event_id"], ascending=[False, True]
                )
                # dropna=False: pandas groupby DROPS null keys by
                # default, so the local combiner silently discarded
                # the NULL-type group that Spark's groupBy (and the
                # oracle's window) keep — the combiner must preserve
                # exactly the final stage's key semantics (r9 null
                # sweep)
                .groupby("event_type", sort=False, dropna=False)
                .head(3)
            )

    def top3(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cents", "event_id"], ascending=[False, True]
        ).head(3)
        pdf = pdf.reset_index(drop=True)
        pdf["rnk"] = pdf.index + 1
        return pdf[["event_type", "event_id", "rnk"]]

    return (
        e.mapInPandas(
            local_top3, schema="event_type string, event_id long, cents long"
        )
        .groupBy("event_type")
        .applyInPandas(top3, schema="event_type string, event_id long, rnk long")
    )


@register(
    "udtf_shared_shingles",
    """
    WITH g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(str_split(text, ' ')) - 2),
               i -> array_to_string(str_split(text, ' ')[i:i+3], ' ')
             ))) AS shingle
      FROM documents
    )
    SELECT shingle, COUNT(*) AS n_docs
    FROM g GROUP BY shingle HAVING COUNT(*) >= 3
    ORDER BY n_docs DESC, shingle
    """,
    tags=("udx", "udtf", "llm"),
)
def udtf_shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) in lateral position: a class-based
    ``@udtf`` explodes each document into its distinct 4-word shingles;
    the outer query counts cross-document shingle sharing (the raw
    signal under every shingle-based dedup).

    Scale shape: the UDTF runs Arrow-batched per partition exactly
    where the document rows live — the lateral apply adds no shuffle;
    only the shingle-count agg shuffles. This is the template for any
    one-row→many-rows Python operator (parsers, tokenizers,
    chunkers) that SQL can't express.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="shingle string")
    class DistinctShingles:
        def eval(self, text: str):
            if text is None:
                return  # no text, no shingles (oracle: unnest(NULL)
                # yields no rows; None.split crashed — r9 text-null
                # probe)
            ws = text.split(" ")
            seen = set()
            for i in range(len(ws) - 3):
                s = " ".join(ws[i : i + 4])
                if s not in seen:
                    seen.add(s)
                    yield (s,)

    spark.udtf.register("fmr_distinct_shingles", DistinctShingles)
    t(spark, sf_dir, "documents").createOrReplaceTempView("documents_udtf")
    return spark.sql(
        """
        SELECT s.shingle, COUNT(*) AS n_docs
        FROM documents_udtf d, LATERAL fmr_distinct_shingles(d.text) s
        GROUP BY s.shingle HAVING COUNT(*) >= 3
        """
    )


# --------------------------------------------------------------------
# mapInArrow: zero-copy Arrow-batch Python (the fastest Python path).
# --------------------------------------------------------------------
@register(
    "map_in_arrow_vector_norms",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
    FROM embeddings ORDER BY vec_id
    """,
    tags=("udx", "arrow", "llm"),
)
def map_in_arrow_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: per-batch pyarrow compute with no pandas
    conversion at all — the lowest-overhead Python execution path
    (RecordBatch in, RecordBatch out, zero copies on the JVM side).
    Computes embedding L2 norms batch-wise in numpy.

    Scale shape: embarrassingly parallel map over Arrow batches;
    norms are rounded to 4 decimals so the float64 fold (same
    element order both engines) hash-matches the SQL oracle.
    """
    import pyarrow as pa
    import numpy as np

    def norms(batches):
        for batch in batches:
            tbl = pa.table(batch)
            ids = tbl.column("vec_id")
            embs = tbl.column("embedding").to_pylist()
            dims = [len(e) for e in embs]
            l2 = [
                round(
                    float(
                        np.sqrt(
                            np.sum(np.asarray(e, dtype=np.float64) ** 2)
                        )
                    ),
                    4,
                )
                for e in embs
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    ids.combine_chunks()
                    if isinstance(ids, pa.ChunkedArray)
                    else ids,
                    pa.array(dims, type=pa.int32()),
                    pa.array(l2, type=pa.float64()),
                ],
                names=["vec_id", "dim", "l2_norm"],
            )

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(
        norms, "vec_id long, dim int, l2_norm double"
    )


# --------------------------------------------------------------------
# Grouped-aggregate pandas UDF: a true custom UDAF.
# --------------------------------------------------------------------
@register(
    "pandas_udaf_weighted_price",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS DOUBLE)
           / SUM(CAST(l_quantity AS BIGINT)) AS wavg_price_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("udx", "udaf", "pandas"),
)
def pandas_udaf_weighted_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via a GROUPED_AGG pandas UDF: quantity-weighted
    mean price per return flag, computed inside numpy on Arrow
    batches. The UDAF accumulates exact int64 (cents × quantity)
    sums — deterministic regardless of row order — and divides once,
    so it hash-matches the SQL oracle exactly.

    Scale caveat (why built-ins still win): a grouped-agg pandas UDF
    has no partial aggregation — Spark shuffles the raw group rows to
    the aggregator. Fine for bounded groups; for 100 TB hot paths,
    express the same math with built-ins (as the oracle does) to get
    map-side partials. This query exists to cover the custom-UDAF
    surface for aggregations built-ins can't express.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # SQL aggregate NULL semantics, hand-rolled (a custom UDAF sees
    # the raw rows, NULLs included, as NaN — int(NaN) raised on the
    # all-NULL measures fixture): the numerator sums rows where BOTH
    # operands are observed, the denominator where qty is observed,
    # and a group with nothing observed returns NULL like SUM does.
    @pandas_udf("double")
    def wavg(price_cents: pd.Series, qty: pd.Series) -> float:
        # annotation marks the GROUPED_AGG eval type; returning None
        # for a nothing-observed group is still valid at runtime
        both = price_cents.notna() & qty.notna()
        if not both.any():
            return None
        num = (
            price_cents[both].to_numpy() * qty[both].to_numpy()
        ).sum()
        den = qty[qty.notna()].to_numpy().sum()
        return float(num) / float(den) if den else None

    # Spark forbids mixing GROUPED_AGG pandas UDFs with JVM
    # aggregates in one agg() — so the companion sum is a UDAF too.
    @pandas_udf("long")
    def qty_sum(qty: pd.Series) -> int:
        obs = qty[qty.notna()]
        return int(obs.to_numpy().sum()) if len(obs) else None

    l = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return (
        l.groupBy("l_returnflag")
        .agg(
            wavg("price_cents", "qty").alias("wavg_price_cents"),
            qty_sum("qty").alias("total_qty"),
        )
    )


# --------------------------------------------------------------------
# Clamped running balance: the canonical NOT-window-expressible fold.
# --------------------------------------------------------------------
_CLAMP_CAP = 100_000  # cents


@register(
    "clamped_running_balance",
    f"""
    WITH deltas AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(round(value*100) AS BIGINT)
                  ELSE -CAST(round(value*100) AS BIGINT) END AS delta
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) AS n_ops,
           CAST(SUM(delta) AS BIGINT) AS unclamped_cents,
           CAST(list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                               list(delta ORDER BY ts, event_id)),
                  (acc, x) -> greatest(CAST(0 AS BIGINT),
                               least(CAST({_CLAMP_CAP} AS BIGINT), acc + x)))
                AS BIGINT) AS balance_cents
    FROM deltas
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("udx", "stateful", "fold"),
)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded (clamped) running balance per user: credits (purchase/
    signup) and debits (other events) fold in time order with the
    balance clamped to [0, 1000.00] at EVERY step — the canonical
    stateful fold that NO window function can express (the clamp
    makes each step depend on the clamped previous state, not on any
    prefix aggregate; inventory with restock caps, credit wallets,
    and token-bucket rate limiters are all this shape).

    This is the (b)-tier custom-operator path from the design rules:
    a per-key ordered fold in ``applyInPandas`` (Arrow-batched, one
    shuffle on the key, linear per-key work). The oracle folds the
    same ordered delta list with DuckDB's ``list_reduce`` — exact
    integer arithmetic on both sides, so hashes match. The unclamped
    sum rides along to show where clamping actually bit.

    Scale: state is one integer per key; groups process
    independently after a single hash shuffle — the same plan at any
    SF. A group too large for one task would band by time and chain
    the per-band carry (the scan-style two-pass trick).
    """
    import pandas as pd

    # an undated or valueless event is no balance operation: a NULL
    # ts has no fold position (engines order NULLs at opposite ends)
    # and a NULL value has no delta (the Python int(NaN) raised; the
    # oracle's list_reduce NULL-poisoned instead — r9 null sweeps)
    e = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    deltas = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type").isin("purchase", "signup"),
            cents("value"),
        )
        .otherwise(-cents("value"))
        .alias("delta"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        bal = 0
        for d in pdf["delta"].to_numpy():
            bal = max(0, min(_CLAMP_CAP, bal + int(d)))
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_ops": [len(pdf)],
                "unclamped_cents": [int(pdf["delta"].sum())],
                "balance_cents": [bal],
            }
        )

    return (
        deltas.groupBy("user_id")
        .applyInPandas(
            fold,
            schema=(
                "user_id bigint, n_ops bigint, "
                "unclamped_cents bigint, balance_cents bigint"
            ),
        )
    )


# --------------------------------------------------------------------
# The same clamped fold as a PARALLEL two-pass scan (no Python).
# --------------------------------------------------------------------
_BAND_DAYS = 5


@register(
    "clamped_balance_parallel_scan",
    f"""
    WITH deltas AS (
      SELECT user_id, ts, event_id,
             epoch_us(ts) // 86400000000 // {_BAND_DAYS} AS band,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(round(value*100) AS BIGINT)
                  ELSE -CAST(round(value*100) AS BIGINT) END AS delta
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT band) AS BIGINT) AS n_bands,
           CAST(list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                               list(delta ORDER BY ts, event_id)),
                  (acc, x) -> greatest(CAST(0 AS BIGINT),
                               least(CAST({_CLAMP_CAP} AS BIGINT), acc + x)))
                AS BIGINT) AS balance_cents
    FROM deltas
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("udx", "stateful", "scan", "parallel"),
)
def clamped_balance_parallel_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The clamped running balance AGAIN — but computed by a parallel
    two-pass scan instead of a sequential fold, proving the
    'sequential-looking' operator scales. Key fact: every step
    x ↦ clamp(0, CAP, x + d) is a *clamped-affine* map (s, m, M):
    x ↦ max(m, min(M, x + s)), and those maps are CLOSED under
    composition — (g∘f) = (f.s + g.s, max(g.m, min(g.M, f.m + g.s)),
    min(g.M, f.M + g.s)) — and composition is associative. So:
    pass 1 composes each time-band's steps independently (row-local
    array fold over the band's ordered deltas, pure JVM higher-order
    functions); pass 2 composes the per-band maps in band order (a
    tiny per-user array) and applies the result to 0. Identical
    answer to the ``applyInPandas`` fold (asserted in tests AND by
    sharing its oracle), zero Python, and per-band work is
    embarrassingly parallel — the standard parallel-prefix treatment
    of any composable stateful operator (Blelloch scan).

    Scale: band count bounds the sequential part (composition chain
    per user is #bands long); bands process in parallel across the
    cluster. At 100 TB pick band width so each band's array fits a
    task — the carry composition stays a few integers per band.
    """
    # same declared exclusions as clamped_running_balance (shared
    # oracle semantics): no fold position without ts, no delta
    # without value (r9 null sweeps; the NULL band also made Spark's
    # n_bands count a band the oracle's COUNT(DISTINCT) excluded)
    e = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    deltas = e.select(
        "user_id",
        "ts",
        "event_id",
        F.expr(f"unix_micros(ts) div 86400000000 div {_BAND_DAYS}").alias(
            "band"
        ),
        F.when(
            F.col("event_type").isin("purchase", "signup"),
            cents("value"),
        )
        .otherwise(-cents("value"))
        .alias("delta"),
    )
    big = 1 << 62
    # pass 1: per (user, band) compose the band's steps in time order
    band_steps = deltas.groupBy("user_id", "band").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "delta"))
        ).alias("steps")
    )
    # fold: acc=(s,m,M); next step g=(d, 0, CAP):
    #   s' = s + d; M' = least(CAP, M + d); m' = greatest(0, least(CAP, m + d))
    band_fn = band_steps.select(
        "user_id",
        "band",
        F.size("steps").alias("n_steps"),
        F.aggregate(
            F.col("steps"),
            F.struct(
                F.lit(0).cast("long").alias("s"),
                F.lit(-big).cast("long").alias("lo"),
                F.lit(big).cast("long").alias("hi"),
            ),
            lambda acc, st: F.struct(
                (acc["s"] + st["delta"]).alias("s"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.least(
                        F.lit(_CLAMP_CAP).cast("long"),
                        acc["lo"] + st["delta"],
                    ),
                ).alias("lo"),
                F.least(
                    F.lit(_CLAMP_CAP).cast("long"), acc["hi"] + st["delta"]
                ).alias("hi"),
            ),
        ).alias("fn"),
    )
    # pass 2: compose band maps in band order, apply to 0
    user_fn = band_fn.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_bands"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("band", "fn"))),
                lambda x: x["fn"],
            ),
            F.struct(
                F.lit(0).cast("long").alias("s"),
                F.lit(-big).cast("long").alias("lo"),
                F.lit(big).cast("long").alias("hi"),
            ),
            # g∘f: s=f.s+g.s; m=max(g.m, min(g.M, f.m+g.s));
            #      M=min(g.M, f.M+g.s)   (f=acc so far, g=next band)
            lambda f, g: F.struct(
                (f["s"] + g["s"]).alias("s"),
                F.greatest(
                    g["lo"], F.least(g["hi"], f["lo"] + g["s"])
                ).alias("lo"),
                F.least(g["hi"], f["hi"] + g["s"]).alias("hi"),
            ),
        ).alias("fn"),
    )
    return user_fn.select(
        "user_id",
        "n_bands",
        F.greatest(
            F.col("fn.lo"),
            F.least(F.col("fn.hi"), F.col("fn.s")),
        ).alias("balance_cents"),
    )
