"""Round-2 coverage batch: exact re-aggregatable bitmap distinct,
inverse-distribution percentiles (percentile_disc), corpus token
entropy, co-purchase association rules (support/confidence/lift),
URL / key-value / XML scalar parsing, and array set algebra.

Reference parity note: none of these exist in the reference (its
scalar work happens inside opaque user mappers,
`/root/reference/interfaces.go:17-27`) — north-star extensions per
SURVEY.md §2 Part B.

Scale posture: bitmap distinct is the MERGEABLE exact-distinct path
(day-level partials OR-merge to any coarser grain without rescanning —
the Apache Spark 3.5 bitmap_* functions); the pair-mining query blocks
by order so fanout is bounded by basket size; every parse query is
row-local (whole-stage codegen, zero shuffles before the final agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import ascii_fold

from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


# --------------------------------------------------------------------
# Exact distinct via mergeable bitmaps (HLL's exact sibling).
# --------------------------------------------------------------------
@register(
    "bitmap_distinct_users",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("agg", "sketch"),
    # bounded by the event-type domain
    sort="tiny_sorted",
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT DISTINCT computed as mergeable bitmap partials:
    per-partition (type, bucket) bitmaps built map-side by
    ``bitmap_construct_agg`` (whose partial buffers OR-merge across
    partitions inside the one shuffle — the same merge
    ``bitmap_or_agg`` exposes for persisted state), then
    ``sum(bitmap_count)`` per type. The re-aggregatable pattern at
    100 TB keeps bitmap state at the storage grain (e.g. per day) and
    answers any coarser grain by ``bitmap_or_agg`` without rescanning
    raw data. The oracle is the plain COUNT(DISTINCT): bitmaps are
    exact, so hashes match.

    Two aggs, not three: an earlier form materialized an explicit
    day grain first — a third exchange that adds no information when
    the query answers the type grain directly (0.26→0.19 s at sf0.1;
    the remaining gap to the 9 ms DuckDB twin is per-action floor,
    not plan shape)."""
    e = t(spark, sf_dir, "events")
    partials = e.groupBy(
        "event_type",
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    return (
        partials.groupBy("event_type").agg(
            F.sum(F.bitmap_count("bm")).alias("distinct_users")
        )
    )


# --------------------------------------------------------------------
# Inverse-distribution percentiles (actual-value quantiles).
# --------------------------------------------------------------------
@register(
    "percentile_disc_order_prices",
    """
    SELECT o_orderstatus,
           CAST(quantile_disc(CAST(round(o_totalprice*100) AS BIGINT), 0.25)
                AS BIGINT) AS p25_cents,
           CAST(quantile_disc(CAST(round(o_totalprice*100) AS BIGINT), 0.50)
                AS BIGINT) AS median_cents,
           CAST(quantile_disc(CAST(round(o_totalprice*100) AS BIGINT), 0.75)
                AS BIGINT) AS p75_cents,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg", "stats"),
)
def percentile_disc_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_disc (inverse distribution: returns an ACTUAL data
    value, unlike percentile_cont's interpolation) over integer order
    cents — exact, hash-safe. Spark 3.4+ WITHIN GROUP syntax."""
    o = t(spark, sf_dir, "orders")
    o.select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).createOrReplaceTempView("_pd_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS p25_cents,
               CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS median_cents,
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS p75_cents,
               COUNT(*) AS n
        FROM _pd_orders
        GROUP BY o_orderstatus
        """
    )


# --------------------------------------------------------------------
# Token-distribution entropy per source (text analysis).
# --------------------------------------------------------------------
@register(
    "entropy_tokens_by_source",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS w
      FROM documents
    ),
    counts AS (
      SELECT source, w, COUNT(*) AS c
      FROM tok WHERE w <> '' GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS vocab,
           round(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS entropy_nats
    FROM counts
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "stats"),
)
def entropy_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's unigram distribution via
    H = ln(N) - Σ c·ln(c) / N — one explode + two grouped aggs, both
    with map-side partials. Rounded to 6 dp for cross-engine float
    parity (the Σ c·ln c term is a float sum)."""
    d = t(spark, sf_dir, "documents")
    counts = (
        d.select(
            "source",
            F.explode(F.split(ascii_fold("text"), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    return (
        counts.groupBy("source")
        .agg(
            n.alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.round(
                F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 6
            ).alias("entropy_nats"),
        )
    )


# --------------------------------------------------------------------
# Co-purchase association rules: support / confidence / lift.
# --------------------------------------------------------------------
@register(
    "copurchase_lift_top50",
    """
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    totals AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket),
    item AS (
      SELECT l_partkey, COUNT(*) AS n1 FROM basket GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n12
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT p1, p2, n12,
           CAST(n12 AS DOUBLE) / t.n_orders AS support,
           CAST(n12 AS DOUBLE) / i1.n1 AS confidence,
           CAST(n12 AS DOUBLE) * t.n_orders / (i1.n1 * i2.n1) AS lift
    FROM pairs
    JOIN item i1 ON i1.l_partkey = p1
    JOIN item i2 ON i2.l_partkey = p2
    CROSS JOIN totals t
    ORDER BY n12 DESC, p1, p2
    LIMIT 50
    """,
    tags=("join", "mining"),
)
def copurchase_lift_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-pair mining with association metrics. The self-join is
    blocked on l_orderkey (fanout bounded by basket size, never a
    cross join); item counts broadcast back onto the pair table; the
    order-count scalar is a 1-row broadcast. Top-50 by raw pair count
    with a deterministic (n12, p1, p2) tiebreak."""
    # persisted: the distinct (order, part) basket feeds FOUR plan
    # branches (order-count scalar, item counts, both self-join
    # sides) — without the cache each branch re-ran the lineitem
    # scan + distinct (static audit: 5 scans -> 1); the cache is the
    # 2-column deduped basket, the table the whole mine runs on
    basket = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist()
    )
    n_orders = basket.select(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    item = basket.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n1"))
    a, b = basket.alias("a"), basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("n12"))
    )
    i1 = item.select(F.col("l_partkey").alias("p1"), F.col("n1").alias("c1"))
    i2 = item.select(F.col("l_partkey").alias("p2"), F.col("n1").alias("c2"))
    return (
        pairs.join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "n12",
            (F.col("n12").cast("double") / F.col("n_orders")).alias("support"),
            (F.col("n12").cast("double") / F.col("c1")).alias("confidence"),
            (
                F.col("n12").cast("double")
                * F.col("n_orders")
                / (F.col("c1") * F.col("c2"))
            ).alias("lift"),
        )
        .orderBy(F.desc("n12"), "p1", "p2")
        .limit(50)
    )


# --------------------------------------------------------------------
# URL + key-value string parsing (parse_url, str_to_map).
# --------------------------------------------------------------------
@register(
    "url_kv_parse_events",
    """
    WITH urls AS (
      SELECT event_type, user_id,
             'https://shop.example.com/' || event_type || '/'
               || (event_id % 100)
               || '?user=' || user_id
               || '&v=' || CAST(round(value) AS BIGINT) AS url
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(regexp_extract(url, 'user=(\\d+)', 1) AS BIGINT))
             AS BIGINT) AS sum_user_param,
           -- v is a SIGNED integer (large negative values render a
           -- minus sign into the URL); TRY_CAST nulls a non-match
           -- instead of erroring on '' (r10 extreme axis)
           CAST(SUM(TRY_CAST(regexp_extract(url, 'v=(-?\\d+)', 1) AS BIGINT))
             AS BIGINT) AS sum_v_param,
           COUNT(DISTINCT regexp_extract(url, 'https://[^/]+(/[^?]*)', 1))
             AS distinct_paths
    FROM urls
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("scalar", "text"),
)
def url_kv_parse_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with `parse_url` (HOST/PATH/QUERY/param) and
    query-string → MapType via `str_to_map` — all row-local JVM
    expressions inside whole-stage codegen. The oracle re-derives the
    same components with regexes, so the parse path itself is what's
    being checked."""
    e = t(spark, sf_dir, "events")
    urls = e.select(
        "event_type",
        F.concat(
            F.lit("https://shop.example.com/"),
            F.col("event_type"),
            F.lit("/"),
            (F.col("event_id") % 100).cast("string"),
            F.lit("?user="),
            F.col("user_id").cast("string"),
            F.lit("&v="),
            F.round("value").cast("long").cast("string"),
        ).alias("url"),
    )
    kv = F.str_to_map(F.parse_url("url", F.lit("QUERY")), F.lit("&"), F.lit("="))
    return (
        urls.select(
            "event_type",
            F.parse_url("url", F.lit("PATH")).alias("path"),
            F.parse_url("url", F.lit("QUERY"), F.lit("user"))
            .cast("long")
            .alias("user_param"),
            kv.getItem("v").cast("long").alias("v_param"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_param").alias("sum_user_param"),
            F.sum("v_param").alias("sum_v_param"),
            F.count_distinct("path").alias("distinct_paths"),
        )
    )


# --------------------------------------------------------------------
# XML parsing (from_xml, Spark 4.0 native XML support).
# --------------------------------------------------------------------
@register(
    "xml_parse_orders",
    """
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MAX(o_orderkey) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    tags=("scalar", "format"),
)
def xml_parse_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest path: serialize each order to an XML fragment, parse
    it back with `from_xml` (native XML, Spark 4.0), and aggregate the
    PARSED fields — proving schema-directed extraction round-trips.
    Row-local; the oracle aggregates the original columns."""
    o = t(spark, sf_dir, "orders")

    # a NULL field must become an OMITTED tag (parses back to NULL),
    # not poison the whole fragment: plain concat() null-propagates,
    # so one NULL field nulled the entire XML and every OTHER field's
    # value vanished from the aggregates with it (r9 null sweep)
    def tag(name: str, col):
        return F.when(
            col.isNotNull(),
            F.concat(
                F.lit(f"<{name}>"), col.cast("string"), F.lit(f"</{name}>")
            ),
        ).otherwise(F.lit(""))

    xml = F.concat(
        F.lit("<o>"),
        tag("k", F.col("o_orderkey")),
        tag("p", F.col("o_orderpriority")),
        tag("t", F.round(F.col("o_totalprice") * 100).cast("long")),
        F.lit("</o>"),
    )
    parsed = o.select(
        F.from_xml(xml, "k BIGINT, p STRING, t BIGINT").alias("x")
    ).select("x.k", "x.p", "x.t")
    return (
        parsed.groupBy(F.col("p").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("t").alias("sum_cents"),
            F.max("k").alias("max_key"),
        )
    )


# --------------------------------------------------------------------
# Array set algebra (intersect / except / overlap) per group.
# --------------------------------------------------------------------
@register(
    "array_set_ops_order_brands",
    """
    WITH brands AS (
      SELECT l_orderkey,
             list_sort(list_distinct(list(p_brand))) AS brands
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(len(brands) AS BIGINT) AS n_brands,
           COALESCE(array_to_string(
             list_sort(list_intersect(brands, ['Brand#1', 'Brand#2'])), ','),
             '') AS common,
           CAST(len(list_filter(brands,
                 x -> NOT list_contains(['Brand#1', 'Brand#2'], x)))
             AS BIGINT) AS n_other,
           list_has_any(brands, ['Brand#1', 'Brand#2']) AS hits_target
    FROM brands
    WHERE l_orderkey % 7 = 0
    ORDER BY l_orderkey
    """,
    tags=("scalar", "array"),
)
def array_set_ops_order_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra over per-order brand sets: array_intersect /
    array_except / arrays_overlap against a constant target set, with
    sort_array canonicalization for cross-engine hash parity. The
    dimension join broadcasts; set ops are row-local codegen."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    target = F.array(F.lit("Brand#1"), F.lit("Brand#2"))
    brands = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )
    return (
        brands.filter(F.col("l_orderkey") % 7 == 0)
        .select(
            "l_orderkey",
            F.size("brands").cast("long").alias("n_brands"),
            F.array_join(
                F.sort_array(F.array_intersect("brands", target)), ","
            ).alias("common"),
            F.size(F.array_except("brands", target)).cast("long").alias("n_other"),
            F.arrays_overlap("brands", target).alias("hits_target"),
        )
    )


# --------------------------------------------------------------------
# Governance view: row-level security + masking + pseudonymization.
# --------------------------------------------------------------------
@register(
    "masked_rls_customers",
    """
    SELECT c_custkey,
           repeat('*', len(c_name) - 4) || right(c_name, 4) AS name_masked,
           md5(c_name) AS name_pseudonym,
           CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_bucket,
           c_mktsegment
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND c_acctbal >= 0
    ORDER BY c_custkey
    """,
    tags=("governance", "scalar"),
)
def masked_rls_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governed view over customers: row-level security (segment +
    balance predicate), column masking (all but the last 4 name
    chars), join-safe pseudonymization (md5 — equality survives,
    identity doesn't), and value generalization (balance bucketed to
    $1000). All row-local expressions — the RLS predicate pushes down
    to the parquet scan, so the governed view costs the same as the
    raw one."""
    c = t(spark, sf_dir, "customer")
    return (
        c.filter(
            F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
            & (F.col("c_acctbal") >= 0)
        )
        .select(
            "c_custkey",
            F.concat(
                F.repeat(F.lit("*"), F.length("c_name") - 4),
                F.substring(F.col("c_name"), -4, 4),
            ).alias("name_masked"),
            F.md5(F.col("c_name").cast("binary")).alias("name_pseudonym"),
            (F.floor(F.col("c_acctbal") / 1000) * 1000)
            .cast("long")
            .alias("acctbal_bucket"),
            "c_mktsegment",
        )
    )


# --------------------------------------------------------------------
# Map algebra: map_from_entries → map_zip_with → transform_values.
# --------------------------------------------------------------------
@register(
    "map_algebra_priority_shift",
    """
    WITH c AS (
      SELECT n_name,
             o_orderpriority AS pri,
             COUNT(*) FILTER (WHERE o_orderdate <  TIMESTAMP '1997-01-01')
               AS n_old,
             COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1997-01-01')
               AS n_new
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      WHERE o_orderpriority IS NOT NULL
      GROUP BY n_name, o_orderpriority
    )
    SELECT n_name, pri, n_old, n_new, n_new - n_old AS delta
    FROM c
    WHERE n_old > 0 OR n_new > 0
    ORDER BY n_name, pri
    """,
    tags=("scalar", "map"),
)
def map_algebra_priority_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType algebra end-to-end: per-nation priority→count maps for
    two periods built with map_from_entries(collect_list(struct)),
    combined with map_zip_with (aligned per-key arithmetic), then
    exploded back to sorted rows. The oracle computes the rows
    relationally — what's under test is that the map pipeline
    round-trips the same data. Maps stay bounded (5 priorities), so
    per-row map values never grow with data size."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    cut = F.lit("1997-01-01").cast("timestamp")
    # a map key cannot be NULL (Spark raises NULL_MAP_KEY; r9 null
    # sweep) — unprioritized orders carry no map entry, both sides
    base = (
        o.where(F.col("o_orderpriority").isNotNull())
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count(F.when(F.col("o_orderdate") < cut, 1)).alias("n_old"),
            F.count(F.when(F.col("o_orderdate") >= cut, 1)).alias("n_new"),
        )
    )
    maps = base.groupBy("n_name").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("pri", "n_old")))
        ).alias("m_old"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("pri", "n_new")))
        ).alias("m_new"),
    )
    combined = maps.select(
        "n_name",
        F.map_zip_with(
            "m_old",
            "m_new",
            lambda k, old, new: F.struct(
                F.coalesce(old, F.lit(0)).alias("n_old"),
                F.coalesce(new, F.lit(0)).alias("n_new"),
                (F.coalesce(new, F.lit(0)) - F.coalesce(old, F.lit(0))).alias(
                    "delta"
                ),
            ),
        ).alias("m"),
    )
    return (
        combined.select("n_name", F.explode("m").alias("pri", "v"))
        .select("n_name", "pri", "v.n_old", "v.n_new", "v.delta")
        .filter((F.col("n_old") > 0) | (F.col("n_new") > 0))
    )


_RECURSIVE_CHAIN_SQL = """
    WITH RECURSIVE edges AS (
      SELECT child.n_nationkey AS child,
             MAX(parent.n_nationkey) AS parent
      FROM nation child
      JOIN nation parent
        ON parent.n_regionkey = child.n_regionkey
       AND parent.n_nationkey < child.n_nationkey
      GROUP BY child.n_nationkey
    ),
    chain AS (
      SELECT n.n_nationkey AS nationkey,
             n.n_nationkey AS root,
             0 AS depth
      FROM nation n
      WHERE n.n_nationkey NOT IN (SELECT child FROM edges)
      UNION ALL
      SELECT e.child AS nationkey, c.root, c.depth + 1 AS depth
      FROM chain c JOIN edges e ON e.parent = c.nationkey
    )
    SELECT c.nationkey, c.root, c.depth, n.n_name
    FROM chain c JOIN nation n ON n.n_nationkey = c.nationkey
    ORDER BY c.nationkey
"""


@register(
    "recursive_cte_nation_chains",
    _RECURSIVE_CHAIN_SQL,
    tags=("sql", "graph", "recursive"),
)
def recursive_cte_nation_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (Spark 4.0 SQL): walk per-region nation
    chains (each nation's parent = the region's next-smaller key) and
    emit depth + chain root. Identical recursive SQL runs on DuckDB —
    the engine parity point is that hierarchy expansion no longer
    needs a driver-side loop (contrast dedup_clusters_minhash, which
    predates this and iterates in Python). Iteration count is bounded
    by the longest chain; each step is a hash join on the (tiny) edge
    table."""
    from filemapreduce_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_CHAIN_SQL)


# --------------------------------------------------------------------
# Join-strategy hints: result-invariant physical control.
# --------------------------------------------------------------------
@register(
    "join_hint_shuffle_hash",
    """
    SELECT s_nationkey,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
    tags=("join", "hints"),
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE_HASH join hint: forces a shuffled hash join where
    Catalyst would pick broadcast or sort-merge — the escape hatch
    when the 'small' side exceeds driver/executor broadcast memory but
    a sort on the big side is still wasteful (hash beats merge when
    one side fits a task's memory and the output needn't be
    key-sorted). The hint changes ONLY the physical strategy — the
    oracle proves result invariance."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier").hint("shuffle_hash")
    joined = li.join(s, li.l_suppkey == s.s_suppkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan[:500]
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
    )


# --------------------------------------------------------------------
# Merkle-style two-level partition checksums (replica diffing).
# --------------------------------------------------------------------
@register(
    "merkle_partition_checksums",
    """
    SELECT l_returnflag,
           CASE WHEN GROUPING(strftime(l_shipdate, '%Y-%m')) = 1
                THEN NULL ELSE strftime(l_shipdate, '%Y-%m') END AS month,
           CASE WHEN GROUPING(strftime(l_shipdate, '%Y-%m')) = 1
                THEN 'root' ELSE 'leaf' END AS level,
           COUNT(*) AS n,
           BIT_XOR(('0x' || substring(md5(
             COALESCE(CAST(l_orderkey AS VARCHAR), '<NULL>') || '|' ||
             COALESCE(CAST(l_linenumber AS VARCHAR), '<NULL>') || '|' ||
             COALESCE(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
               AS VARCHAR), '<NULL>')
           ), 1, 15))::BIGINT) AS checksum
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag),
                            (l_returnflag, strftime(l_shipdate, '%Y-%m')))
    ORDER BY l_returnflag, level, month
    """,
    tags=("agg", "validation"),
)
def merkle_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style checksum tree: leaf checksums per (flag, month)
    partition AND root checksums per flag from ONE scan: rows are
    hashed and folded into leaves once, and roots are the XOR of the
    leaf checksums (associativity) — the raw data is never read or
    aggregated twice. Two replicas diff by comparing
    roots first, then descending only into mismatched subtrees —
    O(changed partitions) re-verification instead of O(table) at
    100 TB."""
    li = t(spark, sf_dir, "lineitem")
    month = F.date_format("l_shipdate", "yyyy-MM")
    # explicit <NULL> sentinel per field: concat_ws silently SKIPS
    # null operands, making (NULL, x) and (x) hash identically — a
    # checksum must encode NULL distinctly (r9 null sweep; same fix
    # as table_checksum_by_flag)
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.coalesce(
                        F.col("l_orderkey").cast("string"), F.lit("<NULL>")
                    ),
                    F.coalesce(
                        F.col("l_linenumber").cast("string"),
                        F.lit("<NULL>"),
                    ),
                    F.coalesce(
                        F.round(F.col("l_extendedprice") * 100)
                        .cast("long")
                        .cast("string"),
                        F.lit("<NULL>"),
                    ),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    # the test parquet is one row group (one scan task); round-robin
    # split the skinny key columns BEFORE the md5 fold so hashing uses
    # every core. On a real multi-file table the scan already
    # parallelizes and this repartition is a cheap no-op-equivalent.
    skinny = li.select(
        "l_returnflag",
        month.alias("month"),
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
    ).repartition(li.sparkSession.sparkContext.defaultParallelism)
    base = skinny.select(
        "l_returnflag", "month", row_hash.alias("rh")
    )
    # leaves aggregate the raw rows ONCE; roots re-aggregate the tiny
    # leaf table (XOR associativity) — cheaper than grouping sets,
    # whose Expand would double the rows flowing into the aggregate
    # persist the (tiny) leaf table: BOTH union branches read it, and
    # without materialization each branch would re-scan + re-hash the
    # raw rows (the plan showed the md5 subtree twice)
    leaves = (
        base.groupBy("l_returnflag", "month")
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("rh").alias("checksum"))
        .persist()
    )
    roots = leaves.groupBy("l_returnflag").agg(
        F.sum("n").alias("n"), F.bit_xor("checksum").alias("checksum")
    )
    return (
        leaves.select(
            "l_returnflag",
            "month",
            F.lit("leaf").alias("level"),
            "n",
            "checksum",
        )
        .unionByName(
            roots.select(
                "l_returnflag",
                F.lit(None).cast("string").alias("month"),
                F.lit("root").alias("level"),
                "n",
                "checksum",
            )
        )
    )


# --------------------------------------------------------------------
# Fact-to-SCD2 join (point-in-interval dimension lookup).
# --------------------------------------------------------------------
@register(
    "fact_to_scd2_join",
    """
    WITH signup AS (
      SELECT user_id, ts, event_id,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS segment
      FROM events WHERE event_type = 'signup'
    ), marked AS (
      SELECT *, CASE WHEN lag(segment) OVER w IS DISTINCT FROM segment
                     THEN 1 ELSE 0 END AS chg
      FROM signup WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS version
      FROM marked
    ), dim AS (
      SELECT user_id, version, segment,
             MIN(ts) AS valid_from,
             LEAD(MIN(ts)) OVER (PARTITION BY user_id ORDER BY MIN(ts))
               AS valid_to
      FROM runs GROUP BY user_id, version, segment
    )
    SELECT d.segment,
           COUNT(*) AS n_purchases,
           COUNT(DISTINCT f.user_id) AS n_users,
           CAST(SUM(CAST(round(f.value*100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events f
    JOIN dim d
      ON d.user_id = f.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    WHERE f.event_type = 'purchase'
    GROUP BY d.segment
    ORDER BY d.segment
    """,
    tags=("join", "temporal", "cdc"),
)
def fact_to_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval dimension lookup: purchases join the SCD2
    segment history derived from signup events (valid_from = run
    start, valid_to = next run's start, open-ended last version) —
    the warehouse pattern for 'which dimension version was current
    when this fact happened'. The join is an equi-join on user_id
    with the interval predicate as a residual filter: one shuffle,
    never a cross join, and each user's intervals are non-overlapping
    by construction so each fact matches at most one version."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    signup = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        "event_id",
        (F.get_json_object("props", "$.k").try_cast("long") / 25)
        .cast("long")
        .alias("segment"),
    )
    runs = signup.withColumn(
        "chg",
        F.when(
            ~F.lag("segment").over(w).eqNullSafe(F.col("segment")), 1
        ).otherwise(0),
    ).withColumn("version", F.sum("chg").over(wrun))
    grouped = runs.groupBy("user_id", "version", "segment").agg(
        F.min("ts").alias("valid_from")
    )
    wd = Window.partitionBy("user_id").orderBy("valid_from")
    dim = grouped.withColumn("valid_to", F.lead("valid_from").over(wd))
    f = e.filter(F.col("event_type") == "purchase").alias("f")
    d = dim.alias("d")
    return (
        f.join(
            d,
            (F.col("d.user_id") == F.col("f.user_id"))
            & (F.col("f.ts") >= F.col("d.valid_from"))
            & (
                F.col("d.valid_to").isNull()
                | (F.col("f.ts") < F.col("d.valid_to"))
            ),
        )
        .groupBy("d.segment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count_distinct(F.col("f.user_id")).alias("n_users"),
            F.sum(F.round(F.col("f.value") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select(
            F.col("segment"), "n_purchases", "n_users", "sum_cents"
        )
    )


# --------------------------------------------------------------------
# GDPR erasure audit (cascading delete accounting).
# --------------------------------------------------------------------
@register(
    "gdpr_erasure_audit",
    """
    WITH del AS (
      SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 97 = 0
    ),
    del_orders AS (
      SELECT o.o_orderkey, d.c_nationkey
      FROM orders o JOIN del d ON d.c_custkey = o.o_custkey
    )
    SELECT n_name,
           (SELECT COUNT(*) FROM del d2 WHERE d2.c_nationkey = n_nationkey)
             AS customers_erased,
           (SELECT COUNT(*) FROM del_orders o2
            WHERE o2.c_nationkey = n_nationkey) AS orders_erased,
           (SELECT COUNT(*) FROM del_orders o2
             JOIN lineitem l ON l.l_orderkey = o2.o_orderkey
            WHERE o2.c_nationkey = n_nationkey) AS lineitems_erased
    FROM nation
    WHERE EXISTS (SELECT 1 FROM del d3 WHERE d3.c_nationkey = n_nationkey)
    ORDER BY n_name
    """,
    tags=("governance", "join"),
)
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure accounting: for a deletion list (synthetic:
    custkey % 97 = 0), count the cascade — customers, their orders,
    and those orders' line items — per nation, BEFORE any delete runs.
    The delete list broadcasts down the FK chain (customer → orders →
    lineitem), which is exactly how a 100 TB erasure job scopes its
    rewrite to affected files; pair with write_clustered on the key so
    the rewrite touches few files."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    n = t(spark, sf_dir, "nation")
    dele = c.filter(F.col("c_custkey") % 97 == 0).select(
        "c_custkey", "c_nationkey"
    )
    cust_per_nation = dele.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("customers_erased")
    )
    del_orders = o.join(F.broadcast(dele), o.o_custkey == dele.c_custkey).select(
        "o_orderkey", "c_nationkey"
    )
    orders_per_nation = del_orders.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("orders_erased")
    )
    li_per_nation = (
        li.join(F.broadcast(del_orders), li.l_orderkey == del_orders.o_orderkey)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("lineitems_erased"))
    )
    return (
        cust_per_nation.join(orders_per_nation, "c_nationkey", "left")
        .join(li_per_nation, "c_nationkey", "left")
        .join(F.broadcast(n), cust_per_nation.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "customers_erased",
            F.coalesce("orders_erased", F.lit(0)).alias("orders_erased"),
            F.coalesce("lineitems_erased", F.lit(0)).alias("lineitems_erased"),
        )
    )


# --------------------------------------------------------------------
# Error-safe expressions: try_divide / try_cast / try_add.
# --------------------------------------------------------------------
@register(
    "try_arithmetic_safety",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN CAST(round(value*100) AS BIGINT) - 500 = 0
                    THEN NULL
                    ELSE CAST(trunc(CAST(round(value*100) AS BIGINT) * 100.0
                         / (CAST(round(value*100) AS BIGINT) - 500)) AS BIGINT)
               END) AS BIGINT) AS sum_safe_ratio,
           COUNT(*) FILTER (WHERE CAST(round(value*100) AS BIGINT) = 500)
             AS n_div_zero,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("scalar", "errors"),
)
def try_arithmetic_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic: `try_divide` yields NULL instead of
    erroring on division by zero, `try_cast` swallows malformed
    values — the row-level error policy a 100 TB pipeline needs
    (one dirty row must not kill a stage; the FILTER count is the
    dead-letter metric). Integer division semantics are pinned with
    `div` so both engines produce identical BIGINTs."""
    e = t(spark, sf_dir, "events")
    cents_v = F.round(F.col("value") * 100).cast("long")
    denom = cents_v - 500
    safe_ratio = F.expr(
        "try_divide(CAST(round(value*100) AS BIGINT) * 100, "
        "CAST(round(value*100) AS BIGINT) - 500)"
    )
    # pin to integer floor-division parity: DuckDB BIGINT / BIGINT is
    # integer division; Spark try_divide is double — use div instead
    safe_ratio = F.when(
        denom == 0, F.lit(None).cast("long")
    ).otherwise(F.expr("(CAST(round(value*100) AS BIGINT) * 100) div (CAST(round(value*100) AS BIGINT) - 500)"))
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(safe_ratio).alias("sum_safe_ratio"),
            F.count(F.when(cents_v == 500, 1)).alias("n_div_zero"),
            F.sum(
                F.get_json_object("props", "$.k").try_cast("long")
            ).alias("sum_k"),
        )
    )


# --------------------------------------------------------------------
# Regex function family: extract_all / count / substr positions.
# --------------------------------------------------------------------
@register(
    "regexp_family_documents",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT)
             AS n_number_runs,
           CAST(SUM(CASE WHEN regexp_matches(text, '[A-Z]{2,}')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_acronyms,
           CAST(SUM(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\bthe\\b')))
             AS BIGINT) AS n_the_mentions
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("scalar", "text", "regex"),
)
def regexp_family_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function family over documents: regexp_extract_all (all
    matches, not just the first), regexp_count, and rlike — the
    text-mining scalar kit. All row-local JVM regex evaluation inside
    codegen; one grouped agg with map-side partials."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.size(F.regexp_extract_all("text", F.lit("[0-9]+")))
            ).alias("n_number_runs"),
            F.sum(
                F.when(F.col("text").rlike("[A-Z]{2,}"), 1).otherwise(0)
            ).alias("n_docs_with_acronyms"),
            F.sum(
                F.regexp_count(ascii_fold("text"), F.lit(r"\bthe\b"))
            ).alias("n_the_mentions"),
        )
    )


# --------------------------------------------------------------------
# Count-Min frequency sketch (mergeable heavy-hitter state).
# --------------------------------------------------------------------
@register(
    "countmin_heavy_hitters",
    """
    WITH ev AS (
      SELECT user_id FROM events
    ), hashed AS (
      SELECT user_id, d.d,
             ('0x' || substring(md5(CAST(d.d AS VARCHAR) || ':'
                || CAST(user_id AS VARCHAR)), 1, 4))::INT % 1024 AS b
      FROM ev CROSS JOIN (SELECT unnest(range(4)) AS d) d
    ), cells AS (
      SELECT d, b, COUNT(*) AS cell_n FROM hashed GROUP BY d, b
    ), hh AS (
      SELECT user_id, COUNT(*) AS exact_n
      FROM ev GROUP BY user_id
      ORDER BY exact_n DESC, user_id LIMIT 20
    ), probes AS (
      SELECT h.user_id, h.exact_n, d.d,
             ('0x' || substring(md5(CAST(d.d AS VARCHAR) || ':'
                || CAST(h.user_id AS VARCHAR)), 1, 4))::INT % 1024 AS b
      FROM hh h CROSS JOIN (SELECT unnest(range(4)) AS d) d
    )
    SELECT p.user_id, p.exact_n,
           CAST(MIN(c.cell_n) AS BIGINT) AS cms_est,
           CAST(MIN(c.cell_n) - p.exact_n AS BIGINT) AS overcount
    FROM probes p JOIN cells c ON c.d = p.d AND c.b = p.b
    GROUP BY p.user_id, p.exact_n
    ORDER BY exact_n DESC, user_id
    """,
    tags=("agg", "sketch", "incremental"),
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) as a mergeable
    DataFrame state: a depth-4 × width-1024 grid of integer counters
    (cell = count of rows hashing there), probed for the exact top-20
    heavy hitters. Unlike HLL, every bit of the sketch is plain
    integer arithmetic on md5-derived buckets, so the oracle
    recomputes the IDENTICAL estimate — the exact count, the CMS
    estimate, and the (provably non-negative) overcount all
    hash-match across engines at any scale.

    Scale shape: the sketch build is one map-side-combined agg to
    4096 cells (the 4× hashed fanout folds before the shuffle);
    cells are additive, so per-partition / per-day sketches merge by
    cell-wise sum without touching raw data — the same rollup
    contract as the bitmap and HLL states. Probing joins the
    broadcast 4096-row grid."""
    ev = t(spark, sf_dir, "events").select("user_id")

    def bucket(d: int, key):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{d}:"), key.cast("string"))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            % 1024
        )

    # r11: hash per USER, not per event — the per-user event counts
    # (already needed for the exact heavy-hitter side) are computed
    # first, and each cell's count is the SUM of its users' counts,
    # so the 4-way md5 fanout runs over |users| rows instead of
    # |events| rows (guide §2.3: aggregate before you fan out; the
    # md5s were ~4x|events| of pure per-row CPU for identical cells)
    ucnt = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .persist()
    )
    hashed = ucnt.select(
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        bucket(d, F.col("user_id")).alias("b"),
                    )
                    for d in range(4)
                ]
            )
        ).alias("db"),
    ).select("exact_n", "db.d", "db.b")
    cells = hashed.groupBy("d", "b").agg(
        F.sum("exact_n").cast("long").alias("cell_n")
    )
    hh = ucnt.orderBy(F.desc("exact_n"), "user_id").limit(20)
    probes = hh.select(
        "user_id",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        bucket(d, F.col("user_id")).alias("b"),
                    )
                    for d in range(4)
                ]
            )
        ).alias("db"),
    ).select("user_id", "exact_n", "db.d", "db.b")
    return (
        probes.join(F.broadcast(cells), ["d", "b"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cell_n").cast("long").alias("cms_est"))
        .select(
            "user_id",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).cast("long").alias(
                "overcount"
            ),
        )
    )
