"""Data quality and governance: integrity and key audits, profiles,
checksums and fingerprints, privacy checks (k-anonymity, l-diversity,
differential privacy, PII screens, erasure) and row-level masking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.money import cents
from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


# --------------------------------------------------------------------
# DP noisy counts with an epsilon ledger (Laplace mechanism shape).
# --------------------------------------------------------------------
_DP_EPS_MILLI = 1000  # epsilon = 1.0 for this release


@register(
    "dp_noisy_counts_ledger",
    f"""
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM events GROUP BY event_type
    ), noise AS (
      SELECT event_type, n_true,
             ('0x' || substring(md5('dp:' || event_type), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM g
    )
    SELECT event_type, n_true,
           CAST(round(1000.0 * (n_true +
             (-(1000.0 / {_DP_EPS_MILLI}))
               * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
               * ln(1.0 - 2.0 * abs(u - 0.5)))) AS BIGINT)
             AS n_noisy_milli,
           CAST({_DP_EPS_MILLI} AS BIGINT) AS eps_spent_milli
    FROM noise
    ORDER BY event_type
    """,
    tags=("privacy", "dp", "agg"),
)
def dp_noisy_counts_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noisy count release with an epsilon ledger
    (Dwork et al. 2006): per-type counts (sensitivity 1) plus
    Laplace(1/ε) noise via the inverse CDF
    −(1/ε)·sgn(u−½)·ln(1−2|u−½|), ε = {EPS}. The uniform u is
    DETERMINISTIC here (md5 of the release key) so both engines and
    every rerun agree bit-for-bit — a real deployment swaps in a
    CSPRNG; the Spark-side release shape (count → calibrated noise →
    ledger row) is what this row exercises, and the ledger column
    records the privacy budget this release consumes.

    Scale shape: one map-side-combined count agg; noise is row-local
    on the #types-row summary. Nothing else touches the data.
    """
    e = t(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dp:"), F.col("event_type"))), 1, 8
        ),
        16,
        10,
    ).cast("long") / F.lit(4294967296.0)
    eps = _DP_EPS_MILLI / 1000.0
    lap = (
        -(1.0 / eps)
        * F.when(u >= 0.5, 1.0).otherwise(-1.0)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return g.select(
        "event_type",
        "n_true",
        F.round(1000.0 * (F.col("n_true") + lap))
        .cast("long")
        .alias("n_noisy_milli"),
        F.lit(_DP_EPS_MILLI).cast("long").alias("eps_spent_milli"),
    )


dp_noisy_counts_ledger.__doc__ = dp_noisy_counts_ledger.__doc__.replace(
    "{EPS}", str(_DP_EPS_MILLI / 1000.0)
)


# --------------------------------------------------------------------
# Referential-integrity audit: orphan counts for every FK edge.
# --------------------------------------------------------------------
@register(
    "fk_integrity_violations",
    """
    WITH checks AS (
      SELECT 'customer.c_nationkey->nation' AS relationship,
             COUNT(*) AS checked_rows,
             COUNT(*) FILTER (WHERE n.n_nationkey IS NULL) AS orphan_rows
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'lineitem.l_orderkey->orders',
             COUNT(*),
             COUNT(*) FILTER (WHERE o.o_orderkey IS NULL)
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
             COUNT(*),
             COUNT(*) FILTER (WHERE p.p_partkey IS NULL)
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             COUNT(*),
             COUNT(*) FILTER (WHERE s.s_suppkey IS NULL)
      FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             COUNT(*),
             COUNT(*) FILTER (WHERE c.c_custkey IS NULL)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'supplier.s_nationkey->nation',
             COUNT(*),
             COUNT(*) FILTER (WHERE n.n_nationkey IS NULL)
      FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT relationship, checked_rows, orphan_rows
    FROM checks ORDER BY relationship
    """,
    tags=("audit", "join", "validation"),
)
def fk_integrity_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the star
    schema: one broadcast left join per edge (fact side projected to
    the key column only, so the scan reads one column), conditional
    count of unmatched rows, then a tiny union of 6 one-row results.

    Scale: each check shuffles nothing on the fact side — the dim is
    broadcast and the count is a map-side partial agg. At 100 TB the
    fact-side scan is the floor; the audit rides one column scan per
    edge and the 6 checks are independent Spark jobs that can share
    the cached scan (A-05 scan sharing).
    """

    def check(fact: DataFrame, fkey: str, dim: DataFrame, pkey: str,
              rel: str) -> DataFrame:
        joined = fact.select(fkey).join(
            F.broadcast(dim.select(pkey)),
            F.col(fkey) == F.col(pkey),
            "left",
        )
        return joined.agg(
            F.lit(rel).alias("relationship"),
            F.count(F.lit(1)).alias("checked_rows"),
            F.count(F.when(F.col(pkey).isNull(), 1)).alias("orphan_rows"),
        ).select("relationship", "checked_rows", "orphan_rows")

    l = t(spark, sf_dir, "lineitem")
    checks = [
        check(t(spark, sf_dir, "customer"), "c_nationkey",
              t(spark, sf_dir, "nation"), "n_nationkey",
              "customer.c_nationkey->nation"),
        check(l, "l_orderkey", t(spark, sf_dir, "orders"), "o_orderkey",
              "lineitem.l_orderkey->orders"),
        check(l, "l_partkey", t(spark, sf_dir, "part"), "p_partkey",
              "lineitem.l_partkey->part"),
        check(l, "l_suppkey", t(spark, sf_dir, "supplier"), "s_suppkey",
              "lineitem.l_suppkey->supplier"),
        check(t(spark, sf_dir, "orders"), "o_custkey",
              t(spark, sf_dir, "customer"), "c_custkey",
              "orders.o_custkey->customer"),
        check(t(spark, sf_dir, "supplier"), "s_nationkey",
              t(spark, sf_dir, "nation"), "n_nationkey",
              "supplier.s_nationkey->nation"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# --------------------------------------------------------------------
# Column-profile expectations: one scan, long-format check results.
# --------------------------------------------------------------------
@register(
    "data_profile_orders",
    """
    WITH agg AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(*) - COUNT(o_orderkey) AS key_nulls,
             COUNT(DISTINCT o_orderkey) AS key_distinct,
             COUNT(*) - COUNT(o_totalprice) AS price_nulls,
             MIN(CAST(round(o_totalprice * 100) AS BIGINT)) AS price_min_cents,
             MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS price_max_cents,
             COUNT(*) - COUNT(o_orderdate) AS date_nulls,
             CAST(epoch(MIN(o_orderdate)) AS BIGINT) AS date_min_epoch,
             CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS date_max_epoch,
             COUNT(DISTINCT o_orderpriority) AS priority_distinct
      FROM orders
    )
    SELECT * FROM (
      SELECT 'o_orderkey' AS col, 'n_rows' AS metric, n_rows AS value FROM agg
      UNION ALL SELECT 'o_orderkey', 'n_null', key_nulls FROM agg
      UNION ALL SELECT 'o_orderkey', 'n_distinct', key_distinct FROM agg
      UNION ALL SELECT 'o_orderkey', 'is_unique',
        CASE WHEN key_distinct = n_rows - key_nulls THEN 1 ELSE 0 END FROM agg
      UNION ALL SELECT 'o_totalprice', 'n_null', price_nulls FROM agg
      UNION ALL SELECT 'o_totalprice', 'min_cents', price_min_cents FROM agg
      UNION ALL SELECT 'o_totalprice', 'max_cents', price_max_cents FROM agg
      UNION ALL SELECT 'o_orderdate', 'n_null', date_nulls FROM agg
      UNION ALL SELECT 'o_orderdate', 'min_epoch', date_min_epoch FROM agg
      UNION ALL SELECT 'o_orderdate', 'max_epoch', date_max_epoch FROM agg
      UNION ALL SELECT 'o_orderpriority', 'n_distinct', priority_distinct FROM agg
    ) ORDER BY col, metric
    """,
    tags=("audit", "profile", "validation"),
)
def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile expectation checks (null counts, ranges,
    uniqueness) computed in ONE aggregate pass over the table, then
    unpivoted to long (col, metric, value) rows — the
    great-expectations / dbt-test shape.

    Scale: a single groupBy-less agg = one scan with map-side
    partials; COUNT(DISTINCT) pairs expand to two-phase exact
    distinct. The unpivot of an 1-row aggregate is free. All metrics
    are exact BIGINTs (money → cents, timestamps → epoch seconds), so
    the hash gate is bit-exact.
    """
    o = t(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("key_nulls"),
        F.count_distinct("o_orderkey").alias("key_distinct"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("price_nulls"),
        F.min(cents("o_totalprice")).alias("price_min_cents"),
        F.max(cents("o_totalprice")).alias("price_max_cents"),
        (F.count(F.lit(1)) - F.count("o_orderdate")).alias("date_nulls"),
        F.unix_timestamp(F.min("o_orderdate")).alias("date_min_epoch"),
        F.unix_timestamp(F.max("o_orderdate")).alias("date_max_epoch"),
        F.count_distinct("o_orderpriority").alias("priority_distinct"),
    )
    is_unique = F.when(
        F.col("key_distinct") == F.col("n_rows") - F.col("key_nulls"), 1
    ).otherwise(0)
    checks = [
        ("o_orderkey", "n_rows", F.col("n_rows")),
        ("o_orderkey", "n_null", F.col("key_nulls")),
        ("o_orderkey", "n_distinct", F.col("key_distinct")),
        ("o_orderkey", "is_unique", is_unique),
        ("o_totalprice", "n_null", F.col("price_nulls")),
        ("o_totalprice", "min_cents", F.col("price_min_cents")),
        ("o_totalprice", "max_cents", F.col("price_max_cents")),
        ("o_orderdate", "n_null", F.col("date_nulls")),
        ("o_orderdate", "min_epoch", F.col("date_min_epoch")),
        ("o_orderdate", "max_epoch", F.col("date_max_epoch")),
        ("o_orderpriority", "n_distinct", F.col("priority_distinct")),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.lit(m).alias("metric"),
                v.cast("long").alias("value"),
            )
            for c, m, v in checks
        ]
    )
    return (
        agg.select(F.explode(rows).alias("r"))
        .select("r.col", "r.metric", "r.value")
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
# Distributed sequence-gap audit (missing-id ranges) without a global
# window over the full key set.
# --------------------------------------------------------------------
@register(
    "orderkey_gap_audit",
    """
    WITH k AS (
      SELECT DISTINCT o_orderkey AS key FROM orders
      WHERE o_orderstatus = 'F'
    ), l AS (
      SELECT key, lead(key) OVER (ORDER BY key) AS nxt FROM k
    )
    SELECT key + 1 AS gap_start, nxt - 1 AS gap_end,
           nxt - key - 1 AS n_missing
    FROM l WHERE nxt - key > 1
    ORDER BY gap_start
    """,
    tags=("audit", "sequence"),
)
def orderkey_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-key ranges in the completed ('F'-status) order-key
    sequence — the classic completeness audit for ingestion pipelines
    (the synthetic key space is fully dense, so the status filter is
    what gives the audit real gaps to report) — computed without ever
    sorting the full key set on one task. Keys are banded by value
    (``key div 4096``); adjacent-key pairs are examined at exactly one
    of three levels: same band → band-partitioned lead(); different
    band, same super-band (``band div 4096``) → lead() over per-band
    (min,max) summaries partitioned by super-band; different
    super-band → lead() over per-super-band summaries. Each level
    shrinks the data 4096×, so the only global window runs on
    keys/16.7M rows (60k skinny rows even at 10^12 keys; a third
    banding level in a loop covers anything beyond). The oracle is
    the straightforward global-lead SQL; results are identical.

    Scale: the only full-data shuffle is the distinct on key; every
    value-banded window is partition-parallel; empty bands fall out
    naturally because summaries exist only for non-empty bands.
    """
    k = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
        .withColumn("band", F.expr("key div 4096"))
    )
    w_band = Window.partitionBy("band").orderBy("key")
    within = (
        k.withColumn("nxt", F.lead("key").over(w_band))
        .filter(F.col("nxt") - F.col("key") > 1)
        .select("key", "nxt")
    )
    s1 = k.groupBy("band").agg(
        F.min("key").alias("band_min"), F.max("key").alias("band_max")
    ).withColumn("super", F.expr("band div 4096"))
    w_s1 = Window.partitionBy("super").orderBy("band")
    across1 = (
        s1.withColumn("next_min", F.lead("band_min").over(w_s1))
        .filter(F.col("next_min") - F.col("band_max") > 1)
        .select(
            F.col("band_max").alias("key"), F.col("next_min").alias("nxt")
        )
    )
    s2 = s1.groupBy("super").agg(
        F.min("band_min").alias("s_min"), F.max("band_max").alias("s_max")
    )
    w_s2 = Window.orderBy("super")
    across2 = (
        s2.withColumn("next_min", F.lead("s_min").over(w_s2))
        .filter(F.col("next_min") - F.col("s_max") > 1)
        .select(F.col("s_max").alias("key"), F.col("next_min").alias("nxt"))
    )
    return (
        within.unionAll(across1)
        .unionAll(across2)
        .select(
            (F.col("key") + 1).alias("gap_start"),
            (F.col("nxt") - 1).alias("gap_end"),
            (F.col("nxt") - F.col("key") - 1).alias("n_missing"),
        )
    )


# --------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers (privacy governance).
# --------------------------------------------------------------------
@register(
    "k_anonymity_audit",
    """
    WITH qi AS (
      SELECT c_nationkey AS nation,
             c_mktsegment AS segment,
             CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
             c_custkey
      FROM customer
    ), cls AS (
      SELECT nation, segment, bal_band, COUNT(*) AS class_size
      FROM qi GROUP BY nation, segment, bal_band
    )
    SELECT CAST(nation AS BIGINT) AS nation, segment,
           CAST(bal_band AS BIGINT) AS bal_band,
           CAST(class_size AS BIGINT) AS class_size,
           (class_size < 5) AS violates_k5
    FROM cls
    ORDER BY nation, segment, bal_band
    """,
    tags=("governance", "privacy", "audit"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: group the customer table by its
    quasi-identifier combination (nation, market segment, $1000
    account-balance band) and flag equivalence classes smaller than
    k=5 — the classes whose members a linkage attack can re-identify.
    The release decision (suppress / generalize further) consumes
    exactly this table; `masked_rls_customers` is the generalization
    step this audit validates.

    Scale shape: one hash aggregation on the QI tuple — the audit is
    a single shuffle at any scale; banding acctbal in exact integer
    cents keeps the class key deterministic across engines.
    """
    qi = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(
            "cast(round(c_acctbal * 100) as bigint) div 100000"
        ).alias("bal_band"),
    )
    return (
        qi.groupBy("nation", "segment", "bal_band")
        .agg(F.count("*").alias("class_size"))
        .select(
            "nation",
            "segment",
            "bal_band",
            "class_size",
            (F.col("class_size") < 5).alias("violates_k5"),
        )
    )


# --------------------------------------------------------------------
# Benford first-digit audit (fraud/data-quality screening).
# --------------------------------------------------------------------
@register(
    "benford_first_digit_audit",
    """
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ), digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM cents
    ), obs AS (
      SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM obs
    )
    SELECT digit, CAST(n AS BIGINT) AS n,
           (1000000 * n) // total AS observed_micro_x10,
           CAST(CASE digit
             WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
             WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
             WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757
           END AS BIGINT) AS benford_micro_x10,
           (1000000 * n) // total
             - CASE digit
                 WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                 WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                 WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757
               END AS deviation_micro_x10
    FROM obs CROSS JOIN tot
    ORDER BY digit
    """,
    tags=("audit", "quality", "stats"),
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screening of order totals: observed
    first-significant-digit frequencies against the Benford
    expectation log10(1+1/d), both in integer micro-proportions
    (×10⁶, floor) — the standard forensic-accounting test for
    fabricated or truncated monetary data. The expectation table is a
    fixed integer CASE (no float log in either engine); large
    |deviation| rows are the screening signal.

    Note the synthetic totals are uniform-ish, so deviations here are
    LARGE — the audit correctly reports that this corpus is not
    Benford-distributed; the operator's value is the exact,
    engine-reproducible deviation table itself.

    Scale shape: first digit extracts row-local from integer cents; a
    9-row aggregate + one scalar total broadcast back — single
    shuffle, constant-size output at any data volume.
    """
    c = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(cents("o_totalprice").alias("c"))
    )
    digits = c.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias(
            "digit"
        )
    )
    obs = digits.groupBy("digit").agg(F.count("*").alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    benford = (
        "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 "
        "WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181 "
        "WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153 "
        "WHEN 9 THEN 45757 END"
    )
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr("(1000000 * n) div total").alias("observed_micro_x10"),
            F.expr(benford).cast("long").alias("benford_micro_x10"),
            (
                F.expr("(1000000 * n) div total")
                - F.expr(benford).cast("long")
            ).alias("deviation_micro_x10"),
        )
    )


# --------------------------------------------------------------------
# Candidate-key audit (uniqueness of declared key combos).
# --------------------------------------------------------------------
@register(
    "candidate_key_audit",
    """
    SELECT 'l_orderkey' AS combo, COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
           CAST(CASE WHEN COUNT(DISTINCT l_orderkey) = COUNT(*)
                     THEN 1 ELSE 0 END AS BIGINT) AS is_key
    FROM lineitem
    UNION ALL
    -- the FILTER mirrors SQL multi-column COUNT(DISTINCT a, b)
    -- semantics (rows with ANY NULL component are not countable key
    -- values); DuckDB's (a, b) struct would count NULL-bearing rows.
    -- is_key still compares against ALL rows, so a nullable column
    -- can never certify as a key — the correct audit outcome.
    SELECT 'l_orderkey,l_linenumber', COUNT(*),
           CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) FILTER (
             l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
           ) AS BIGINT),
           CAST(CASE WHEN COUNT(DISTINCT (l_orderkey, l_linenumber))
                          FILTER (l_orderkey IS NOT NULL
                                  AND l_linenumber IS NOT NULL)
                          = COUNT(*) THEN 1 ELSE 0 END AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_partkey,l_suppkey', COUNT(*),
           CAST(COUNT(DISTINCT (l_partkey, l_suppkey)) FILTER (
             l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
           ) AS BIGINT),
           CAST(CASE WHEN COUNT(DISTINCT (l_partkey, l_suppkey))
                          FILTER (l_partkey IS NOT NULL
                                  AND l_suppkey IS NOT NULL)
                          = COUNT(*) THEN 1 ELSE 0 END AS BIGINT)
    FROM lineitem
    ORDER BY combo
    """,
    tags=("audit", "quality", "keys"),
)
def candidate_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery: for each declared key combination,
    count rows vs distinct key values and flag whether the combo is a
    true key — the audit that catches silent duplicate-key corruption
    before a MERGE or dedup trusts the key. Checks the single column
    (a guaranteed NON-key on a line-level table), the composite line
    key, and the part-supplier pair — and in this synthetic data the
    audit earns its keep: even (orderkey, linenumber) turns out
    non-unique, exactly the silent assumption it exists to catch.

    Scale: each check is one map-side-combined distinct-count — at
    100 TB swap exact COUNT(DISTINCT) for the registry's HLL sketch
    state when an approximate uniqueness ratio suffices, same plan.
    The three checks scan the table independently so Spark can share
    the cached scan; a single-pass variant would pay the distinct
    expansion for all combos through one exchange instead.
    """
    li = t(spark, sf_dir, "lineitem")

    def check(combo: str, *cols: str) -> DataFrame:
        nd = F.countDistinct(*[F.col(c) for c in cols]).cast("long")
        return li.agg(
            F.lit(combo).alias("combo"),
            F.count("*").alias("n_rows"),
            nd.alias("n_distinct"),
            F.when(nd == F.count("*"), 1).otherwise(0).cast("long").alias(
                "is_key"
            ),
        )

    return (
        check("l_orderkey", "l_orderkey")
        .unionByName(
            check("l_orderkey,l_linenumber", "l_orderkey", "l_linenumber")
        )
        .unionByName(check("l_partkey,l_suppkey", "l_partkey", "l_suppkey"))
    )


# --------------------------------------------------------------------
# Column-level fingerprints (which column changed between snapshots?).
# --------------------------------------------------------------------
_FP_COLS = (
    ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_totalprice", "CAST(CAST(round(o_totalprice*100) AS BIGINT) AS VARCHAR)"),
)


@register(
    "column_fingerprint_audit",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS column_name,
           COUNT({sql_expr}) AS n_nonnull,
           CAST(bit_xor(('0x' || substring(
                 md5('{name}:' || {sql_expr}), 1, 15))::BIGINT) AS BIGINT)
             AS fingerprint
    FROM orders"""
        for name, sql_expr in _FP_COLS
    )
    + "\nORDER BY column_name",
    tags=("audit", "checksum", "lineage"),
)
def column_fingerprint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-COLUMN order-independent fingerprints: XOR of md5-derived
    64-bit hashes of each column's canonicalized values (money as
    exact cents). Where the registry's row-level table checksum says
    *whether* two snapshots differ, the column fingerprints say
    *which column* drifted — the first question of any lineage or
    replication-integrity investigation. XOR state is mergeable
    across partitions/days and maintainable under updates (XOR the
    old value out, the new value in).

    Scale: one scan; each fingerprint is a map-side-combined XOR
    aggregate — constant state per column, no shuffle of values.
    Caveat (by construction of XOR): a value appearing an even
    number of times cancels out, so pair this with the row-count /
    n_nonnull columns it carries.
    """
    o = t(spark, sf_dir, "orders")
    spark_exprs = {
        "o_orderkey": F.col("o_orderkey").cast("string"),
        "o_custkey": F.col("o_custkey").cast("string"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_totalprice": F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .cast("string"),
    }
    # ONE aggregation row carries every column's (count, xor) pair,
    # then explodes to the per-column output — the previous
    # agg-per-column union scanned orders once PER COLUMN (static
    # audit: 4 scans; d scans for a d-column profile), which is the
    # wrong shape for a drift audit whose whole point is one cheap
    # pass over each snapshot
    aggs = []
    for name, _ in _FP_COLS:
        sval = spark_exprs[name]
        aggs.append(F.count(sval).alias(f"n_{name}"))
        aggs.append(
            F.expr(
                "bit_xor(CAST(conv(substring(md5("
                f"concat('{name}:', {_spark_sql_expr(name)})"
                "), 1, 15), 16, 10) AS BIGINT))"
            ).alias(f"f_{name}")
        )
    cells = [
        F.struct(
            F.lit(name).alias("column_name"),
            F.col(f"n_{name}").alias("n_nonnull"),
            F.col(f"f_{name}").alias("fingerprint"),
        )
        for name, _ in _FP_COLS
    ]
    return (
        o.agg(*aggs)
        .select(F.explode(F.array(*cells)).alias("cell"))
        .select("cell.column_name", "cell.n_nonnull", "cell.fingerprint")
    )


def _spark_sql_expr(name: str) -> str:
    """Spark-SQL string form of the canonical value (for bit_xor agg,
    which has no DataFrame-function wrapper)."""
    return {
        "o_orderkey": "CAST(o_orderkey AS STRING)",
        "o_custkey": "CAST(o_custkey AS STRING)",
        "o_orderstatus": "o_orderstatus",
        "o_totalprice": (
            "CAST(CAST(round(o_totalprice*100) AS BIGINT) AS STRING)"
        ),
    }[name]


# --------------------------------------------------------------------
# Out-of-order arrival audit (streaming watermark sizing input).
# --------------------------------------------------------------------
@register(
    "out_of_order_audit",
    """
    WITH seq AS (
      SELECT event_type, ts,
             lag(ts) OVER (PARTITION BY event_type ORDER BY event_id)
               AS prev_ts
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END) AS BIGINT)
             AS n_backward,
           CAST(round(1000.0 * SUM(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS backward_milli,
           CAST(COALESCE(MAX(CASE WHEN ts < prev_ts
                    THEN epoch_us(prev_ts) - epoch_us(ts) END), 0)
                AS BIGINT) AS max_backward_us
    FROM seq
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("diagnostics", "streaming", "audit"),
)
def out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit: treating event_id as arrival order,
    count how often event time steps BACKWARD within each type and
    the worst backward jump in microseconds — exactly the disorder
    measurement that sizes a streaming watermark (the max backward
    jump is the lateness bound a `withWatermark` must cover to drop
    nothing).

    Scale: one lag window per type partition and one agg on the same
    partitioning — a single shuffle, no global ordering.
    """
    e = t(spark, sf_dir, "events")
    seq = e.select(
        "event_type",
        "ts",
        F.lag("ts")
        .over(Window.partitionBy("event_type").orderBy("event_id"))
        .alias("prev_ts"),
    )
    backward = F.when(F.col("ts") < F.col("prev_ts"), 1).otherwise(0)
    return (
        seq.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(backward).cast("long").alias("n_backward"),
            F.round(1000.0 * F.sum(backward) / F.count("*"))
            .cast("long")
            .alias("backward_milli"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("ts") < F.col("prev_ts"),
                        F.unix_micros("prev_ts") - F.unix_micros("ts"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("max_backward_us"),
        )
    )


# --------------------------------------------------------------------
# Inclusion-dependency (FK candidate) discovery by containment.
# --------------------------------------------------------------------
@register(
    "fk_containment_discovery",
    """
    WITH pairs AS (
      SELECT 'orders.o_custkey->customer.c_custkey' AS pair,
             (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS child_keys,
             (SELECT COUNT(*) FROM (
                SELECT DISTINCT o_custkey FROM orders
                WHERE o_custkey IN (SELECT c_custkey FROM customer)))
               AS contained
      UNION ALL
      SELECT 'lineitem.l_partkey->part.p_partkey',
             (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
             (SELECT COUNT(*) FROM (
                SELECT DISTINCT l_partkey FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part)))
      UNION ALL
      SELECT 'events.user_id->customer.c_custkey',
             (SELECT COUNT(DISTINCT user_id) FROM events),
             (SELECT COUNT(*) FROM (
                SELECT DISTINCT user_id FROM events
                WHERE user_id IN (SELECT c_custkey FROM customer)))
    )
    SELECT pair,
           CAST(child_keys AS BIGINT) AS child_keys,
           CAST(contained AS BIGINT) AS contained,
           CAST(round(1000.0 * contained / child_keys) AS BIGINT)
             AS containment_milli,
           CAST(CASE WHEN contained = child_keys THEN 1 ELSE 0 END
                AS BIGINT) AS is_inclusion
    FROM pairs
    ORDER BY pair
    """,
    tags=("audit", "discovery", "keys"),
)
def fk_containment_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency discovery (the SPIDER/Bell–Brockhausen
    question): for each candidate FK edge, what fraction of the
    child's distinct keys exist in the parent — containment 1000‰
    means the edge is a valid foreign key; anything less localizes
    referential corruption before a join silently drops rows. The
    complement of `fk_integrity_violations` (which counts violating
    ROWS; this ranks candidate EDGES).

    Scale: each edge costs a distinct on the child side and a
    LEFT SEMI join against the parent keys (broadcast when the
    parent is a dimension) — the same state an ANALYZE-style stats
    collector gathers, and trivially parallel across edges.
    """

    def edge(pair: str, child, ckey: str, parent, pkey: str):
        ck = child.select(F.col(ckey).alias("k")).distinct()
        pk = parent.select(F.col(pkey).alias("k"))
        # count("k") not count("*"): the distinct table keeps a NULL
        # row when the FK is nullable, but COUNT(DISTINCT key) — and
        # FK containment itself — is defined over non-NULL keys (a
        # NULL FK violates nothing; r9 null sweep, same class as the
        # r8-advice NDV fix)
        n = ck.agg(
            F.count("k").alias("child_keys"),
        )
        inn = ck.join(pk.distinct(), "k", "semi").agg(
            F.count("*").alias("contained")
        )
        return (
            n.crossJoin(F.broadcast(inn))
            .select(
                F.lit(pair).alias("pair"),
                F.col("child_keys").cast("long"),
                F.col("contained").cast("long"),
                # try_divide: zero distinct child keys (empty child
                # table) → NULL milli like the oracle's x/0
                F.round(
                    F.try_divide(
                        1000.0 * F.col("contained"), F.col("child_keys")
                    )
                )
                .cast("long")
                .alias("containment_milli"),
                F.when(F.col("contained") == F.col("child_keys"), 1)
                .otherwise(0)
                .cast("long")
                .alias("is_inclusion"),
            )
        )

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    e = t(spark, sf_dir, "events")
    return (
        edge(
            "orders.o_custkey->customer.c_custkey", o, "o_custkey", c,
            "c_custkey",
        )
        .unionByName(
            edge(
                "lineitem.l_partkey->part.p_partkey", li, "l_partkey", p,
                "p_partkey",
            )
        )
        .unionByName(
            edge(
                "events.user_id->customer.c_custkey", e, "user_id", c,
                "c_custkey",
            )
        )
    )


# ------------------------------------------------------------------
# Luhn checksum screen.
# ------------------------------------------------------------------
_PAN_LEN = 16


def _sql_luhn_sum(pan: str) -> str:
    """16-term mod-10 sum, doubling every second digit from the
    right (left positions 1,3,..,15 for a 16-digit string)."""
    terms = []
    for i in range(1, _PAN_LEN + 1):
        d = f"CAST(substring({pan}, {i}, 1) AS BIGINT)"
        if i % 2 == 1:  # position from right = 17-i is even → doubled
            terms.append(
                f"(CASE WHEN 2*{d} > 9 THEN 2*{d} - 9 ELSE 2*{d} END)"
            )
        else:
            terms.append(d)
    return " + ".join(terms)


def _spark_luhn_sum(pan: Column) -> Column:
    total = F.lit(0).cast("long")
    for i in range(1, _PAN_LEN + 1):
        d = F.substring(pan, i, 1).cast("long")
        if i % 2 == 1:
            term = F.when(2 * d > 9, 2 * d - 9).otherwise(2 * d)
        else:
            term = d
        total = total + term
    return total


@register(
    "luhn_checksum_screen",
    f"""
    WITH cand AS (
      SELECT o_orderpriority,
             lpad(CAST((o_orderkey * 1000003 + o_custkey * 97)
                       % 10000000000000000 AS VARCHAR),
                  {_PAN_LEN}, '0') AS pan
      FROM orders
    ), v AS (
      SELECT o_orderpriority,
             CASE WHEN ({_sql_luhn_sum('pan')}) % 10 = 0
                  THEN 1 ELSE 0 END AS ok
      FROM cand
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(ok) AS BIGINT) AS n_valid,
           CAST(round(1000.0 * SUM(ok) / COUNT(*)) AS BIGINT)
             AS valid_permille
    FROM v GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("governance", "pii", "checksum"),
)
def luhn_checksum_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn mod-10 checksum validation (Luhn 1960; ISO/IEC 7812) over
    a derived 16-digit candidate column: double every second digit
    from the right, subtract 9 when the double exceeds 9, and accept
    when the digit sum is divisible by 10 — the validity screen a PII
    detector applies to regexp-extracted card-number candidates to
    cut false positives ~10x (a random digit string passes with
    p=0.1). Candidates here are deterministic order-key derivations
    (the synthetic corpus has no real digit runs); the validation
    algebra is the deployable part. Reports per order priority the
    candidate count, Luhn-valid count, and valid rate (permille).

    Scale shape: the 16-term checksum is pure row-local integer
    expression work inside whole-stage codegen (no UDF, no shuffle);
    the only exchange is the final map-side-combined groupBy over 5
    priority groups. Variable-length candidates would use the same
    algebra via F.aggregate over a reversed digit array.
    """
    o = t(spark, sf_dir, "orders")
    pan = F.lpad(
        (
            (F.col("o_orderkey") * 1000003 + F.col("o_custkey") * 97)
            % F.lit(10_000_000_000_000_000).cast("long")
        ).cast("string"),
        _PAN_LEN,
        "0",
    )
    ok = F.when(
        _spark_luhn_sum(pan) % 10 == 0, 1
    ).otherwise(0)
    return (
        o.select("o_orderpriority", ok.alias("ok"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("ok").cast("long").alias("n_valid"),
            F.round(1000.0 * F.sum("ok") / F.count(F.lit(1)))
            .cast("long")
            .alias("valid_permille"),
        )
    )


# ------------------------------------------------------------------
# l-diversity audit over (nation, balance-band) classes.
# ------------------------------------------------------------------
_LDIV_L = 3


@register(
    "l_diversity_audit",
    f"""
    WITH qi AS (
      SELECT c_nationkey AS nation,
             CAST(round(c_acctbal * 100) AS BIGINT) // 100000
               AS bal_band,
             c_mktsegment AS sensitive
      FROM customer
    ), cls AS (
      SELECT nation, bal_band,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l_distinct
      FROM qi GROUP BY nation, bal_band
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           CAST(bal_band AS BIGINT) AS bal_band,
           class_size, l_distinct,
           (l_distinct < {_LDIV_L}) AS violates_l{_LDIV_L}
    FROM cls ORDER BY nation, bal_band
    """,
    tags=("governance", "privacy", "audit"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al. 2007):
    group customers by the quasi-identifier pair (nation, $1000
    balance band) and count DISTINCT market segments — the sensitive
    attribute — per class; classes with fewer than l={L} distinct
    values are flagged, because a linkage attacker who pins a victim
    to such a class learns their segment even when the class is
    k-large (the homogeneity attack k-anonymity misses — this row is
    the follow-on check to `k_anonymity_audit`, which uses segment
    as a QI instead). Counts are exact; banding is integer cents.

    Scale shape: one hash aggregation on the QI tuple with a
    distinct-count — a single shuffle at any scale.
    """
    qi = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.expr(
            "cast(round(c_acctbal * 100) as bigint) div 100000"
        ).alias("bal_band"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    return (
        qi.groupBy("nation", "bal_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("class_size"),
            F.countDistinct("sensitive").cast("long").alias("l_distinct"),
        )
        .select(
            "nation",
            "bal_band",
            "class_size",
            "l_distinct",
            (F.col("l_distinct") < _LDIV_L).alias(
                f"violates_l{_LDIV_L}"
            ),
        )
    )


# --------------------------------------------------------------------
# Order-independent table checksum (data validation).
# --------------------------------------------------------------------
@register(
    "table_checksum_by_flag",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           BIT_XOR(('0x' || substring(md5(
             COALESCE(CAST(l_orderkey AS VARCHAR), '<NULL>') || '|' ||
             COALESCE(CAST(l_linenumber AS VARCHAR), '<NULL>') || '|' ||
             COALESCE(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
               AS VARCHAR), '<NULL>')
           ), 1, 15))::BIGINT) AS checksum
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "validation"),
)
def table_checksum_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: XOR-fold of a 60-bit
    per-row content hash, grouped by return flag. XOR is commutative/
    associative with no overflow, so the checksum is identical for any
    row order, partitioning, or engine — the cheap way to certify two
    100 TB copies (or a migration) match without sorting anything.

    NULL encoding is EXPLICIT (`<NULL>` sentinel per field): concat_ws
    silently skips null operands, so (NULL, 2, x) and (2, x) hashed
    identically — a checksum that cannot distinguish NULL from absent
    is not a checksum (r9 null sweep; the oracle's || chain instead
    nulled the whole row hash, dropping the row from the XOR).
    """
    li = t(spark, sf_dir, "lineitem")
    row_str = F.concat_ws(
        "|",
        F.coalesce(F.col("l_orderkey").cast("string"), F.lit("<NULL>")),
        F.coalesce(F.col("l_linenumber").cast("string"), F.lit("<NULL>")),
        F.coalesce(cents("l_extendedprice").cast("string"), F.lit("<NULL>")),
    )
    row_hash = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.bit_xor(row_hash).alias("checksum"),
        )
    )
