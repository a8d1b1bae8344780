"""Round-5 coverage batch 6: graph connectivity, data-governance
checksum screening, and LLM masking-plan plumbing.

Reference parity: none of these exist in the reference (its surface
stops at scan/filter/map/reduce, `/root/reference/interfaces.go`);
north-star extension rows for SURVEY.md §2 Part B.

- Connected components by iterative min-label propagation — the
  general-graph completion of the repo's graph family (triangles,
  PageRank, bounded BFS, k-core): entity-resolution clusters, dedup
  groups and audience islands all reduce to it.
- Luhn checksum screen (Luhn 1960, ISO/IEC 7812): the mod-10
  double-every-second-digit check behind PAN/IMEI validation — the
  exact-arithmetic core of a PII/credit-card detector, run over a
  deterministically derived 16-digit candidate column (the test
  corpus has no real digit runs; a live deployment swaps in
  regexp-extracted candidates, the validation algebra is identical).
- MLM masking plan (Devlin et al. 2019, BERT §3.1): the 15% /
  80-10-10 mask-random-keep token selection, derived from a content
  hash so the plan is reproducible across runs and engines — the
  per-document masking ledger a training pipeline materializes next
  to the tokenized corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.operators.textops import SQL_WORDS, words
from filemapreduce_spark.sources.tables import load_table as t

# ------------------------------------------------------------------
# Connected components (iterative min-label propagation).
# ------------------------------------------------------------------
_CC_MOD = 7  # part-key filter keeping the co-purchase graph sparse
_CC_MAX_ITERS = 64  # >> any plausible diameter of the test graphs


@register(
    "connected_components_minlabel",
    f"""
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_partkey % {_CC_MOD} = 0
    ), e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), adj AS (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), nodes AS (
      SELECT DISTINCT l_partkey AS node FROM li
    ), walk(node, lbl) AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT a.v AS node, w.lbl
      FROM walk w JOIN adj a ON a.u = w.node
      WHERE w.lbl < a.v
    )
    SELECT node, CAST(MIN(lbl) AS BIGINT) AS comp
    FROM walk GROUP BY node ORDER BY node
    """,
    tags=("graph", "iterative", "components"),
)
def connected_components_minlabel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected components of the sparse part co-purchase graph
    (parts with key % {M} = 0, edges = co-occurrence in an order) by
    iterative min-label propagation: every node starts labeled with
    its own id and repeatedly takes the minimum of its own and its
    neighbors' labels until a fixpoint — the converged label is the
    component's minimum node id, exactly what the recursive-CTE
    oracle computes. Convergence is detected from the global label
    SUM: labels only ever decrease, so an unchanged sum IS the
    fixpoint (one cheap 1-row action per round, no change-count
    join). Each round localCheckpoints the label state, keeping plan
    depth constant however many rounds run (the kmeans/PageRank
    discipline).

    Scale shape: per round one equi-join labels⨝adjacency (shuffle on
    node id, both sides partitioned identically) + a map-side-
    combined min-agg. Rounds = graph diameter; at 100 TB with
    long-chain graphs the same loop drops in large-star/small-star
    rewiring (Kiveris et al. 2014) to force O(log n) rounds — the
    per-round dataflow shape is unchanged.
    """
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % _CC_MOD == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
    )
    adj = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()  # materialize once; reused every round
    labels = li.select(F.col("l_partkey").alias("node")).distinct()
    labels = labels.select(
        "node", F.col("node").alias("lbl")
    ).localCheckpoint()
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(_CC_MAX_ITERS):
        nbr = (
            adj.join(labels, adj["u"] == labels["node"])
            .groupBy("v")
            .agg(F.min("lbl").alias("nlbl"))
        )
        labels = (
            labels.join(nbr, labels["node"] == nbr["v"], "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components_minlabel: no fixpoint within "
            f"{_CC_MAX_ITERS} rounds — graph diameter exceeds the cap"
        )
    return labels.select(
        "node", F.col("lbl").cast("long").alias("comp")
    )


connected_components_minlabel.__doc__ = (
    connected_components_minlabel.__doc__.replace("{M}", str(_CC_MOD))
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
# MLM masking plan (BERT 15% / 80-10-10).
# ------------------------------------------------------------------
_MLM_SEL = 9830  # floor(0.15 * 65536): select 15% of tokens
_MLM_MASK = 52429  # floor(0.80 * 65536) of selected → [MASK]
_MLM_RAND = 58982  # floor(0.90 * 65536) of selected → random token


@register(
    "mlm_masking_plan",
    f"""
    WITH doc AS (
      SELECT doc_id, {SQL_WORDS} AS ws FROM documents
    ), tok AS (
      SELECT doc_id, i, ws[i] AS tok
      FROM doc, unnest(range(1, len(ws) + 1)) AS u(i)
    ), h AS (
      SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
               || CAST(i AS VARCHAR) || ':' || tok), 1, 4))::INT AS h1,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
               || CAST(i AS VARCHAR) || ':' || tok), 5, 4))::INT AS h2
      FROM tok
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN h1 < {_MLM_SEL} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
           CAST(SUM(CASE WHEN h1 < {_MLM_SEL} AND h2 < {_MLM_MASK}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mask,
           CAST(SUM(CASE WHEN h1 < {_MLM_SEL} AND h2 >= {_MLM_MASK}
                AND h2 < {_MLM_RAND} THEN 1 ELSE 0 END) AS BIGINT)
                AS n_random,
           CAST(SUM(CASE WHEN h1 < {_MLM_SEL} AND h2 >= {_MLM_RAND}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM h GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "masking", "training-prep"),
)
def mlm_masking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT masked-language-model masking plan (Devlin et al. 2019
    §3.1): select 15% of each document's tokens by content hash
    (first 16 md5 bits of doc_id:position:token), then split the
    selected set 80/10/10 into [MASK] / random-replacement / keep
    by the next 16 md5 bits — a fully deterministic, engine-portable
    masking ledger (re-runs and backfills mask the exact same
    positions). Reports per document the token count and the
    selected/mask/random/keep counts.

    Scale shape: posexplode + row-local md5 + one map-side-combined
    groupBy(doc_id) — tokens never shuffle raw (only the per-doc
    partial counts do). The hash-bucket thresholds are exact integer
    compares on the same 16-bit lanes in both engines.
    """
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(words("text")).alias("pos", "tok")
    )
    key = F.concat_ws(
        ":",
        F.col("doc_id").cast("string"),
        (F.col("pos") + 1).cast("string"),
        F.col("tok"),
    )
    md5 = F.md5(key)
    h1 = F.conv(F.substring(md5, 1, 4), 16, 10).cast("int")
    h2 = F.conv(F.substring(md5, 5, 4), 16, 10).cast("int")
    sel = h1 < _MLM_SEL
    return (
        tok.select(
            "doc_id",
            sel.cast("int").alias("is_sel"),
            (sel & (h2 < _MLM_MASK)).cast("int").alias("is_mask"),
            (sel & (h2 >= _MLM_MASK) & (h2 < _MLM_RAND))
            .cast("int")
            .alias("is_rand"),
            (sel & (h2 >= _MLM_RAND)).cast("int").alias("is_keep"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("is_sel").cast("long").alias("n_selected"),
            F.sum("is_mask").cast("long").alias("n_mask"),
            F.sum("is_rand").cast("long").alias("n_random"),
            F.sum("is_keep").cast("long").alias("n_keep"),
        )
    )
