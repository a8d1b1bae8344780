#!/usr/bin/env python
"""Build the adversarial sweep fixtures: the ten oracle tables rebuilt
into a boundary regime, written as the same ten parquet files so both
engines see byte-identical input.

Usage: python scripts/fixtures.py <axis> [out_dir] [src_sf_dir]
       python scripts/fixtures.py sparse [out_dir] [src_sf_dir] [pct]
       (out_dir defaults to the axis's /tmp dir in DEFAULT_OUT;
        src_sf_dir to sf0.001, sf0.01 for skew)
Then:  python scripts/driver_sim.py <out_dir>

Every axis runs the same loop: read each table, rewrite it, write it
(DuckDB COPY), then print a self-audit: per rewritten column, how many
of its rows hold one of the spec's values (`hit/total`). Two kinds of
axis:

  column rewrites  table -> {column: (pct, [SQL literal, ...])}.
                   Row choice is row-order hash-based (row_number *
                   Knuth constant mod 100 < pct; `dup` wraps it in
                   DuckDB hash(), see DUP), so the fixture is
                   reproducible with no seed store. Each column gets
                   a DIFFERENT hash stream (salted by `i`, its ordinal
                   among the table's sorted spec columns) so the masks
                   don't coincide row-for-row; an independently salted
                   stream (+31) picks the rotation slot, so every
                   literal appears on every selected column. Literals
                   are cast to the column's type from the parquet
                   SCHEMA (DESCRIBE), not a typeof() over row 1 — an
                   empty source table has no row 1 (fetchone() ->
                   None -> TypeError). pct 100 writes the value with
                   no CASE around it. Primary keys are never
                   rewritten, so row counts are the source's.
  row filters      `sparse` and `n1` keep a subset of rows, values
                   untouched.
"""

from __future__ import annotations

import os
import sys

import duckdb

TESTDATA = "/root/testdata"
KNUTH = 2654435761

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_OUT = {
    "constval": "/tmp/sfconst",
    "dup": "/tmp/sfdup",
    "extreme": "/tmp/sfextreme",
    "n1": "/tmp/sfn1",
    "null_keys": "/tmp/sfnullkeys",
    "null_measures": "/tmp/sfnullmeas",
    "null_mixed": "/tmp/sfnullmix",
    "null_text": "/tmp/sftextnull",
    "skew": "/tmp/sfskew",
    "sparse": "/tmp/sfsparse",
    "unicode": "/tmp/sfunicode",
}


def _lits(strings: list[str]) -> list[str]:
    return ["'" + s.replace("'", "''") + "'" for s in strings]


# ---------------------------------------------------------------------
# null_* (round-9 sweep axes 15a/15b): the constructed-boundary regime
# the r8 verdict named next — NULL group/join keys everywhere nullable,
# and all-NULL measure columns.
#
#   null_keys      25% of rows get NULL in every FK / grouping /
#                  dimension column, 10% in every timestamp column.
#                  Measures are untouched. Exercises: NULL-group rows
#                  (GROUP BY makes a NULL group in BOTH engines but
#                  downstream joins drop it asymmetrically), join-key
#                  NULL semantics (equi joins drop NULL=NULL, null-safe
#                  <=> keeps it), window ORDER BY over NULL ordering
#                  keys (RANGE frames put NULLs in their own frame),
#                  NULL date bucketing.
#   null_measures  every additive measure column is 100% NULL, keys are
#                  untouched. Groups EXIST but every SUM/AVG/STDDEV/
#                  CORR/PERCENTILE over them is NULL: the regime where
#                  ANSI Spark raises (divide by a NULL-propagated 0),
#                  returns NaN where DuckDB returns NULL, or where a
#                  COALESCE(x, 0) on one side only silently fabricates
#                  a zero the other side doesn't have.
#   null_mixed     BOTH at once, partially: the null_keys rates on
#                  keys/timestamps PLUS 30% NULL on every measure
#                  column. The interaction regime the pure variants
#                  cannot reach: per-group aggregates where SOME values
#                  are NULL (a multi-column IGNORE NULLS can mix fields
#                  from different rows; skipna sums disagree with
#                  NULL-propagating ones), NULL measures on rows whose
#                  keys are also NULL, partial windows.
#   null_text      20% NULL documents.text and events.props, everything
#                  else untouched. The LLM-pipeline payload regime:
#                  Python boundaries crash on None (UDTF .split,
#                  bytes(None), astype(int64) on NaN), VFS/blob
#                  builders encode None, corpus statistics (BM25
#                  n_docs/avgdl) count textless docs their token
#                  explode excludes.
# ---------------------------------------------------------------------

# null_keys: column -> null percentage, per table
NULL_KEYS: dict[str, dict[str, int]] = {
    "customer": {"c_nationkey": 25, "c_mktsegment": 25},
    "supplier": {"s_nationkey": 25},
    "part": {"p_brand": 25, "p_type": 25},
    "orders": {
        "o_custkey": 25,
        "o_orderstatus": 25,
        "o_orderpriority": 25,
        "o_orderdate": 10,
    },
    "lineitem": {
        "l_partkey": 25,
        "l_suppkey": 25,
        "l_returnflag": 25,
        "l_linestatus": 25,
        "l_shipdate": 10,
        # l_orderkey at a LOWER rate: it's the spine of most TPC-H
        # joins — 10% NULL exercises the join-drop asymmetry without
        # hollowing out every downstream fixture
        "l_orderkey": 10,
    },
    "events": {
        "user_id": 25,
        "event_type": 25,
        "ts": 10,
    },
    "documents": {"lang": 25, "source": 25},
    "embeddings": {"label": 25},
}

# the additive measure columns (null_measures, null_mixed)
MEASURES: dict[str, tuple[str, ...]] = {
    "customer": ("c_acctbal",),
    "supplier": ("s_acctbal",),
    "part": ("p_retailprice", "p_size"),
    "orders": ("o_totalprice",),
    "lineitem": (
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    ),
    "events": ("value",),
    "documents": ("n_chars",),
}


def _nulls(*pcts: dict[str, dict[str, int]]) -> dict:
    """Merge table -> {column: pct} maps into one NULL rewrite spec."""
    spec: dict[str, dict] = {}
    for p in pcts:
        for t, cols in p.items():
            spec.setdefault(t, {}).update(
                {c: (pct, ["NULL"]) for c, pct in cols.items()}
            )
    return spec


def _measures(pct: int) -> dict[str, dict[str, int]]:
    return {t: dict.fromkeys(cs, pct) for t, cs in MEASURES.items()}


# ---------------------------------------------------------------------
# constval: every numeric MEASURE column overwritten by one constant
# (keys, dates, text untouched). Groups keep n >= 2 but all spread
# collapses to exactly 0 — the regime the n=1 fixture cannot reach
# (there n-1 = 0 NULLs the variance first): correlation / OLS-slope /
# z-score / rank-correlation denominators are 0 with WELL-DEFINED
# variances, which DuckDB NULLs (double/0) while an unguarded ANSI
# Spark plan raises or IEEE-NaNs.
# ---------------------------------------------------------------------

CONSTVAL: dict[str, dict[str, tuple[int, list[str]]]] = {
    "customer": {"c_acctbal": (100, ["100.00"])},
    "supplier": {"s_acctbal": (100, ["100.00"])},
    "part": {"p_retailprice": (100, ["50.00"]), "p_size": (100, ["10"])},
    "orders": {"o_totalprice": (100, ["100.00"])},
    "lineitem": {
        "l_quantity": (100, ["10"]),
        "l_extendedprice": (100, ["100.00"]),
        "l_discount": (100, ["0.05"]),
        "l_tax": (100, ["0.02"]),
    },
    "events": {"value": (100, ["5.0"])},
}

# ---------------------------------------------------------------------
# extreme (round-10 sweep axis): numeric magnitudes at the edges of the
# engine contract, pushed through the integer-cents / micro-nat
# quantize-then-accumulate paths, plus pre-epoch and far-future
# timestamps through the bucketing math. Per column class, 5% of rows
# are replaced with a rotation of boundary values:
#
#   money DOUBLEs     ±1e12 (8 orders above TPC-H domain; cents stay
#                     within BIGINT through every fixture-scale sum),
#                     sub-cent 0.005/-0.005, and -0.0 (signed-zero
#                     rendering/compare class)
#   rates (disc/tax)  domain edges 0.0 / 1.0 / 0.9999 (zero-revenue,
#                     division-by-(1-d) and log1p edges)
#   l_quantity        1e9 / 0.001 / -0.0 (products with price stay
#                     within DOUBLE; qty*100 cents stay within BIGINT)
#   events.value      ±1e12, 5e-324 (denormal), 1e-15, ±0.0 — the
#                     float-contract column (moments, EWMA, z-scores,
#                     entropy/surprisal micro-nats)
#   n_chars BIGINT    2^62 and 2^62+41 — a SUM of two of these
#                     overflows BIGINT: the 100 TB-real class where
#                     Spark ANSI raises while DuckDB widens to HUGEINT;
#                     queries must carry DECIMAL(38)/DOUBLE sufficient
#                     statistics instead
#   p_size INT32      2147483647 (int32 max through averages/buckets)
#   timestamps        1900-01-07 (pre-epoch: negative unix time through
#                     floor-division bucketing), 1969-12-31 23:59:59
#                     (epoch-1s), 2250-01-01 (ns-epoch ~8.8e18, inside
#                     int64-ns/pandas range with headroom for +90d
#                     window arithmetic)
# ---------------------------------------------------------------------

MONEY = ["1e12", "-1e12", "0.005", "-0.005", "-0.0"]
RATE = ["0.0", "1.0", "0.9999"]
QTY = ["1e9", "0.001", "-0.0"]
VALUE = ["1e12", "-1e12", "5e-324", "1e-15", "-0.0", "0.0"]
NCHARS = ["4611686018427387904", "4611686018427387945"]
SIZE32 = ["2147483647"]
TS = [
    "TIMESTAMP '1900-01-07 03:04:05'",
    "TIMESTAMP '1969-12-31 23:59:59'",
    "TIMESTAMP '2250-01-01 12:00:00'",
]

EXTREME: dict[str, dict[str, tuple[int, list[str]]]] = {
    # supplier has only 10 rows at sf0.001 — 5% would hash-select
    # zero rows; 30% guarantees the small-dim table participates
    "customer": {"c_acctbal": (5, MONEY)},
    "supplier": {"s_acctbal": (30, MONEY)},
    "part": {"p_retailprice": (5, MONEY), "p_size": (5, SIZE32)},
    "orders": {
        "o_totalprice": (5, MONEY),
        "o_orderdate": (5, TS),
    },
    "lineitem": {
        "l_extendedprice": (5, MONEY),
        "l_quantity": (5, QTY),
        "l_discount": (5, RATE),
        "l_tax": (5, RATE),
        "l_shipdate": (5, TS),
    },
    "events": {"value": (5, VALUE), "ts": (5, TS)},
    "documents": {"n_chars": (5, NCHARS)},
}

# ---------------------------------------------------------------------
# unicode (round-10 sweep axis): multi-byte, combining-mark,
# zero-width, astral-plane, case-folding-unstable, and empty-string
# payloads pushed through every tokenizer, shingler, regex counter,
# Levenshtein head, URL/JSON parser and casing path — the text classes
# where Java (Spark) and utf8proc (DuckDB) string semantics have
# historically diverged.
#
#   documents.text   30% of rows get one of 14 adversarial payloads
#                    (below); n_chars is re-synced to length(text) for
#                    EVERY row so the metadata column never contradicts
#                    the payload.
#   customer.c_name  20% unicode names (diacritics, CJK, quotes,
#                    empty) — the Levenshtein / fuzzy-pair head.
#   supplier.s_name  30% (10-row table) same rotation.
#   part.p_name      20% — regex/LIKE filter surface.
#   events.props     25% unicode JSON (multi-byte values, \\uXXXX
#                    escapes, unicode keys, ZWSP inside values) — the
#                    VARIANT/get_json_object surface; all VALID JSON.
#
# Payload classes in the text rotation: NFC vs NFD (same glyphs,
# different code points), CJK without word boundaries, emoji ZWJ
# families + flags (astral plane, 4-byte UTF-8), zero-width spaces
# inside "words", RTL Arabic, fullwidth forms (digits that \\d must NOT
# match), EMPTY STRING (the ''-vs-NULL axis), German sharp-s (upper()
# changes the LENGTH), dotless/dotted I (Turkish casing trap), combining
# enclosing marks, math alphanumerics, a 1000-char 2-gram repetition
# (rolling-hash/winnowing stress), ligatures, and a mixed-script word.
# ---------------------------------------------------------------------

UNICODE_TEXTS = [
    # NFC latin diacritics
    "héllo wörld café naïve résumé",
    # NFD: same glyphs as café but combining marks
    "café étoile èlève déjà vu",
    # CJK, no spaces: whitespace tokenizers must yield ONE token
    "日本語のテキストです。"
    "漢字とひらがな。",
    # emoji ZWJ family + flag + skin tone (astral, 4-byte UTF-8)
    "\U0001f469‍\U0001f469‍\U0001f467‍\U0001f466 emoji "
    "\U0001f1fa\U0001f1f8 flags \U0001f3f3️‍\U0001f308 "
    "\U0001f44d\U0001f3fd done",
    # zero-width spaces INSIDE words
    "zero​width​joined words he‌re an‍d there",
    # RTL arabic
    "العربية نص "
    "من اليمين right to left",
    # fullwidth forms: \d and [0-9] must not match １２３
    "ＦＵＬＬＷＩＤＴＨ "
    "ｔｅｘｔ １２３ digits",
    # EMPTY string: the ''-vs-NULL boundary
    "",
    # sharp-s and casing-unstable: upper('ß') = 'SS' (longer)
    "straße groß FUẞBALL ßß",
    # dotted/dotless I (the Turkish trap), final sigma
    "İstanbul ışık İ ΣΤΙ"
    "ΓΜΑΣ στιγμας",
    # math alphanumerics (astral) + enclosing marks
    "\U0001d518\U0001d52b\U0001d526\U0001d520\U0001d52c\U0001d521"
    "\U0001d522 \U0001d5d4\U0001d5ee\U0001d5cd\U0001d5f5 a⃝ b⃣",
    # pathological 2-gram repetition, 1000 chars
    "ab" * 500,
    # ligatures + digraphs
    "ﬃcient ﬂight ﬁnd ǳone Ĳsselmeer "
    "ﬆreet",
    # mixed-script single word + NBSP-separated tokens
    "abcдеф中文xyz one two three",
]

UNICODE_NAMES = [
    "Müller#000042",
    "日本株式会社",
    "Ånna''Quóte",
    "",
    "François Østergård",
    "\U0001f3ed Factory ™",
]

UNICODE_PROPS = [
    '{"k":"café","device":"üphone"}',
    '{"cat":"日本語","n":1,"ok":true}',
    '{"emoji":"\U0001f469‍\U0001f469‍\U0001f467",'
    '"nested":{"ü":"ß"}}',
    '{"s":"\\u00e9clair \\u65e5\\u672c","esc":"a\\nb"}',
    '{"zw":"a​b","rtl":"عربي"}',
    '{"İstanbul":"ı","empty":""}',
]

UNICODE: dict[str, dict[str, tuple[int, list[str]]]] = {
    "documents": {"text": (30, _lits(UNICODE_TEXTS))},
    "customer": {"c_name": (20, _lits(UNICODE_NAMES))},
    "supplier": {"s_name": (30, _lits(UNICODE_NAMES))},
    "part": {"p_name": (20, _lits(UNICODE_NAMES))},
    "events": {"props": (25, _lits(UNICODE_PROPS))},
}

# ---------------------------------------------------------------------
# dup (round-11 sweep axis): the corpus regime a 100 TB crawl actually
# lives in — most rows are exact or near copies of a handful of
# payloads — pushed through every dedup cap, LSH bucket bound,
# keep-first rule, winnowing cap-eviction, trigram stop-key, and
# cluster-bounded quadratic, all of which sit exactly AT their boundary
# when duplicate classes are huge.
#
# Every prior axis varies values/NULLs/text form; none made the corpus
# MOSTLY duplicates (the unicode axis brushed it — its duplicated
# payloads produced the >0-pairs winnowing path). This makes it
# systematic:
#
#   documents.text   90% of rows drawn from a 5-payload rotation
#                    (below): duplicate classes of ~n/5 rows each;
#                    n_chars re-synced to length(text) for every row.
#   events.props     90% from 5 distinct JSON payloads (VARIANT /
#                    get_json_object surface with massive key-value
#                    duplication).
#   customer.c_name  80% from 5 names — fuzzy-Levenshtein blocking and
#                    sorted-neighborhood candidates go block-hot.
#   part.p_name      80% from 5 names — regex/LIKE and ER surfaces.
#   embeddings       90% of vectors copied from 5 anchor rows (vec_id
#                    1..5): cosine/SemDeDup/IVF/SRP cluster-bounded
#                    quadratics at their boundary; labels untouched
#                    (_dup_embeddings below).
#
# The 5 text payloads are chosen to hit specific operators AT scale:
#   P0 a ~400-char paragraph with a REPEATED LINE (segment/C4 line
#      dedup mass), long enough for every shingler/winnower;
#   P1 P0 with one word changed (a near-duplicate CLASS, not pair:
#      LSH/Jaccard/SimHash banding between two huge classes);
#   P2 a short doc below most shingle sizes (k-gram edge);
#   P3 a pathological n-gram repetition (dup-ngram mass, winnowing
#      self-repetition, trigram postings go df-hot);
#   P4 shares a long common SPAN with P0 (crossdoc-span >0 path).
#
# Rows are chosen with hash() mixing, not a bare (_rn * KNUTH) % m: a
# raw Knuth product preserves residues mod small m (KNUTH is odd,
# KNUTH % 5 == 1), so a modulus that shares a factor with a query's own
# doc_id % k split would alias — the r11 incremental query's delta
# split (doc_id % 10) saw ONE payload for every saturated delta doc
# until this fix. Every other axis keeps the bare product: switching
# either way would select different rows and lose the rows that found
# past bugs.
# ---------------------------------------------------------------------

_PARA = (
    "the quick brown fox jumps over the lazy dog near the river bank. "
    "data pipelines deduplicate documents before training begins. "
    "the quick brown fox jumps over the lazy dog near the river bank. "
    "shared fingerprints reveal copied passages across the corpus. "
    "every crawler revisits the same page and stores it again."
)

DUP_TEXTS = [
    # P0: repeated-line paragraph (segment dedup mass; winnowing base)
    _PARA,
    # P1: P0 with ONE word changed -> a huge near-duplicate class
    _PARA.replace("lazy dog", "sleepy dog"),
    # P2: short doc below most shingle sizes
    "tiny note",
    # P3: pathological n-gram repetition
    "copy paste " * 40,
    # P4: long common span with P0 + distinct tail
    "the quick brown fox jumps over the lazy dog near the river bank. "
    "shared fingerprints reveal copied passages across the corpus. "
    "but this trailing sentence exists nowhere else in the corpus.",
]

DUP_PROPS = [
    '{"device":"phone","cat":"a","n":1}',
    '{"device":"phone","cat":"a","n":2}',
    '{"device":"tablet","cat":"b","n":1}',
    '{"device":"phone","cat":"a","n":1,"dup":true}',
    '{"k":"v"}',
]

DUP_NAMES = [
    "Customer#000000001",
    "Customer#000000001 ",
    "Customer#000000002",
    "Duplicated Name Co",
    "Duplicated Name Co.",
]

DUP: dict[str, dict[str, tuple[int, list[str]]]] = {
    "documents": {"text": (90, _lits(DUP_TEXTS))},
    "events": {"props": (90, _lits(DUP_PROPS))},
    "customer": {"c_name": (80, _lits(DUP_NAMES))},
    "part": {"p_name": (80, _lits(DUP_NAMES))},
}

EMB_PCT = 90
EMB_ANCHORS = 5

def _dup_embeddings(s: str) -> str:
    """90% of rows take the vector of anchor row (hash % 5)+1; anchors
    themselves and the 10% tail keep their own. vec_id/label untouched:
    only the VALUE is duplicated, which is what cosine/SemDeDup/IVF
    bucket on. hash() mixing for the reason above."""
    return (
        "SELECT b._vid AS vec_id,"
        f" CASE WHEN hash(b._rn * {KNUTH}) % 100 < {EMB_PCT}"
        " AND a.embedding IS NOT NULL THEN a.embedding"
        " ELSE b.embedding END AS embedding, b.label"
        " FROM (SELECT vec_id AS _vid, embedding, label,"
        "  row_number() OVER (ORDER BY vec_id) AS _rn"
        f"  FROM '{s}') b"
        " LEFT JOIN (SELECT vec_id, embedding FROM"
        f" '{s}' WHERE vec_id BETWEEN 1 AND {EMB_ANCHORS}) a"
        f" ON a.vec_id = hash(b._rn * {KNUTH} + 7) % {EMB_ANCHORS} + 1"
    )


# re-sync the metadata column to the (possibly replaced) payload for
# EVERY row: DuckDB length() counts code points, same as Spark
# F.length, so both engines see a consistent (text, n_chars) pair
RESYNC_N_CHARS = (
    "SELECT * REPLACE (CASE WHEN text IS NULL THEN n_chars"
    " ELSE length(text) END AS n_chars) FROM ({})"
)

# ---------------------------------------------------------------------
# skew (round-9 sweep axis 16): 99% of rows share ONE value on every
# high-traffic join/window key. This is the regime AQE's skew-join
# splitting re-plans at runtime — the axis proves the registry's
# OUTPUTS are invariant under that re-plan (splitting a skewed
# partition must not change any aggregate, window, or join result), not
# just that the salted-join operator's own gate passes. Built from
# sf0.01 by default — the oracle gate's own correctness SF, big enough
# that the hot key's partition actually dominates.
#
# The hot value is the most frequent EXISTING value of the column, so
# referential integrity survives — the hot key still points at a real
# customer/supplier/part/user:
#
#   orders.o_custkey     -> 99% hot customer (orders⋈customer skew)
#   lineitem.l_suppkey   -> 99% hot supplier (lineitem⋈supplier skew)
#   lineitem.l_partkey   -> 99% hot part     (lineitem⋈part skew)
#   events.user_id       -> 99% hot user     (per-user windows: one
#                           user now holds ~99% of all events — the
#                           single-partition window regime)
#   documents.lang       -> 99% one lang     (groupBy skew + per-lang
#                           sampling/stratification with a dominant
#                           stratum)
# ---------------------------------------------------------------------

SKEW: dict[str, tuple[str, ...]] = {
    "orders": ("o_custkey",),
    "lineitem": ("l_suppkey", "l_partkey"),
    "events": ("user_id",),
    "documents": ("lang",),
}


def _skew(con, s: str, t: str) -> dict:
    """The skew columns of table `t` (source file `s`): each column's hot
    value as its one literal, or no literal (column left untouched)
    when the source column is empty. The value travels as a quoted
    VARCHAR that the spec's CAST turns back into the column's own
    type, so a date, timestamp, decimal or float rendering never parses
    as arithmetic; ties break on the value in that type."""
    cols = {}
    for c in SKEW.get(t, ()):
        hot = con.execute(
            f"SELECT CAST({c} AS VARCHAR) FROM '{s}' WHERE {c} IS NOT NULL"
            f" GROUP BY {c} ORDER BY COUNT(*) DESC, {c} LIMIT 1"
        ).fetchall()
        cols[c] = (99, _lits([h for (h,) in hot]))
    return cols


REWRITES = {
    "constval": CONSTVAL,
    "dup": DUP,
    "extreme": EXTREME,
    "null_keys": _nulls(NULL_KEYS),
    "null_measures": _nulls(_measures(100)),
    "null_mixed": _nulls(NULL_KEYS, _measures(30)),
    "null_text": _nulls({"documents": {"text": 20}, "events": {"props": 20}}),
    "unicode": UNICODE,
}

# ---------------------------------------------------------------------
# sparse: a deterministic ~pct% row sample, the rows whose bare Knuth
# stream (salt 0) is below pct (region/nation kept whole).
# Many groups/pairs/seeds that every real SF populates go EMPTY here,
# which is exactly the regime where a Spark plan and its DuckDB oracle
# can silently disagree (found round 7: hll_intersection_overlap's
# inner-join pair drop, kcenter's fabricated-seed oracle row,
# minhash_lsh_recall's ANSI divide-by-zero on an empty truth set).
# Referential integrity is NOT preserved — joins against dropped keys
# are part of the point; both engines compute over the same holes.
# pct=2 builds the ULTRA-degenerate variant (supplier goes fully empty,
# several tables single-digit rows) — the regime that exposed the
# divide-by-zero / fabricated-row / literal-vs-observed-boundary class
# (7 more findings in round 7).
# ---------------------------------------------------------------------

KEEP_WHOLE = {"region", "nation"}  # already tiny dimension tables

# ---------------------------------------------------------------------
# n1: exactly one row per natural grouping key of each fact table —
# the third degenerate regime between "empty" and "small": aggregates
# EXIST but every sample-variance denominator (n-1), every zero-spread
# denominator (all group members equal), and every single-member
# correlation hits 0 — exactly the class where a DuckDB oracle NULLs a
# double/0 while ANSI Spark raises DIVIDE_BY_ZERO (4 such bugs found by
# the round-8 sparse pct=1 / pct=3 fixtures before this axis existed
# to target the class directly). The representative is the first row
# in source order, and rows are written in source order.
# ---------------------------------------------------------------------

# table -> grouping key(s) to keep one row per value-combo of;
# None = keep the whole table; () = keep exactly one row
N1: dict[str, tuple[str, ...] | None] = {
    "region": None,
    "nation": None,
    "customer": ("c_mktsegment",),
    "supplier": (),
    "part": ("p_brand",),
    "orders": ("o_orderpriority", "o_orderstatus"),
    "lineitem": ("l_returnflag", "l_linestatus"),
    "events": ("event_type",),
    "documents": ("lang",),
    "embeddings": ("label",),
}


def _stream(salt: int, mix: bool) -> str:
    e = f"_rn * {KNUTH} + {salt}"
    return f"hash({e})" if mix else f"({e})"


def _rewrite(con, s: str, cols: dict, mix: bool) -> tuple[list, dict]:
    """REPLACE items for one table's column spec, and per rewritten
    column the audit's test for holding one of its values."""
    # parameterized read_parquet avoids quote-fragile path
    # interpolation (r8 advice)
    types = dict(
        con.execute(
            "SELECT column_name, column_type FROM "
            "(DESCRIBE SELECT * FROM read_parquet(?))",
            [s],
        ).fetchall()
    )
    sets, hits = [], {}
    for i, (c, (pct, lits)) in enumerate(sorted(cols.items())):
        if not lits:
            continue
        vals = [f"CAST({v} AS {types[c]})" for v in lits]
        hits[c] = " OR ".join(f"{c} IS NOT DISTINCT FROM {v}" for v in vals)
        val = vals[0] if len(vals) == 1 else "CASE " + " ".join(
            f"WHEN {_stream(i * 7919 + 31, mix)} % {len(vals)} = {j}"
            f" THEN {v}"
            for j, v in enumerate(vals)
        ) + " END"
        if pct < 100:
            val = (
                f"CASE WHEN {_stream(i * 7919, mix)} % 100 < {pct}"
                f" THEN {val} ELSE {c} END"
            )
        sets.append(f"{val} AS {c}")
    return sets, hits


def _table(con, axis: str, t: str, s: str, pct: int) -> tuple[str, dict]:
    """The SELECT that writes table `t` of `axis` from the source file
    `s`, and per rewritten column the audit's hit test."""
    numbered = f"SELECT *, row_number() OVER () AS _rn FROM '{s}'"
    whole = f"SELECT * FROM '{s}'"
    if axis == "sparse":
        if t in KEEP_WHOLE:
            return whole, {}
        return (
            f"SELECT * EXCLUDE (_rn) FROM ({numbered})"
            f" WHERE {_stream(0, False)} % 100 < {pct}"
        ), {}
    if axis == "n1":
        if N1[t] is None:
            return whole, {}
        return (
            f"SELECT * EXCLUDE (_rn) FROM ({numbered}) QUALIFY"
            f" row_number() OVER (PARTITION BY"
            f" {', '.join(N1[t]) or '1'} ORDER BY _rn) = 1 ORDER BY _rn"
        ), {}
    if axis == "dup" and t == "embeddings":
        return _dup_embeddings(s), {
            "embedding": "embedding IN (SELECT embedding FROM"
            f" '{s}' WHERE vec_id BETWEEN 1 AND {EMB_ANCHORS})"
        }
    cols = _skew(con, s, t) if axis == "skew" else REWRITES[axis].get(t)
    sets, hits = _rewrite(con, s, cols, mix=axis == "dup") if cols else ([], {})
    if not sets:  # also skew over an empty source table
        return whole, {}
    body = (
        f"SELECT * EXCLUDE (_rn) REPLACE ({', '.join(sets)})"
        f" FROM ({numbered})"
    )
    if axis in ("dup", "unicode") and t == "documents":
        body = RESYNC_N_CHARS.format(body)
    return body, hits


def build(axis: str, out: str, src: str, pct: int = 10) -> None:
    """Write the ten tables of `axis` from `src` into `out`."""
    os.makedirs(out, exist_ok=True)
    with duckdb.connect() as con:
        audit = []
        for t in TABLES:
            d = f"{out}/{t}.parquet"
            body, hits = _table(con, axis, t, f"{src}/{t}.parquet", pct)
            audit += [(t, c, hit) for c, hit in hits.items()]
            con.execute(f"COPY ({body}) TO '{d}' (FORMAT PARQUET)")
            n = con.execute(f"SELECT COUNT(*) FROM '{d}'").fetchone()[0]
            print(f"{t}: {n} rows")
        for t, c, hit in audit:
            n_hit, n = con.execute(
                f"SELECT COUNT(*) FILTER ({hit}), COUNT(*)"
                f" FROM '{out}/{t}.parquet'"
            ).fetchone()
            print(f"  {axis} {t}.{c}: {n_hit}/{n} rows hold a spec value")


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in DEFAULT_OUT:
        print(f"usage: fixtures.py <{'|'.join(DEFAULT_OUT)}> [out] [src]")
        return 2
    axis = argv[0]
    sf = "sf0.01" if axis == "skew" else "sf0.001"
    out = argv[1] if len(argv) > 1 else DEFAULT_OUT[axis]
    src = argv[2] if len(argv) > 2 else f"{TESTDATA}/{sf}"
    pct = int(argv[3]) if axis == "sparse" and len(argv) > 3 else 10
    build(axis, out, src, pct)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
