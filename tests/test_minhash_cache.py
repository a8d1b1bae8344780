"""MinHash-LSH family: what the queries pin in cache, and the binary
signature's equivalence to the md5-hex minima the oracles compute.

The LSH queries cache only signatures: a persisted shingle array is
O(corpus shingles) and the verify recomputes it from the documents
scan instead. The signature holds each minimum as the 16 raw bytes of
its md5 hex, while the DuckDB twins band on the hex strings: hex(sig[j])
must be exactly the hex minimum for every band key and candidate pair
to match.
"""

import json

import pytest
from pyspark.sql import functions as F

from filemapreduce_spark.operators.textops import minhash_signature
from filemapreduce_spark.queries import load_all


def _cached_schemas(spark) -> list[dict]:
    """Schema (as JSON) of every CacheManager entry. The entry list
    is a private field; read it by reflection."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cm)
    return [
        json.loads(entries.apply(i).cachedRepresentation().schema().json())
        for i in range(entries.size())
    ]


def _string_array_columns(schema: dict) -> list[str]:
    return [
        f["name"]
        for f in schema["fields"]
        if isinstance(f["type"], dict)
        and f["type"].get("type") == "array"
        and f["type"].get("elementType") == "string"
    ]


@pytest.mark.parametrize(
    "name",
    [
        "neardup_minhash_lsh",
        "dedup_survivors_minhash",
        "neardup_incremental_vs_corpus",
    ],
)
def test_lsh_caches_no_shingle_arrays(spark, sf_small, name):
    spark.catalog.clearCache()
    try:
        load_all()[name].fn(spark, sf_small).collect()
        schemas = _cached_schemas(spark)
        assert schemas, f"{name}: expected a cached signature relation"
        pinned = [c for s in schemas for c in _string_array_columns(s)]
        assert not pinned, f"{name} caches array<string> columns {pinned}"
        if name == "dedup_survivors_minhash":
            # the class graph: one cache, not a persist ladder
            assert len(schemas) == 1, [
                [f["name"] for f in s["fields"]] for s in schemas
            ]
    finally:
        spark.catalog.clearCache()


def test_signature_bytes_match_md5_hex_minima(spark):
    rows = [
        (0, ["only one shingle"]),
        (1, ["été ça naïve", "日本語 テキスト です", "😀 🚀 ok", "Σ ς σ"]),
        (2, []),
        (3, None),
        (4, [f"w{i} x{i * 7} y{i * 13}" for i in range(60)]),
    ]
    df = spark.createDataFrame(rows, "id int, sh array<string>").select(
        "id", "sh", minhash_signature(F.col("sh"), 8).alias("sig")
    )
    checks = []
    for j in range(8):
        got = F.lower(F.hex(F.element_at("sig", j + 1)))
        want = F.expr(f"array_min(transform(sh, s -> md5(concat('{j}:', s))))")
        checks += [got.alias(f"got{j}"), want.alias(f"want{j}")]
    out = {r["id"]: r for r in df.select("id", *checks).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    for i, r in out.items():
        for j in range(8):
            assert r[f"got{j}"] == r[f"want{j}"], (i, j)
            if i in (2, 3):
                assert r[f"got{j}"] is None, (i, j)
            else:
                assert len(r[f"got{j}"]) == 32, (i, j)
