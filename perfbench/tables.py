"""Seeded parquet tables for the registry workload.

The registry queries read TPC-H-shaped tables ``<dir>/<name>.parquet``
with the schemas of the library's test data (``TESTDATA.md``). This
module writes small versions of the tables the benchmark's query slice
reads (customer, orders, lineitem, documents), from a seed: the same seed always gives byte-identical files
(``Tables.digest`` proves it). Money columns carry two decimals, so the
queries' integer-cents arithmetic gives the DuckDB oracle's exact
values.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random
from dataclasses import dataclass

N_CUSTOMER = 600
N_SUPPLIER = 40
N_PART = 400
N_ORDERS = 6000
N_DOCUMENTS = 1000
MAX_LINES = 7

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
N_WORDS = 400
LETTERS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJ0123456789"
EPOCH = datetime.datetime(1995, 1, 1)
DAYS = 6 * 365


@dataclass
class Tables:
    dir: str
    digest: str


def _money(rng: random.Random, lo: int, hi: int) -> float:
    """A value with two decimals, from integer cents."""
    return rng.randrange(lo * 100, hi * 100) / 100


def _rows(seed: int) -> dict[str, dict[str, list]]:
    rng = random.Random(seed)

    def day():
        return EPOCH + datetime.timedelta(days=rng.randrange(DAYS))

    t: dict[str, dict[str, list]] = {}
    t["customer"] = {
        "c_custkey": list(range(N_CUSTOMER)),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": [rng.randrange(25) for _ in range(N_CUSTOMER)],
        "c_acctbal": [_money(rng, -999, 9999) for _ in range(N_CUSTOMER)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(N_CUSTOMER)],
    }
    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                              "o_orderdate", "o_orderpriority")}
    lines = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                             "l_returnflag", "l_linestatus", "l_shipdate")}
    for o in range(N_ORDERS):
        orderdate = day()
        orders["o_orderkey"].append(o)
        orders["o_custkey"].append(rng.randrange(N_CUSTOMER))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(_money(rng, 1000, 500_000))
        orders["o_orderdate"].append(orderdate)
        orders["o_orderpriority"].append(rng.choice(PRIORITIES))
        # sizes do not depend on the seed: only the values do
        for n in range(1, o % MAX_LINES + 2):
            lines["l_orderkey"].append(o)
            lines["l_partkey"].append(rng.randrange(N_PART))
            lines["l_suppkey"].append(rng.randrange(N_SUPPLIER))
            lines["l_linenumber"].append(n)
            lines["l_quantity"].append(float(rng.randint(1, 50)))
            lines["l_extendedprice"].append(_money(rng, 900, 105_000))
            lines["l_discount"].append(rng.randint(0, 10) / 100)
            lines["l_tax"].append(rng.randint(0, 8) / 100)
            lines["l_returnflag"].append(rng.choice("ANR"))
            lines["l_linestatus"].append(rng.choice("FO"))
            lines["l_shipdate"].append(orderdate + datetime.timedelta(days=rng.randrange(1, 122)))
    t["orders"], t["lineitem"] = orders, lines
    # random words with some capitals and digits; every tenth document
    # is a near-duplicate of an earlier one (a few words replaced)
    vocab = ["".join(rng.choice(LETTERS) for _ in range(rng.randint(2, 9)))
             for _ in range(N_WORDS)]
    docs = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for d in range(N_DOCUMENTS):
        if d % 10 == 9:
            ws = docs["text"][rng.randrange(d)].split(" ")
            for _ in range(rng.randint(1, 3)):
                ws[rng.randrange(len(ws))] = rng.choice(vocab)
        else:
            ws = [rng.choice(vocab) for _ in range(d % 61)]
        text = " ".join(ws)
        docs["doc_id"].append(d)
        docs["text"].append(text)
        docs["lang"].append(rng.choice(("en", "de", "fr", "es", "ja")))
        docs["source"].append(f"src{rng.randrange(20)}")
        docs["n_chars"].append(len(text))
    t["documents"] = docs
    return t


def write_tables(seed: int, out_dir: str) -> Tables:
    """Write every table under ``out_dir`` and return its digest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    h = hashlib.sha256()
    i32, ts = pa.int32(), pa.timestamp("us")
    narrow = {"c_nationkey": i32, "l_linenumber": i32, "o_orderdate": ts, "l_shipdate": ts}
    for name, cols in sorted(_rows(seed).items()):
        table = pa.table({c: pa.array(v, type=narrow.get(c)) for c, v in cols.items()})
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as f:
            h.update(name.encode() + b"\0" + f.read() + b"\0")
    return Tables(out_dir, h.hexdigest())
