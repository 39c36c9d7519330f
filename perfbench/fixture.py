"""Seeded batch fixture: the ten parquet tables ``sources.tables.Tables`` binds.

The tables have the schemas and value distributions of the project's
TPC-H-shaped star schema plus its ``events``, ``documents`` and
``embeddings`` tables: uniform keys, two-decimal money, day-granular
order/ship dates, a 30-day sorted event stream, 10-100-word documents over
a 30-word vocabulary of which 5% are ``<other doc> dup`` near-duplicates,
and unit-norm 64-dimensional float32 embeddings in ten weak clusters.

Row counts follow the scale factor the same way: ``lineitem`` is
``6_000_000 * sf`` rows; ``documents`` and ``embeddings`` never drop below
500 rows.  The same ``(sf, seed)`` always writes byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64

_DAY_US = 86_400_000_000


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "users": round(15_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n = row_counts(sf)
    rng = np.random.default_rng([seed, 0x7AB1E5])
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    m = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(m, dtype="int64"),
            "c_name": _names("Customer", m),
            "c_nationkey": rng.integers(0, 25, m).astype("int32"),
            "c_acctbal": _money(rng, m, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, m)],
        }
    )
    m = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(m, dtype="int64"),
            "s_name": _names("Supplier", m),
            "s_nationkey": rng.integers(0, 25, m).astype("int32"),
            "s_acctbal": _money(rng, m, -999.99, 9999.99),
        }
    )
    m = n["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, 8, m)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, m)]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(m, dtype="int64"),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, m).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, m)],
            "p_size": rng.integers(1, 51, m).astype("int32"),
            "p_retailprice": 900.0 + (np.arange(m) % 1000) / 10.0,
        }
    )
    m = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(m, dtype="int64"),
            "o_custkey": rng.integers(0, n["customer"], m),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, m)],
            "o_totalprice": _money(rng, m, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, m, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, m)],
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m).astype("int32"),
            "l_quantity": rng.integers(1, 51, m).astype("float64"),
            "l_extendedprice": _money(rng, m, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
            "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
        }
    )
    m = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, m))
    t["events"] = pa.table(
        {
            "event_id": np.arange(m, dtype="int64"),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, n["users"], m),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, m)],
            "value": np.round(rng.exponential(50.0, m), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, m: int) -> pa.Table:
    lengths = rng.integers(10, 101, m)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, lengths)]
    dup = rng.random(m) < 0.05
    originals = np.flatnonzero(~dup)
    for d in np.flatnonzero(dup):
        texts[d] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(m, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, m, p=LANG_P)],
            "source": [f"src{k % 20}" for k in range(m)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )


def _embeddings(rng, m: int) -> pa.Table:
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0.0, 0.07, (10, DIM))
    v = rng.normal(0.0, 1.0, (m, DIM)) + centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    emb = pa.ListArray.from_arrays(
        np.arange(0, (m + 1) * DIM, DIM, dtype="int32"), pa.array(v.ravel())
    )
    return pa.table(
        {
            "vec_id": np.arange(m, dtype="int64"),
            "embedding": emb,
            "label": labels.astype("int32"),
        }
    )


def write_fixture(root: str, sf: float, seed: int) -> str:
    """Write the tables under ``root/sf<sf>_seed<seed>`` once; return the dir."""
    out = os.path.join(root, f"sf{sf:g}_seed{seed}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for name, table in build_tables(sf, seed).items():
            pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        open(done, "w").close()
    return out
