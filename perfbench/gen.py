"""Seeded table generator for the benchmark.

Writes the ten engine tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as one-row-group
parquet files with the schemas, row counts and id ranges of the sf0.1
test tables. The seed picks the rows: which values each id carries,
which orders get line items, which documents are near-duplicates,
which vectors sit where. The same seed always writes byte-identical
tables; another seed writes the same shapes with other rows.

Value distributions follow the sf0.1 tables (uniform keys, exponential
event gaps and values, 10-100 word documents over a 30-word vocabulary
with about 5% " dup" near-duplicates, unit-norm 64-d float32 vectors),
so the engine's plans, join sizes and selectivities match those the
engine's own benchmarks see.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

ROWS = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
_DIM = 64

# 1995-01-01 .. 2001-08-01 and 2024-01-01 as microseconds since the epoch
_DAY_US = 86_400 * 1_000_000
_D1995 = 9131 * _DAY_US
_ORDER_DAYS = 2404
_EVENTS_T0 = 19723 * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed(rng: np.random.Generator, n: int) -> np.ndarray:
    """The ids 0..n-1 in a seeded row order."""
    return rng.permutation(n).astype("int64")


def _region(rng):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })


def _nation(rng):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })


def _customer(rng):
    n = ROWS["customer"]
    key = _keyed(rng, n)
    return pa.table({
        "c_custkey": key,
        "c_name": [f"Customer#{k:09d}" for k in key],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n)],
    })


def _supplier(rng):
    n = ROWS["supplier"]
    key = _keyed(rng, n)
    return pa.table({
        "s_suppkey": key,
        "s_name": [f"Supplier#{k:09d}" for k in key],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng):
    n = ROWS["part"]
    key = _keyed(rng, n)
    names = np.char.add(
        np.char.add(np.array(_ADJ)[rng.integers(0, 8, n)], " "),
        np.array(_NOUN)[rng.integers(0, 8, n)],
    )
    return pa.table({
        "p_partkey": key,
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (key % 1000) * 0.1, 1),
    })


def _orders(rng):
    n = ROWS["orders"]
    return pa.table({
        "o_orderkey": _keyed(rng, n),
        "o_custkey": rng.integers(0, ROWS["customer"], n),
        "o_orderstatus": np.array(_STATUS)[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_D1995 + rng.integers(0, _ORDER_DAYS + 1, n) * _DAY_US),
        "o_orderpriority": np.array(_PRIORITY)[rng.integers(0, 5, n)],
    })


def _lineitem(rng):
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": rng.integers(0, ROWS["orders"], n),
        "l_partkey": rng.integers(0, ROWS["part"], n),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_D1995 + rng.integers(1, _ORDER_DAYS + 96, n) * _DAY_US),
    })


def _events(rng):
    n = ROWS["events"]
    gaps = rng.exponential(26.0, n)
    ts = _EVENTS_T0 + np.floor(np.cumsum(gaps) * 1e6).astype("int64")
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, 1500, n),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng):
    n = ROWS["documents"]
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # ~5% near-duplicates (a copy of an earlier doc plus " dup") and a
    # few exact copies, the shapes the dedup families look for
    for i in rng.choice(np.arange(1, n), 250, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), 8, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    doc_id = np.arange(n, dtype="int64")
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": np.char.add("src", (doc_id % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng):
    n = ROWS["embeddings"]
    v = rng.standard_normal((n, _DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * _DIM + 1, _DIM, dtype="int32")),
        pa.array(v.ravel(), pa.float32()),
    )
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def build_tables(seed: int, names: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """The named tables for ``seed``; each table draws from its own
    stream, so a table is the same whichever others are built with it,
    and adding a column to one never shifts another."""
    return {
        name: _BUILDERS[name](np.random.default_rng([seed, TABLES.index(name)]))
        for name in names
    }


def write_tables(seed: int, out_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, str]:
    """Write ``<out_dir>/<table>.parquet`` for the named tables and
    return each file's sha256 digest."""
    os.makedirs(out_dir, exist_ok=True)
    digests = {}
    for name, table in build_tables(seed, names).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=1 << 21)
        with open(path, "rb") as fh:
            digests[name] = hashlib.sha256(fh.read()).hexdigest()
    return digests
