"""Seeded TPC-H-shaped input tables for the benchmark.

Writes the ten parquet tables that ``rs_graphdb_spark.load_tpch_graph``
reads (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) with the column names and types of the engine's
sf0.1 fixture, at a quarter of its row counts. Row counts are fixed by ``ROWS`` (lineitem: about four lines an order); only the values depend on
the seed, so every seed gives the same amount of work.

The documents table is a mirror corpus: ``N_BASE_DOCS`` random documents,
each copied ``MIRRORS`` times. Copy 0 is the original, copy 1 is an exact
duplicate, and copies 2.. carry a short ``shard<i> marker<i>`` suffix, so
every document has near-duplicate twins (the dedup jobs have real work).
Embedding vectors are mirrored the same way.
"""

from __future__ import annotations

import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 3_750,
    "supplier": 250,
    "part": 5_000,
    "orders": 37_500,
    "events": 25_000,
}
N_BASE_DOCS = 150
MIRRORS = 10
N_BASE_VECS = 120
DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS = ["blue", "hot", "large", "ring", "bolt", "steel", "red", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _documents(rng) -> pa.Table:
    n_words = rng.integers(8, 90, N_BASE_DOCS)
    base = [" ".join(rng.choice(VOCAB, w)) for w in n_words]
    ids, texts = [], []
    for copy in range(MIRRORS):
        for i, text in enumerate(base):
            if copy >= 2:
                text = f"{text} shard{copy} marker{copy}"
            ids.append(copy * N_BASE_DOCS + i)
            texts.append(text)
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    base = rng.standard_normal((N_BASE_VECS, DIM)).astype(np.float32)
    vecs = np.tile(base, (MIRRORS, 1))
    n = len(vecs)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    ck = np.arange(n["customer"])
    sk = np.arange(n["supplier"])
    pk = np.arange(n["part"])
    ok = np.arange(n["orders"])
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(ck),
            "c_name": _names("Customer", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, len(ck)).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
            "c_mktsegment": rng.choice(SEGMENTS, len(ck)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(sk),
            "s_name": _names("Supplier", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, len(sk)).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, len(sk)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(pk),
            "p_name": [
                f"{P_WORDS[a]} {P_WORDS[b]}"
                for a, b in rng.integers(0, len(P_WORDS), (len(pk), 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
            "p_type": rng.choice(P_TYPES, len(pk)),
            "p_size": pa.array(rng.integers(1, 51, len(pk)).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(ok),
            "o_custkey": pa.array(rng.integers(0, len(ck), len(ok))),
            "o_orderstatus": rng.choice(["F", "O", "P"], len(ok)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, len(ok)),
            "o_orderdate": _ts(
                _EPOCH_1995 + rng.integers(0, 2404, len(ok)) * _US_PER_DAY
            ),
            "o_orderpriority": rng.choice(PRIORITIES, len(ok)),
        }),
    }
    # lineitem: each order gets line numbers 1..m, m uniform in 1..7, as
    # in TPC-H (about 4 lines an order; the total varies by ~0.2% by seed)
    m = rng.integers(1, 8, len(ok))
    l_order = np.repeat(ok, m)
    l_line = (np.arange(len(l_order)) - np.repeat(np.cumsum(m) - m, m) + 1)
    nl = len(l_order)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, len(pk), nl)),
        "l_suppkey": pa.array(rng.integers(0, len(sk), nl)),
        "l_linenumber": pa.array(l_line.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 100000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(
            _EPOCH_1995 + rng.integers(0, 2404, nl) * _US_PER_DAY
        ),
    })
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne)),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, ne))),
        "user_id": pa.array(rng.integers(0, 1500, ne)),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _money(rng, 0.0, 560.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def write(seed: int, out_dir: pathlib.Path) -> pathlib.Path:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir
