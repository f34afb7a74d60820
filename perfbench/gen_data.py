"""Deterministic input tables for the benchmark.

Writes the ten tables the declared queries read (``region`` ..
``embeddings``), one parquet file each, with the schemas listed in
``FIXTURES.md`` (``events.ts`` in nanoseconds, the order and ship dates
in milliseconds) and the row counts and value ranges of the engine's
sf0.1 test data: a TPC-H-shaped star schema,
a 30-day ``events`` stream, a ``documents`` corpus with injected exact and
near duplicates, and clustered unit-norm ``embeddings``.  The tables depend
only on ``DATA_SEED``, so every run of the benchmark reads the same bytes
and the DuckDB oracle digests computed from them stay valid.

    python3 perfbench/gen_data.py <out_dir>
"""

from __future__ import annotations

import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["ring", "gear", "bolt", "plate", "rod", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_SOURCES = 20
N_EXACT_DUPS = 8
N_NEAR_DUPS = 250
EMBED_DIM = 64
N_LABELS = 10


def _ts(start: str, offsets_us: np.ndarray, unit: str) -> pa.Array:
    """Timestamps at whole microseconds, stored in ``unit``."""
    base = np.datetime64(datetime.fromisoformat(start), "us")
    values = base + offsets_us.astype("timedelta64[us]")
    return pa.array(values.astype(f"datetime64[{unit}]"), pa.timestamp(unit))


def _days(start: str, days: np.ndarray) -> pa.Array:
    return _ts(start, days.astype(np.int64) * 86_400_000_000, "ms")


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> pa.Table:
    n = ROWS["documents"]
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # Exact copies and "<earlier doc> dup" near copies, so the dedup and
    # near-duplicate operators have true positives to find.
    # Each near copy has its own source, so near copies do not add exact
    # duplicates of each other.
    ids = rng.permutation(np.arange(N_SOURCES, n))[: N_EXACT_DUPS + N_NEAR_DUPS]
    near_sources: set[str] = set()
    for i, doc in enumerate(ids):
        src = int(rng.integers(0, doc))
        if i < N_EXACT_DUPS:
            texts[doc] = texts[src]
            continue
        while texts[src] in near_sources:
            src = int(rng.integers(0, doc))
        near_sources.add(texts[src])
        texts[doc] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n = ROWS["embeddings"]
    labels = rng.integers(0, N_LABELS, n)
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    vecs = centers[labels] + 0.8 * rng.normal(size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_c, n_s, n_p = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    n_o, n_l, n_e = ROWS["orders"], ROWS["lineitem"], ROWS["events"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": _pick(rng, SEGMENTS, n_c),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                 zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
                pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
                                pa.string()),
            "p_type": _pick(rng, PART_TYPES, n_p),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_o)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_o),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
            "l_linestatus": _pick(rng, ["F", "O"], n_l),
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_l)),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_e), pa.int64()),
            "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * 86_400_000_000, n_e)), "ns"),
            "user_id": pa.array(rng.integers(0, 1500, n_e), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_e),
            "value": np.round(rng.exponential(50.0, n_e), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
                              pa.string()),
        }),
    }
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    return tables


def write_tables(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write_tables(sys.argv[1])
