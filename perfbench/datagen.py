"""Seeded input generator for the query workloads.

Writes the fixture tables a workload's ``queries()`` entries read (one
single-row-group parquet file per table, the shape the engine's
catalog expects) at the sf0.1 cardinalities: 600k lineitem, 150k
orders, 100k events, 5k documents, 2k embeddings. Each table has its
own random stream, derived from the seed and the table's name, so a
table's values do not depend on which other tables a workload asks
for.

The value distributions are fitted to the sf0.1 fixture the engine's
``bench.py`` reads; the measured figures they reproduce are listed in
METRICS.md ("Inputs"). In short: uniform keys, whole-day dates and
categorical columns; event times distinct, sorted, microsecond-precise
over 30 days; a 30-word document vocabulary with 10-99 words per
text; 5% of the documents replaced, one after another, by a uniformly
chosen document plus the token ``dup`` (so sources lie before and
after their copies, some copies chain, and the exact duplicates arise
where two copies share a source); unit-norm 64-d Gaussian embeddings
with uniform labels. Timestamps are written as ``timestamp[us]``
without time zone, the physical type the fixture files carry.

Only ``numpy`` and ``pyarrow`` are used, so the same seed gives
byte-identical tables on every host.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000  # lineitem's l_suppkey range; no query here reads supplier
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_EVENT_USERS = 1_500
N_DOCS = 5_000
NEAR_DUP_SHARE = 0.05
N_VECS = 2_000
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "old"]
PART_NOUN = ["ring", "bolt", "gear", "nut", "pipe", "valve", "spring", "screw"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_WEIGHTS = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

# Tables each workload reads; the generator writes only these.
TABLES = {
    "relational_scan": ["region", "nation", "customer", "part", "orders",
                        "lineitem", "events"],
    "corpus_dedup": ["documents", "embeddings"],
    "stream_drain": ["customer", "events"],
}

_US_PER_DAY = 86_400_000_000


def _dates_us(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * _US_PER_DAY


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(choices)
    ).dictionary_decode()


def _region(rng) -> dict:
    return {
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS),
    }


def _nation(rng) -> dict:
    return {
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    }


def _customer(rng) -> dict:
    return {
        "c_custkey": pa.array(np.arange(N_CUSTOMER), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, N_CUSTOMER, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    }


def _part(rng) -> dict:
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "p_partkey": pa.array(np.arange(N_PART), type=pa.int64()),
        "p_name": _pick(rng, names, N_PART),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, N_PART)]),
        "p_type": _pick(rng, PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), type=pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(N_PART) % 1000) / 10.0),
    }


def _orders(rng) -> dict:
    return {
        "o_orderkey": pa.array(np.arange(N_ORDERS), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), type=pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": pa.array(_money(rng, N_ORDERS, 1000.0, 500000.0)),
        "o_orderdate": _ts(_dates_us(rng, N_ORDERS, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    }


def _lineitem(rng) -> dict:
    n = N_LINEITEM
    return {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(_dates_us(rng, n, "1995-01-02", "2001-11-04")),
    }


def _events(rng) -> dict:
    # Distinct, increasing event times over January 2024 (microseconds).
    start = np.datetime64("2024-01-01", "us").astype("int64")
    span = 30 * _US_PER_DAY
    ts = np.sort(rng.choice(span, N_EVENTS, replace=False)) + start
    return {
        "event_id": pa.array(np.arange(N_EVENTS), type=pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, N_EVENT_USERS, N_EVENTS), type=pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    }


def _documents(rng) -> dict:
    """Random 10-99-word texts, then 5% of the positions, in random
    order, replaced by a uniformly chosen document plus ``dup``."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 100, N_DOCS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    near = rng.choice(N_DOCS, int(N_DOCS * NEAR_DUP_SHARE), replace=False)
    for i, src in zip(near, rng.integers(0, N_DOCS, len(near))):
        texts[i] = texts[src] + " dup"
    return {
        "doc_id": pa.array(np.arange(N_DOCS), type=pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, N_DOCS, p=LANG_WEIGHTS),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def _embeddings(rng) -> dict:
    vecs = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(N_VECS), type=pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), type=pa.int32()),
    }


BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "part": _part, "orders": _orders, "lineitem": _lineitem,
    "events": _events, "documents": _documents, "embeddings": _embeddings,
}


def generate(out_dir: str, seed: int, tables: list[str]) -> dict[str, int]:
    """Write ``tables`` under ``out_dir``; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in tables:
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        t = pa.table(BUILDERS[name](rng))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=len(t) or 1)
        rows[name] = len(t)
    return rows
