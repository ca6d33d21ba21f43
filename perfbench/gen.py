"""Seeded input generator for the benchmark.

Writes the tables the benchmark's workloads read, with the column names
and types of the project's testdata tables (see TESTDATA.md and
FIXTURES.md), one parquet file per table. The same seed and sizes always
give the same rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
# 2024-01-01T00:00:00Z .. 2024-01-31T00:00:00Z, the testdata's event window
EVENT_T0_US = 1704067200 * 1_000_000
EVENT_SPAN_US = 30 * 86400 * 1_000_000
# 1995-01-01 .. 2001-11-01, the testdata's ship-date window
SHIP_T0_MS = 788918400 * 1000
SHIP_SPAN_DAYS = 2496


def events(rng, n):
    """Time-ordered event stream: event_id follows ts order, ~67 events
    per user, exponential values with mean 50 on a cent grid."""
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n)) + EVENT_T0_US
    users = max(10, n // 67)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), type=pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def customer(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    })


def documents(rng, n):
    """Random-word documents over a 30-word vocabulary. 5% are near
    duplicates (an earlier document plus one extra token) and 0.2% exact
    copies, the make-up of the testdata corpus."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, n, dim=64):
    """Unit-norm float32 vectors with a label in 0..9."""
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
    })


def lineitem(rng, n):
    """Order lines: ~4 lines per order, ~600 lines per supplier."""
    days = rng.integers(0, SHIP_SPAN_DAYS, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(10, n // 600), n), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": pa.array(SHIP_T0_MS + days * 86_400_000, type=pa.timestamp("ms")),
    })


MAKERS = {"events": events, "customer": customer, "documents": documents,
          "embeddings": embeddings, "lineitem": lineitem}


def generate(seed, out, sizes):
    """Write each table named in `sizes` ({table: rows}) under `out`. Each
    table draws from its own stream of the seed, so its contents do not
    depend on which other tables are generated."""
    os.makedirs(out, exist_ok=True)
    for i, name in enumerate(sorted(MAKERS)):
        if name in sizes:
            rng = np.random.default_rng([seed, i])
            pq.write_table(MAKERS[name](rng, sizes[name]), os.path.join(out, f"{name}.parquet"))
