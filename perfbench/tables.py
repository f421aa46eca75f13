"""Seeded tables for the registry entries the drain_lifecycle workload runs.

They have the names, columns and types of the repository's synthetic test
tables (events, documents, lineitem, orders, embeddings), so the entries
and their DuckDB oracles run on them unchanged. Sizes are fixed; the seed
only changes the values. Each table is one parquet file, `<name>.parquet`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS = 10000
USERS = 150  # keeps st_sketch_state's HLL sketch in its exact range
DOCUMENTS = 1000
ORDERS = 3000
EMBEDDINGS = 500
DIM = 64
LABELS = 10

WORDS = np.array("key agg row scan slow fast table value part hash join batch "
                 "window spark order data column filter small large".split())


def write(out_dir, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def save(name, table):
        pq.write_table(table, os.path.join(out_dir, name + ".parquet"))

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, EVENTS))
    save("events", pa.table({
        "event_id": pa.array(np.arange(EVENTS), pa.int64()),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, EVENTS), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["view", "click", "purchase", "signup", "error"], EVENTS)),
        "value": pa.array(np.round(rng.exponential(40.0, EVENTS), 2), pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, EVENTS)]),
    }))

    lengths = rng.integers(8, 80, DOCUMENTS)
    texts = [" ".join(rng.choice(WORDS, n)) for n in lengths]
    save("documents", pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr"], DOCUMENTS)),
        "source": pa.array(["src%d" % (i % 5) for i in range(DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    save("orders", pa.table({
        "o_orderkey": pa.array(np.arange(ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 1000, ORDERS), pa.int64()),
        "o_totalprice": pa.array(np.round(rng.uniform(100, 1e5, ORDERS), 2)),
    }))
    lines = rng.integers(1, 8, ORDERS)
    keys = np.repeat(np.arange(ORDERS), lines)
    numbers = np.concatenate([np.arange(1, n + 1) for n in lines])
    perm = rng.permutation(len(keys))
    save("lineitem", pa.table({
        "l_orderkey": pa.array(keys[perm], pa.int64()),
        "l_linenumber": pa.array(numbers[perm], pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, len(keys)).astype(float)),
    }))

    labels = rng.integers(0, LABELS, EMBEDDINGS)
    centers = rng.normal(size=(LABELS, DIM))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(EMBEDDINGS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))
