"""Seeded tables for the query_mix workload.

Same schemas, row counts and value shapes as the sf0.1 star-schema tables the
headline queries are written against (documents, embeddings, events, orders,
customer), generated from a seed so a run reads nothing outside its checkout.
"""
import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator below changes what it writes
VERSION = "tables/v1"

WORDS = ("a the data spark scan sort hash join group agg filter query table row "
         "column key value window stream batch merge vector line part order "
         "customer fast slow big small").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _documents(rng, n=5000, sources=20):
    lens = rng.integers(8, 100, size=n)
    texts = [" ".join(rng.choice(WORDS, size=k)) for k in lens]
    # a few exact duplicates for the dedup query
    for i in rng.choice(np.arange(100, n), size=n // 600, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), size=n)],
        # doc_id % sources, as in the sf0.1 tables: consecutive ids never
        # share a source
        "source": [f"src{i % sources}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n=2000, dim=64, labels=10):
    centers = rng.normal(0, 0.15, size=(labels, dim))
    label = rng.integers(0, labels, size=n)
    vecs = (centers[label] + rng.normal(0, 0.1, size=(n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def _events(rng, n=100000, users=1500):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, size=n)).astype("timedelta64[us]")
    cents = np.minimum(rng.exponential(6000.0, size=n).astype(np.int64), 56021)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, users, size=n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), size=n)],
        "value": cents / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def _orders(rng, n=150000, customers=15000):
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    days = rng.integers(0, 2405, size=n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, customers, size=n).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, size=n)],
        "o_totalprice": rng.integers(90000, 50000000, size=n) / 100.0,
        "o_orderdate": pa.array(day0 + days, type=pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, size=n)],
    })


def _customer(rng, n=15000):
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": ids,
        "c_name": [f"Customer#{i:09d}" for i in ids],
        "c_nationkey": rng.integers(0, 25, size=n).astype(np.int32),
        "c_acctbal": rng.integers(-99999, 999999, size=n) / 100.0,
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, size=n)],
    })


GENERATORS = [("documents", _documents), ("embeddings", _embeddings),
              ("events", _events), ("orders", _orders), ("customer", _customer)]


def fingerprint():
    with open(__file__, "rb") as fh:
        return hashlib.sha256(VERSION.encode() + fh.read()).hexdigest()[:12]


def ensure(inputs_dir, seed):
    """Directory of the tables for `seed`, generated on a cache miss.
    Returns (dir, seconds spent generating or 0.0)."""
    out = os.path.join(inputs_dir, f"query_mix-s{seed}-{fingerprint()}")
    if os.path.exists(os.path.join(out, "_READY")):
        return out, 0.0
    t0 = time.monotonic()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for i, (name, gen) in enumerate(GENERATORS):
        rng = np.random.default_rng([seed, i])
        pq.write_table(gen(rng), os.path.join(out, f"{name}.parquet"))
    open(os.path.join(out, "_READY"), "w").close()
    return out, time.monotonic() - t0
