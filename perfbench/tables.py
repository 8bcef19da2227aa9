"""Seeded generator for the batch_ops input tables.

Writes documents, embeddings, events, customer and nation parquet files with
the schemas the engine's query registry reads (graft.queries.Tables), at the
row counts of scale factor 0.01. The same seed gives byte-identical files.
"""
import hashlib
import math
import random
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join filter big group "
         "hash customer sort order slow line part fast row the agg key query a scan batch").split()
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]
N_DOCS, N_EXACT_DUPS, N_NEAR_DUPS = 500, 2, 25
N_VECS, DIM, N_LABELS = 500, 64, 10
N_EVENTS, N_USERS = 10_000, 150
EVENT_TYPES = ["error", "view", "purchase", "signup", "click"]
N_CUSTOMERS, N_NATIONS = 1500, 25
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"]


def _documents(r):
    texts = [" ".join(r.choice(VOCAB) for _ in range(r.randint(10, 100))) for _ in range(N_DOCS)]
    ids = list(range(N_DOCS))
    # near duplicates: a later document repeats an earlier one with one word
    # replaced; exact duplicates: a later document repeats an earlier one
    for _ in range(N_NEAR_DUPS):
        src, dst = sorted(r.sample(ids, 2))
        words = texts[src].split(" ")
        words[r.randrange(len(words))] = "dup"
        texts[dst] = " ".join(words)
    for _ in range(N_EXACT_DUPS):
        src, dst = sorted(r.sample(ids, 2))
        texts[dst] = texts[src]
    langs = r.choices([l for l, _ in LANGS], weights=[w for _, w in LANGS], k=N_DOCS)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(r):
    centers = [[r.gauss(0, 1) for _ in range(DIM)] for _ in range(N_LABELS)]
    vecs, labels = [], []
    for _ in range(N_VECS):
        lab = r.randrange(N_LABELS)
        v = [0.5 * c + r.gauss(0, 1) for c in centers[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(lab)
    return pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _events(r):
    t0 = datetime(2024, 1, 1)
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = sorted(r.randrange(span_us) for _ in range(N_EVENTS))
    return pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array([t0 + timedelta(microseconds=u) for u in ts], pa.timestamp("us")),
        "user_id": pa.array([r.randrange(N_USERS) for _ in range(N_EVENTS)], pa.int64()),
        "event_type": pa.array([r.choice(EVENT_TYPES) for _ in range(N_EVENTS)], pa.string()),
        "value": pa.array([round(r.expovariate(1 / 50.0), 2) for _ in range(N_EVENTS)], pa.float64()),
        "props": pa.array([f'{{"k": {r.randrange(100)}}}' for _ in range(N_EVENTS)], pa.string()),
    })


def _customer(r):
    return pa.table({
        "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)], pa.string()),
        "c_nationkey": pa.array([r.randrange(N_NATIONS) for _ in range(N_CUSTOMERS)], pa.int32()),
        "c_acctbal": pa.array([round(r.uniform(-999.99, 9999.99), 2) for _ in range(N_CUSTOMERS)],
                              pa.float64()),
        "c_mktsegment": pa.array([r.choice(SEGMENTS) for _ in range(N_CUSTOMERS)], pa.string()),
    })


def _nation(_r):
    return pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)], pa.int32()),
    })


def generate(out_dir: Path, seed: int) -> str:
    """Writes every table under out_dir; returns a SHA-256 over the files."""
    out_dir.mkdir(parents=True, exist_ok=True)
    h = hashlib.sha256()
    for name, fn in [("documents", _documents), ("embeddings", _embeddings), ("events", _events),
                     ("customer", _customer), ("nation", _nation)]:
        path = out_dir / f"{name}.parquet"
        pq.write_table(fn(random.Random(f"{seed}/{name}")), path)
        h.update(path.read_bytes())
    return h.hexdigest()
