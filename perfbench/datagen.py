"""Deterministic catalog tables for the catalog workloads.

Writes the ten tables the catalog queries read (TPC-H-style star
schema, an ``events`` stream, a ``documents`` corpus and an
``embeddings`` table) as one parquet file each, with the column names,
physical types and value distributions of the catalog's sf0.01 test
layout: uniform foreign keys, TPC-H categorical vocabularies, naive
microsecond timestamps, a 31-word document vocabulary and unit-norm
64-d embeddings in ten clusters.

The benchmark generates its own inputs instead of reading a fixed
directory, so it runs from any checkout. The tables depend only on
``DATA_SEED`` and the sizes below; the run's ``--seed`` permutes the
order in which the queries run, never the data, so the DuckDB oracle
results can be cached per (oracle SQL, data) pair.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# row counts of the sf0.01 layout
SIZES = {"customer": 1_500, "supplier": 100, "part": 2_000,
         "orders": 15_000, "lineitem": 60_000, "events": 10_000,
         "users": 150, "documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort "
    "spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(start + days, pa.timestamp("us"))


def build_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]),
                                pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]),
                                pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    adj = rng.choice(PART_ADJ, n["part"])
    noun = rng.choice(PART_NOUN, n["part"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(rng.integers(9000, 10000, n["part"]) / 10,
                                  1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]),
                              pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000, 500_000, n["orders"]),
        "o_orderdate": _days(rng, _EPOCH_1995, 2_400, n["orders"]),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, m),
        "l_discount": np.round(rng.uniform(0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, m), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"),
                            2_500, m),
    })
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, e))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """31-word vocabulary texts of 8-110 words; every 125th document
    copies its predecessor and every 50th mutates two of its words, so
    the dedup queries find exact and near duplicates."""
    vocab = np.array(VOCAB)
    n_words = rng.integers(8, 110, n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        if i and i % 125 == 0:
            texts.append(texts[i - 1])
        elif i and i % 50 == 0:
            prev = texts[i - 1].split()
            for j in rng.integers(0, len(prev), 2):
                prev[int(j)] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(prev))
        else:
            words = vocab[rng.integers(0, len(vocab), int(n_words[i]))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    dim, n_labels = 64, 10
    cents = rng.standard_normal((n_labels, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = cents[labels] + 0.6 * rng.standard_normal((n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def ensure_tables(out_dir: str) -> str:
    """Generate the tables into ``out_dir`` unless a complete set is
    already there; return the data fingerprint (sha256 over every
    file's bytes), which keys the oracle cache."""
    manifest = os.path.join(out_dir, "MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)["fingerprint"]
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = build_tables(np.random.default_rng(DATA_SEED))
    digest = hashlib.sha256()
    for name in TABLES:
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(tables[name], path, compression="snappy")
        with open(path, "rb") as f:
            digest.update(name.encode() + f.read())
    fingerprint = digest.hexdigest()
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump({"fingerprint": fingerprint, "seed": DATA_SEED,
                   "sizes": SIZES}, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return fingerprint
