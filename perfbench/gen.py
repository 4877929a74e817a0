"""Seeded input generator for the benchmark workloads.

Every table is synthesized from ``numpy.random.default_rng(seed)`` with the
same schemas and value ranges as the engine's synthetic TPC-H-style test
tables (customer / orders / lineitem / documents / embeddings), so registry queries and their DuckDB oracles run
unchanged against the generated directory. The engine only ever sees the
parquet files written here; generation time is outside every metric.

``SIZES`` holds the row counts per workload and scale, and ``SIZE_NOTES``
the reason for each; both are copied into the benchmark's result.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
# skewed sources, so some (language, source) cells fall under the release threshold
SOURCE_P = 1.0 / np.arange(1, 21) ** 1.5
SOURCE_P /= SOURCE_P.sum()
WORDS = (
    "spark column row line query big fast data stream window table order customer "
    "part vector small merge value scan join hash key agg slow filter sort batch "
    "the a of and to in is"
).split()

# Row counts per (workload, scale). "bench" is what the timed region runs;
# "smoke" is the warm-up / smoke-test size (the sf0.001 shape).
SIZES = {
    "anon_release": {
        "bench": {"customer": 15_000, "orders": 150_000, "lineitem": 150_000},
        "smoke": {"customer": 150, "orders": 1_500, "lineitem": 1_500},
    },
    "corpus_curation": {
        "bench": {"documents": 6_000, "embeddings": 1_500},
        "smoke": {"documents": 300, "embeddings": 100},
    },
}

SIZE_NOTES = {
    "anon_release": (
        "sf0.1 orders (150k rows) with long-tailed prices and a price-dependent status, so "
        "k-anonymity and t-closeness suppress real classes; 150k lineitem rows feed the DP "
        "histogram; 15k customers (sf0.1) feed the KMeans clustering release; per-call job "
        "overhead dominates, larger inputs overrun the run budget"
    ),
    "corpus_curation": (
        "documents at 1.2x sf0.1 (6k) with 10% exact and 10% near duplicates and PII in "
        "15%, also split into 3 files, one per micro-batch of the stream replay; 1.5k embeddings "
        "so the quadratic per-label cosine scoring stays near one second"
    ),
}

EXACT_DUP_RATE = 0.10
NEAR_DUP_RATE = 0.10
PII_RATE = 0.15
# the documents table split into this many files, one micro-batch each in the stream replay
STREAM_FILES = 3
STREAM_DIR = "stream-documents"
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    micros = int(base.timestamp()) * 1_000_000 + (seconds * 1_000_000).astype(np.int64)
    return pa.array(micros, type=pa.timestamp("us"))


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int64)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        }
    )


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    """Long-tailed prices (the top price bins hold classes smaller than k)
    and an order status that drifts with price (expensive classes sit far
    from the table-wide status distribution, so t-closeness drops them)."""
    price = np.round(1000.0 + rng.exponential(60000.0, n), 2)
    p_f = 0.3 + 0.3 * np.minimum(price / 400000.0, 1.0)
    u = rng.random(n)
    status = np.where(u < p_f, "F", np.where(u < p_f + (1 - p_f) / 2, "O", "P"))
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
            "o_orderstatus": pa.array(status),
            "o_totalprice": pa.array(price),
            "o_orderdate": _ts(datetime(1995, 1, 1), rng.integers(0, 2404, n) * 86400.0),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
        }
    )


def _lineitem(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, 20_000, n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": _ts(datetime(1995, 1, 1), rng.integers(0, 2404, n) * 86400.0),
        }
    )


def _pii(rng: np.random.Generator) -> str:
    kind = rng.integers(0, 3)
    if kind == 0:
        return f"user{rng.integers(0, 10_000)}@example.com"
    if kind == 1:
        return f"{rng.integers(200, 999)}-{rng.integers(200, 999)}-{rng.integers(1000, 9999)}"
    return f"{rng.integers(100, 899)}-{rng.integers(10, 99)}-{rng.integers(1000, 9999)}"


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Documents with exact and near duplicates injected at fixed rates
    (which documents are copied is seed-drawn) and PII in a share of
    them, so redaction, the Gopher gate and both dedup flavours do work."""
    words = np.array(WORDS)
    texts: list[str] = []
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < EXACT_DUP_RATE:
            texts.append(texts[rng.integers(0, i)])
            continue
        if i > 10 and kind[i] < EXACT_DUP_RATE + NEAR_DUP_RATE:
            toks = texts[rng.integers(0, i)].split(" ")
            toks[rng.integers(0, len(toks))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(toks))
            continue
        toks = list(words[rng.integers(0, len(words), rng.integers(20, 90))])
        if rng.random() < PII_RATE:
            toks.insert(int(rng.integers(0, len(toks))), _pii(rng))
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{v}" for v in rng.choice(20, n, p=SOURCE_P)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(0.0, 0.1, (n, dim)).astype(np.float32)
    labels = rng.integers(0, 10, n).astype(np.int32)
    # near-duplicate vectors: a copy of an earlier vector plus small noise
    dup = np.flatnonzero(rng.random(n) < NEAR_DUP_RATE)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(np.int64)
    vecs[dup] = vecs[src] + rng.normal(0.0, 0.005, (len(dup), dim)).astype(np.float32)
    labels[dup] = labels[src]
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def generate(workload: str, scale: str, seed: int, out_dir: str) -> dict[str, int]:
    """Write the inputs of ``workload`` at ``scale`` into ``out_dir`` and
    return the row count per table."""
    sizes = SIZES[workload][scale]
    # one stream of draws per (workload, scale, seed): same seed, same inputs
    rng = np.random.default_rng([seed, list(SIZES).index(workload), scale == "bench"])
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    if workload == "anon_release":
        tables["customer"] = _customer(rng, sizes["customer"])
        tables["orders"] = _orders(rng, sizes["orders"], sizes["orders"] // 10)
        tables["lineitem"] = _lineitem(rng, sizes["lineitem"], sizes["orders"])
    if workload == "corpus_curation":
        tables["documents"] = _documents(rng, sizes["documents"])
        tables["embeddings"] = _embeddings(rng, sizes["embeddings"])
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    if workload == "corpus_curation":
        stream_dir = os.path.join(out_dir, STREAM_DIR)
        os.makedirs(stream_dir, exist_ok=True)
        docs = tables["documents"]
        step = -(-docs.num_rows // STREAM_FILES)
        for i in range(STREAM_FILES):
            pq.write_table(docs.slice(i * step, step), os.path.join(stream_dir, f"part-{i}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
