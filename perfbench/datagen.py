"""Synthetic input tables for the benchmark, written as parquet.

The tables have the schemas, key ranges and value distributions of the
project's fixture tables (TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``), at a fixed small size.

The table *content* is fixed: it comes from ``CONTENT_SEED``, so the outputs
of every workload are fixed too and can be compared with committed expected
fingerprints. The run seed changes what the program sees without changing
what it must answer: the physical row order of every table, and (for the
ingest workload) how documents are split into landing files.

Documents carry planted duplicate clusters, like the fixtures: exact copies,
and near copies made by appending the token ``dup`` to a source text of at
least 12 words (3-word-shingle Jaccard >= 0.9). Random texts over the
31-word vocabulary share almost no shingles, so the planted clusters are the
only duplicate clusters; :func:`duplicate_clusters` returns them.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101

SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 600,
    "embeddings": 400,
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
EXACT_DUPS = 6

_EPOCH = datetime(1970, 1, 1)


def _days_us(start: datetime, days: np.ndarray) -> np.ndarray:
    base = int((start - _EPOCH).total_seconds()) * 1_000_000
    return base + days.astype(np.int64) * 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _dims(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_c, n_s, n_p = SIZES["customer"], SIZES["supplier"], SIZES["part"]
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_c), 2)),
        "c_mktsegment": segs[rng.integers(0, 5, n_c)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_s), 2)),
    })
    adj = np.array(["large", "hot", "blue", "old", "small", "green", "shiny"])
    noun = np.array(["ring", "bolt", "plate", "nut", "gear", "pipe"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(adj[rng.integers(0, 7, n_p)], noun[rng.integers(0, 6, n_p)])
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": types[rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2)),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part,
    }


def _facts(rng: np.random.Generator, part: pa.Table) -> dict[str, pa.Table]:
    n_o = SIZES["orders"]
    o_days = rng.integers(0, 2404, n_o)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, SIZES["customer"], n_o).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_o), 2)),
        "o_orderdate": _ts(_days_us(datetime(1995, 1, 1), o_days)),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_o)],
    })
    lines = rng.integers(1, 8, n_o)
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    n_l = len(okey)
    lnum = (np.arange(n_l) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    pkey = rng.integers(0, SIZES["part"], n_l).astype(np.int64)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    price = np.asarray(part.column("p_retailprice"))[pkey]
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(rng.integers(0, SIZES["supplier"], n_l).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price * rng.uniform(0.9, 1.0, n_l), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _ts(
            _days_us(datetime(1995, 1, 1), np.repeat(o_days, lines) + rng.integers(1, 122, n_l))
        ),
    })
    n_e = SIZES["events"]
    span_us = 30 * 86_400 * 1_000_000
    ev_us = np.sort(rng.integers(0, span_us, n_e)) + _days_us(datetime(2024, 1, 1), np.zeros(1))[0]
    events = pa.table({
        "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "ts": _ts(ev_us),
        "user_id": pa.array(rng.integers(0, 1500, n_e).astype(np.int64)),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_e)
        ],
        "value": pa.array(np.round(rng.exponential(40.0, n_e).clip(0, 560.21), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    return {"orders": orders, "lineitem": lineitem, "events": events}


def _documents(rng: np.random.Generator) -> tuple[pa.Table, list[list[int]]]:
    n = SIZES["documents"]
    vocab = np.array(VOCAB)
    words = [list(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(8, 100, n)]
    texts = [" ".join(w) for w in words]
    # plant duplicates: each copy overwrites a random document with the text
    # of a distinct source that is never itself overwritten, so every cluster
    # is one source plus one copy
    clusters: dict[int, list[int]] = {}
    order = rng.permutation(n)
    n_near = int(n * NEAR_DUP_SHARE)
    copies = order[: n_near + EXACT_DUPS]
    sources = [i for i in order[n_near + EXACT_DUPS:] if len(words[i]) >= 12]
    for j, dst in enumerate(copies):
        src = sources[j]
        near = j < n_near
        texts[dst] = texts[src] + " dup" if near else texts[src]
        clusters.setdefault(src, [src]).append(int(dst))
    langs, probs = zip(*LANGS)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": np.array(langs)[rng.choice(len(langs), n, p=probs)],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return table, [sorted(c) for c in clusters.values()]


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n = SIZES["embeddings"]
    x = rng.standard_normal((n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def content() -> tuple[dict[str, pa.Table], list[list[int]]]:
    """Every input table (fixed content) and the planted duplicate clusters
    of ``documents`` (each a sorted list of doc ids, the source first)."""
    rng = np.random.default_rng(CONTENT_SEED)
    tables = _dims(rng)
    tables.update(_facts(rng, tables["part"]))
    docs, clusters = _documents(rng)
    tables["documents"] = docs
    tables["embeddings"] = _embeddings(rng)
    return tables, clusters


def salted_bucket(key: int, seed: int, buckets: int) -> int:
    """Stable bucket of ``key`` under ``seed`` (independent of PYTHONHASHSEED)."""
    digest = hashlib.blake2b(f"{seed}:{key}".encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little") % buckets


def write_tables(tables: dict[str, pa.Table], out_dir: str, seed: int) -> None:
    """Write each table to ``out_dir/<name>.parquet`` with its rows in an
    order drawn from ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in tables.items():
        perm = rng.permutation(table.num_rows)
        pq.write_table(table.take(pa.array(perm)), os.path.join(out_dir, f"{name}.parquet"))


def write_landing(docs: pa.Table, out_dir: str, seed: int, n_files: int) -> list[str]:
    """Split ``docs`` into ``n_files`` landing files by a seed-salted hash of
    ``doc_id``. File modification times increase with the file index, so a
    file stream reads them in index order."""
    os.makedirs(out_dir, exist_ok=True)
    ids = docs.column("doc_id").to_pylist()
    bucket = np.array([salted_bucket(i, seed, n_files) for i in ids])
    paths = []
    base = datetime(2024, 1, 1).timestamp()
    for f in range(n_files):
        path = os.path.join(out_dir, f"part-{f:03d}.parquet")
        pq.write_table(docs.filter(pa.array(bucket == f)), path)
        os.utime(path, (base + 60 * f, base + 60 * f))
        paths.append(path)
    return paths

