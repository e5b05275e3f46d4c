"""Seeded generators for the benchmark's inputs.

Two kinds of input are made here, both from a seed alone:

- ``write_tables``: the engine's star-schema fixture (region, nation,
  customer, supplier, part, orders, lineitem, events, documents,
  embeddings) as one Parquet file per table, with the column names and
  types the engine's queries and their DuckDB oracles read.
- ``workload_matrix``: a queries x hint-sets latency matrix with an
  initial observation mask, standing in for the reference's JOB/CEB/DSB
  matrices. It is heavy-tailed (lognormal), low-rank in log space, and
  has column 0 (the optimizer default) always observed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJECTIVES = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400 * 1_000_000


def _row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(int(15_000 * sf), 50),
        "documents": int(50_000 * sf),
        "embeddings": min(int(50_000 * sf), 2_000),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad documents; about 5% are near-duplicates of an earlier
    document (a copy with a trailing marker token), so the dedup operators
    have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
            continue
        words = rng.choice(_WORDS, size=int(rng.integers(8, 90)))
        texts.append(" ".join(words))
    return texts


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every fixture table for scale factor ``sf`` under ``out_dir``;
    returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = _row_counts(sf)
    rows: dict[str, int] = {}

    def put(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows

    put("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    put("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    nc = n["customer"]
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    }))

    ns = n["supplier"]
    put("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }))

    npart = n["part"]
    pkeys = np.arange(npart)
    retail = np.round(900.0 + (pkeys % 1000) * 0.1, 1)
    put("part", pa.table({
        "p_partkey": pa.array(pkeys, pa.int64()),
        "p_name": [
            f"{a} {b}" for a, b in zip(rng.choice(_ADJECTIVES, npart), rng.choice(_NOUNS, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    }))

    no = n["orders"]
    order_day = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": pa.array(_EPOCH_1995 + order_day * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    }))

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = np.arange(nl) - starts + 1
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, nl)
    put("lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(_EPOCH_1995 + ship_day * _DAY_US, pa.timestamp("us")),
    }))

    ne = n["events"]
    span_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, span_us, ne))
    put("events", pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }))

    nd = n["documents"]
    texts = _documents(rng, nd)
    put("documents", pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_WEIGHTS),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    nv, dim = n["embeddings"], 64
    labels = rng.integers(0, 10, nv)
    centers = rng.standard_normal((10, dim))
    vecs = 0.15 * centers[labels] + rng.standard_normal((nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))
    return rows


@dataclass(frozen=True)
class MatrixParams:
    """Parameters of the synthetic workload matrix; recorded in every
    result file so a run can be reproduced from it."""

    n_queries: int
    n_hints: int = 49
    #: rank of the hint effect in log space
    rank: int = 2
    #: median default-plan latency, seconds
    median_s: float = 5.0
    #: lognormal sigma of the per-query default latency (the heavy tail)
    query_sigma: float = 1.2
    #: scale of the low-rank hint effect, log space
    hint_sigma: float = 0.7
    #: mean log slow-down of a non-default hint (most hints hurt)
    hint_shift: float = 0.3
    #: independent per-cell noise, log space
    noise_sigma: float = 0.1
    #: share of non-default cells whose plan equals the default plan
    same_plan_share: float = 0.3
    #: share of all cells observed at the start, column 0 included
    mask_density: float = 0.07


def workload_matrix(params: MatrixParams, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Latency matrix (queries x hints, seconds) and its initial 0/1 mask.

    log latency = per-query base + low-rank hint effect + noise; hint 0 is
    the optimizer default and carries neither effect nor noise. A share of
    cells repeat the default latency exactly: the strategies treat equal
    latencies in a row as one plan."""
    rng = np.random.default_rng(seed)
    q, h, r = params.n_queries, params.n_hints, params.rank
    base = np.log(params.median_s) + params.query_sigma * rng.standard_normal((q, 1))
    u = rng.standard_normal((q, r))
    v = rng.standard_normal((h, r))
    effect = params.hint_sigma * (u @ v.T) / np.sqrt(r) + params.hint_shift
    effect += params.noise_sigma * rng.standard_normal((q, h))
    effect[:, 0] = 0.0
    matrix = np.exp(base + effect)
    same = rng.random((q, h)) < params.same_plan_share
    matrix = np.where(same, matrix[:, :1], matrix)
    # column 0 is always observed; the other columns fill the rest of the density
    p_other = (params.mask_density * h - 1.0) / (h - 1.0)
    mask = (rng.random((q, h)) < p_other).astype(np.float64)
    mask[:, 0] = 1.0
    return matrix, mask
