"""Seeded input generation for the benchmark workloads.

Everything here is numpy + pyarrow and writes parquet files: the engine
under test only ever reads the files. The same seed always yields the
same bytes. Table shapes follow the engine's test data (``customer
orders lineitem events`` for the SQL workload, a document corpus and
embedding vectors for curation), one file and one row group per table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vector_column(v: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(v.reshape(-1), pa.float32()), DIM
    ).cast(pa.list_(pa.float32()))


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the tables the registry queries of the SQL workload read, at
    ``scale`` (1.0 ~ TPC-H sf1 row counts), into ``out_dir``; returns rows
    per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(20_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 200)
    n_ev = max(int(1_000_000 * scale), 500)
    tables: dict[str, pa.Table] = {}
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    o_date = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(o_date, lines) + rng.integers(1, 122, n_li) * _DAY_US
    li = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - first + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship),
    })
    # lineitem rows land in shuffled order, like the test data
    tables["lineitem"] = li.take(rng.permutation(n_li))
    ev_ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(n_cust // 10, 10), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    for name, t in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), t)
    return {name: t.num_rows for name, t in tables.items()}


@dataclass
class Corpus:
    """Curation inputs plus their planted ground truth."""

    docs_path: str
    vecs_path: str
    n_docs: int
    n_vecs: int
    dup_pairs: set[tuple[int, int]]  # planted near-duplicate (low, high) ids
    n_exact: int  # documents planted as exact copies of another
    query_ids: list[int]  # vectors with planted neighbours
    neighbours: dict[int, set[int]]  # query id -> planted neighbour ids


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                 n_queries: int = 16, copies: int = 5) -> Corpus:
    """Token-salted documents with ~2% planted near-copies (one word
    replaced near the end, so each copy keeps Jaccard >= 0.9 with its
    original) and ~1% exact copies, and unit vectors with ``copies``
    jittered near-copies planted per query vector."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_dup, n_exact = n_docs // 50, n_docs // 100
    n_base = n_docs - n_dup - n_exact
    salts = VOCAB + [w + s for w in VOCAB for s in "bdfgkmpv"]
    lens = rng.integers(40, 100, n_base)
    words = rng.integers(0, len(salts), int(lens.sum()))
    texts, at = [], 0
    for ln in lens:
        texts.append([salts[w] for w in words[at:at + ln]])
        at += ln
    src = rng.choice(n_base, n_dup, replace=False)
    pairs: set[tuple[int, int]] = set()
    for j, s in enumerate(src):
        copy = list(texts[s])
        pos = len(copy) - 1 - int(rng.integers(0, 3))
        copy[pos] = "planted"
        texts.append(copy)
        pairs.add((int(s), n_base + j))
    texts += [list(texts[s]) for s in rng.choice(n_base, n_exact, replace=False)]
    ids = rng.permutation(n_docs).astype(np.int64)  # ids don't reveal copies
    pairs = {tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in pairs}
    docs = pa.table({
        "doc_id": ids,
        "text": [" ".join(t) for t in texts],
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
    })
    n_plant = n_queries * copies
    base = _unit_vectors(rng, n_vecs - n_plant)
    q_rows = rng.choice(len(base), n_queries, replace=False)
    planted = []
    for j in range(1, copies + 1):
        planted.append(base[q_rows] * np.float32(1.0 + 0.002 * j))
    vecs = np.concatenate([base] + planted)
    vids = np.arange(len(vecs), dtype=np.int64)
    neighbours = {
        int(q): {len(base) + (j - 1) * n_queries + i for j in range(1, copies + 1)}
        for i, q in enumerate(q_rows)
    }
    vt = pa.table({"vec_id": vids, "embedding": _vector_column(vecs)})
    docs_path = os.path.join(out_dir, "corpus_docs.parquet")
    vecs_path = os.path.join(out_dir, "corpus_vecs.parquet")
    _write(docs_path, docs)
    _write(vecs_path, vt)
    return Corpus(docs_path, vecs_path, n_docs, len(vecs), pairs, n_exact,
                  sorted(neighbours), neighbours)

