"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine's catalog reads (``catalog.TABLES``) as one
single-row-group SNAPPY parquet file each, with the schema, row counts and
value distributions of the project's reference test data: a TPC-H-like star
(region, nation, customer, supplier, part, orders, lineitem), an ``events``
stream, ``documents`` (word-soup text, 5 % near-duplicates) and 64-d unit
``embeddings``.  The same ``(sf, seed)`` always yields the same values, so
the benchmark's inputs depend only on its own files.

    python3 perfbench/datagen.py <out_dir> <sf>
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_EMB_DIM = 64


def _day_ts(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part),
                                              rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _day_ts(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        # ~5 % of docs re-emit an earlier one plus a marker token: the
        # near-duplicates the dedup operators exist to find
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, n_words)))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def generate(out_dir: str, sf: float, seed: int = SEED) -> str:
    """Write every table under ``out_dir`` unless a complete set is there.

    Files are written to a sibling temp directory and renamed into place, so
    an interrupted run never leaves a partial data set behind."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy", row_group_size=table.num_rows or 1)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(out_dir) or ".", exist_ok=True)
    os.rename(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    t0 = dt.datetime.now()
    generate(sys.argv[1], float(sys.argv[2]))
    print(f"wrote {sys.argv[1]} in {(dt.datetime.now() - t0).total_seconds():.1f}s")
