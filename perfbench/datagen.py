"""Seeded synthetic TPC-H-style tables for the benchmark.

The benchmark makes its own inputs so that a run reads nothing outside its
checkout and the same ``--seed`` always gives the same tables.  Schemas and
value ranges mirror the repo's fixture tables (see FIXTURES.md): uniform
keys and measures, day-granular ``timestamp[us]`` dates, a 31-word document
vocabulary with injected near-duplicates, and clustered 64-d embeddings.

``write_tables(out_dir, seed, scale)`` writes one ``<table>.parquet`` per
table; ``scale`` is the lineitem row count (other tables are sized from it).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: lineitem rows per run
SCALE = 20_000
_EPOCH = dt.datetime(1970, 1, 1)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    """Uniform midnight timestamps in [lo, hi] as timestamp[us]."""
    d0 = (dt.datetime.combine(lo, dt.time()) - _EPOCH).days
    d1 = (dt.datetime.combine(hi, dt.time()) - _EPOCH).days
    us = rng.integers(d0, d1 + 1, n).astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def lineitem(rng, n: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: copy an earlier doc and mutate ~5% of tokens
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in range(len(toks)):
                if rng.random() < 0.05:
                    toks[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            k = int(rng.integers(10, 100))
            toks = [_WORDS[int(w)] for w in rng.integers(0, len(_WORDS), k)]
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n),
            "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts]), pa.int64()),
        }
    )


def _embeddings(rng, n: int, dims: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (k, dims))
    labels = rng.integers(0, k, n)
    vecs = centers[labels] + rng.normal(0.0, 0.35, (n, dims))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(seed: int, scale: int) -> dict[str, pa.Table]:
    """All benchmark tables for ``seed``; ``scale`` = lineitem rows."""
    rng = np.random.default_rng(seed)
    n_orders = max(100, scale // 4)
    n_cust = max(50, scale // 40)
    n_supp = max(20, scale // 600)
    n_parts = max(50, scale // 30)
    nat = np.arange(25)
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(_REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nat, pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in nat]),
                "n_regionkey": pa.array(nat % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_parts), pa.int64()),
                "p_name": _pick(rng, [f"{a} {b}" for a in ("small", "red", "blue", "hot") for b in ("ring", "widget", "bolt", "gear")], n_parts),
                "p_brand": pa.array([f"Brand#{int(b)}" for b in rng.integers(1, 26, n_parts)]),
                "p_type": _pick(rng, ["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"], n_parts),
                "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_parts) % 1000) / 10.0, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_orders)),
                "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_orders),
                "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
            }
        ),
        "lineitem": lineitem(rng, scale, n_orders, n_parts, n_supp),
        "documents": _documents(rng, max(100, scale // 150)),
        "embeddings": _embeddings(rng, max(100, scale // 150)),
    }
    return out


def write_tables(out_dir: str, seed: int, scale: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
