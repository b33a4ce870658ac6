"""Deterministic corpus for the benchmark: the ten tables the registry
reads (TPC-H-ish star schema plus events, documents and embeddings),
written as one single-row-group Parquet file each.

The shapes follow the reference test corpus the registry was written against
(column names, types, value domains and row counts per scale factor), so
every registry entry runs unchanged on it and every oracle computed from
the corpus applies. The
values come from NumPy's PCG64 stream seeded with ``seed``: one seed, one
corpus, byte for byte.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
EMBED_DIM = 64
N_LABELS = 10
N_SOURCES = 20

# Rows per table at scale factor 1 (the reference corpus scales linearly).
ROWS_AT_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}


def _rows(table: str, sf: float) -> int:
    return max(1, int(round(ROWS_AT_SF1[table] * sf)))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All ten tables as pandas frames, a pure function of (sf, seed)."""
    rng = np.random.default_rng(seed)
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(REGIONS),
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })

    n = _rows("customer", sf)
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })
    n = _rows("supplier", sf)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = _rows("part", sf)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n)],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2),
    })
    n_orders = _rows("orders", sf)
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, len(out["customer"]), n_orders),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    n = _rows("lineitem", sf)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, len(out["part"]), n),
        "l_suppkey": rng.integers(0, len(out["supplier"]), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0, 0.10, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n),
        "l_linestatus": rng.choice(("F", "O"), n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })

    n = _rows("events", sf)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, int(round(15_000 * sf))), n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    out["documents"] = _documents(rng, _rows("documents", sf))
    out["embeddings"] = _embeddings(rng, _rows("embeddings", sf))
    return out


def _documents(rng, n: int) -> pd.DataFrame:
    """Bag-of-words texts of 10-100 words. One document in twenty is a
    near-duplicate (another document's text plus a trailing ``dup``) and
    one in five hundred an exact copy, so the dedup operators find work."""
    words = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    near = rng.random(n) < 0.05
    exact = rng.random(n) < 0.002
    src = rng.integers(0, n, n)
    for i in np.flatnonzero(near | exact):
        j = int(src[i])
        if j != i and not (near[j] or exact[j]):
            texts[i] = texts[j] + (" dup" if near[i] else "")
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pd.DataFrame:
    """Unit vectors around ten weak label centroids (float32)."""
    centers = rng.normal(0.0, 0.02, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    x = centers[labels] + rng.normal(0.0, 0.125, (n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(x),
        "label": labels.astype(np.int32),
    })


def write_corpus(out_dir: str, sf: float, seed: int) -> str:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns out_dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, df in build_tables(sf, seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding",
                pa.array(df["embedding"].tolist(), type=pa.list_(pa.float32())),
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, len(df)))
    return out_dir
