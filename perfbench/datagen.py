"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables the engine's catalog reads (TPC-H-shaped star
schema, an ``events`` stream table, ``documents`` and ``embeddings``)
as one parquet file each, with the column names, types and value
shapes the registry queries expect. The corpus depends only on the
scale factor and ``DATA_SEED``: the workload seed varies the order and
positions of operations, never the data, so the expected output hashes
in ``expected.json`` stay valid for every seed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generator's output changes; cached corpora are keyed by it.
VERSION = 2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMB_DIM = 64
DUP_SHARE = 0.05


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``. Documents and embeddings
    grow in steps, and take their full count from sf0.01 up, so the
    curation mix measured there scans 2000 vectors and 5000 documents
    while its TPC-H tables stay small."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": 5000 if sf >= 0.01 else 500,
        "embeddings": 2000 if sf >= 0.01 else 500,
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, pa.timestamp("us"))


def _tables(sf: float) -> dict[str, pa.Table]:
    n = row_counts(sf)
    rng = np.random.default_rng(DATA_SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)],
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": np.char.add(
                np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, p)], " "),
                np.array(PART_NOUN)[rng.integers(0, 8, p)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)],
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
            "o_orderdate": _days(rng, "1995-01-01", 2405, o),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)],
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li),
            "l_partkey": rng.integers(0, p, li),
            "l_suppkey": rng.integers(0, s, li),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
            "l_shipdate": _days(rng, "1995-01-02", 2499, li),
        }
    )
    e = n["events"]
    month_us = 30 * 24 * 3600 * 1_000_000
    offs = np.sort(rng.integers(0, month_us, e))
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, max(15, int(15_000 * sf)), e),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, m).astype(np.int32),
        }
    )
    return out


def ensure_corpus(root: str, sf: float) -> str:
    """Return the directory holding the corpus at ``sf``, writing it on
    first use. The write goes to a temp name and is renamed into place,
    so an interrupted run never leaves a half-written corpus behind."""
    path = os.path.join(root, f"corpus-v{VERSION}-sf{sf:g}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, tbl in _tables(sf).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, path)
    except OSError:
        # another process finished the same corpus first
        shutil.rmtree(tmp)
    return path
