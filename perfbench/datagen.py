"""Deterministic synthetic inputs for the benchmark.

Writes the eight parquet tables the benchmark's queries read (the
TPC-H-like customer/orders/lineitem star with nation and region, plus
``events``, ``documents`` and ``embeddings``) with the schemas and
value distributions of the engine's test data.  The dataset is a pure
function of :data:`DATA_SEED`; the run seed only chooses the query
schedule and lookup keys, so every seed reads the same tables.

A few near- and exact-duplicate documents and clustered embeddings
give the dedup and top-k operators real work.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
#: bump when the generator changes, so a stale cached dataset is rebuilt
VERSION = 3
TABLES = "region nation customer orders lineitem events documents embeddings".split()

N_CUSTOMERS = 300
N_SUPPLIERS = 50  # key range of lineitem.l_suppkey
N_PARTS = 400  # key range of lineitem.l_partkey
N_ORDERS = 3_000
N_LINEITEMS = 4 * N_ORDERS
N_EVENTS = 2_000
N_USERS = 60
N_DOCUMENTS = 300
N_EMBEDDINGS = 300

_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "vector order line table data agg value key stream window spark a "
    "part group big sort query fast the"
).split()


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + seconds.astype(np.int64) * 1_000_000, pa.timestamp("us"))


def _days(rng, n: int, start: dt.datetime, span_days: int) -> pa.Array:
    return _ts(start, rng.integers(0, span_days, n) * 86_400)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_ord, n_li = N_CUSTOMERS, N_ORDERS, N_LINEITEMS
    n_ev, n_docs, n_emb = N_EVENTS, N_DOCUMENTS, N_EMBEDDINGS
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1_000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), 2_404),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    okey = np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64)
    first = np.searchsorted(okey, okey, side="left")
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, N_PARTS, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - first + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, dt.datetime(1995, 1, 2), 2_498),
    })
    ev_types = np.array(["click", "signup", "error", "view", "purchase"])
    ev_secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    base_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(base_us + (ev_secs * 1e6).astype(np.int64), pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, n_ev).astype(np.int64),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    long_docs: list[int] = []  # originals long enough to be copied
    for i in range(n_docs):
        r = rng.random()
        if long_docs and r < 0.03:  # exact copy
            texts.append(texts[long_docs[int(rng.integers(0, len(long_docs)))]])
        elif long_docs and r < 0.12:
            # near duplicate: one word of a long original replaced, so its
            # word-3-gram Jaccard with the original stays above 0.9 and far
            # from the 0.5 threshold the LSH dedup verifies against
            words = texts[long_docs[int(rng.integers(0, len(long_docs)))]].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            n_w = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n_w)))
            if n_w >= 60:
                long_docs.append(i)
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def ensure_dataset(root: Path) -> Path:
    """Return the dataset directory under ``root``, generating it first
    if it is missing or incomplete."""
    dst = root / f"v{VERSION}"
    done = dst / "_DONE"
    if done.exists():
        return dst
    tmp = root / f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in _tables().items():
        pq.write_table(table, tmp / f"{name}.parquet", row_group_size=1 << 30)
    (tmp / "_DONE").write_text("ok\n")
    shutil.rmtree(dst, ignore_errors=True)
    tmp.rename(dst)
    return dst
