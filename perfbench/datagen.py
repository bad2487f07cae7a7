"""Deterministic fixture tables for the benchmark, written as Parquet.

The same star schema the engine's fixtures use (``region nation customer
supplier part orders lineitem events documents embeddings``), drawn from a
fixed seed so every run and every machine reads identical inputs. Row counts
scale with the scale factor like TPC-H (``orders = 1.5M x sf``); the text and
vector tables keep 500 rows at every scale, as the engine's fixtures do.

Timestamps are written as Parquet ``TIMESTAMP(MICROS)`` without a time zone,
so Spark reads them as ``timestamp_ntz`` and DuckDB as ``TIMESTAMP``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

WORDS = (
    "a the data query table spark join agg sort hash merge scan filter key "
    "value row column part order line customer group window stream batch "
    "fast slow big small index search engine plan cache shard node"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "red", "blue", "hot", "old", "green", "large", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "rod", "plate", "nut")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
N_TEXT_ROWS = 500
EMBED_DIM = 64
N_CLUSTERS = 10


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + seconds.astype(np.int64) * 1_000_000, pa.timestamp("us"))


def _days(rng, n: int, start: dt.datetime, end: dt.datetime) -> pa.Array:
    span = (end - start).days
    return _ts(start, rng.integers(0, span + 1, n) * 86_400)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float) -> dict[str, pa.Table]:
    """Every fixture table at scale ``sf``, drawn from ``FIXTURE_SEED``."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_events = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
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
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    gaps = rng.exponential(30 * 86_400 / n_events, n_events)
    start = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(start + np.cumsum(gaps * 1_000_000).astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": _money(rng, n_events, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng) -> pa.Table:
    """500 bag-of-words texts; one in twenty is a light edit of an earlier
    original, so the near-duplicate kernels have a few pairs to find."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(N_TEXT_ROWS):
        if i >= 20 and rng.random() < 1 / 20:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            originals.append(i)
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(N_TEXT_ROWS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), N_TEXT_ROWS)],
        "source": [f"src{i % 20}" for i in range(N_TEXT_ROWS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    """500 unit vectors around 10 loose cluster centres; label = cluster."""
    centres = rng.normal(size=(N_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, N_CLUSTERS, N_TEXT_ROWS)
    vecs = centres[labels] + rng.normal(scale=1.2, size=(N_TEXT_ROWS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_TEXT_ROWS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def ensure(root: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``root`` once; return the directory.

    The directory name carries a digest of this file, so an edited generator
    never serves stale tables. Writes go to a temporary directory that is
    renamed into place, so an interrupted run leaves nothing half written.
    """
    import hashlib

    with open(__file__, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(root, f"sf{sf}-{digest}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, path)
    return path
