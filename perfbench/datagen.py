"""Seeded synthetic inputs for the benchmark.

Every table has the column names, types and value domains of the
repository's test tables (TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``), drawn uniformly like them. Sizes are
given by a scale factor ``sf`` with the test tables' row ratios: at
sf=0.01 there are 60,000 lineitem rows, 15,000 orders, 1,500
customers, 10,000 events, 500 documents and 500 embeddings.

The same (seed, sf) always gives byte-identical parquet files.
``ensure`` caches each generated directory under the checkout, keyed by
its parameters, so repeated runs with one seed generate once.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "a the data table column row query scan filter join group sort order "
    "window hash merge stream batch key value part line customer vector "
    "agg spark small big fast slow"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("blue", "cold", "hot", "large", "new", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

ORDER_DAYS = (datetime(1995, 1, 1), datetime(2001, 8, 1))
SHIP_DAYS = (datetime(1995, 1, 2), datetime(2001, 11, 4))
EVENTS_START = datetime(2024, 1, 1)
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
EMBED_DIM = 64
# generated directories kept in the cache; the least recently used go
CACHE_KEEP = 8


def row_counts(sf: float) -> dict[str, int]:
    base = {
        "customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "embeddings": 50_000,
    }
    out = {t: max(10, int(round(n * sf))) for t, n in base.items()}
    out["region"], out["nation"] = 5, 25
    return out


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _days(rng: np.random.Generator, lo: datetime, hi: datetime, n: int) -> pa.Array:
    span = (hi - lo).days
    us = (np.datetime64(lo, "us") + rng.integers(0, span + 1, n) * np.timedelta64(86_400_000_000, "us"))
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(n: int, offset: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64) + offset, pa.int64())


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Generate every table at scale ``sf``. Key columns are shifted by a
    seeded offset (consistently across tables, so joins are unchanged),
    and every value column is drawn from the seeded generator."""
    n = row_counts(sf)
    rng = np.random.default_rng(seed)
    # offsets stay below 64M: the SCD2 query treats keys >= 90M as inserts
    off = int(rng.integers(0, 64)) * 1_000_000
    n_users = max(10, n["customer"] // 10)
    out: dict[str, pa.Table] = {}
    for i, t in enumerate(ALL_TABLES):
        r = np.random.default_rng([seed, i])
        k = n[t]
        if t == "region":
            out[t] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                               "r_name": pa.array(REGIONS, pa.string())})
        elif t == "nation":
            out[t] = pa.table({
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            })
        elif t == "customer":
            keys = np.arange(k, dtype=np.int64) + off
            out[t] = pa.table({
                "c_custkey": pa.array(keys, pa.int64()),
                "c_name": pa.array([f"Customer#{x:09d}" for x in keys], pa.string()),
                "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
                "c_acctbal": pa.array(_money(r, -999.99, 9999.99, k), pa.float64()),
                "c_mktsegment": _pick(r, SEGMENTS, k),
            })
        elif t == "supplier":
            keys = np.arange(k, dtype=np.int64) + off
            out[t] = pa.table({
                "s_suppkey": pa.array(keys, pa.int64()),
                "s_name": pa.array([f"Supplier#{x:09d}" for x in keys], pa.string()),
                "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
                "s_acctbal": pa.array(_money(r, -999.99, 9999.99, k), pa.float64()),
            })
        elif t == "part":
            names = [f"{c} {w}" for c in COLORS for w in NOUNS]
            out[t] = pa.table({
                "p_partkey": _keys(k, off),
                "p_name": _pick(r, names, k),
                "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], k),
                "p_type": _pick(r, PART_TYPES, k),
                "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
                "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) * 0.1, 1), pa.float64()),
            })
        elif t == "orders":
            out[t] = pa.table({
                "o_orderkey": _keys(k, off),
                "o_custkey": pa.array(r.integers(0, n["customer"], k) + off, pa.int64()),
                "o_orderstatus": _pick(r, ("F", "O", "P"), k),
                "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, k), pa.float64()),
                "o_orderdate": _days(r, *ORDER_DAYS, k),
                "o_orderpriority": _pick(r, PRIORITIES, k),
            })
        elif t == "lineitem":
            out[t] = pa.table({
                "l_orderkey": pa.array(r.integers(0, n["orders"], k) + off, pa.int64()),
                "l_partkey": pa.array(r.integers(0, n["part"], k) + off, pa.int64()),
                "l_suppkey": pa.array(r.integers(0, n["supplier"], k) + off, pa.int64()),
                "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
                "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64), pa.float64()),
                "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, k), pa.float64()),
                "l_discount": pa.array(np.round(r.uniform(0, 0.1, k), 2), pa.float64()),
                "l_tax": pa.array(np.round(r.uniform(0, 0.08, k), 2), pa.float64()),
                "l_returnflag": _pick(r, ("A", "N", "R"), k),
                "l_linestatus": _pick(r, ("F", "O"), k),
                "l_shipdate": _days(r, *SHIP_DAYS, k),
            })
        elif t == "events":
            out[t] = events_table(r, k, n_users, off)
        elif t == "documents":
            out[t] = documents_table(r, k)
        elif t == "embeddings":
            vecs = r.standard_normal((k, EMBED_DIM)).astype(np.float32)
            vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
            out[t] = pa.table({
                "vec_id": _keys(k, 0),
                "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM).cast(
                    pa.list_(pa.float32())
                ),
                "label": pa.array(r.integers(0, 10, k), pa.int32()),
            })
    return out


def events_table(
    r: np.random.Generator, k: int, n_users: int, off: int, span_us: int = EVENTS_SPAN_US
) -> pa.Table:
    """``k`` events over ``span_us`` (30 days by default) in event-id
    order, with distinct microsecond timestamps (so every order by
    ``ts`` is total)."""
    us = np.sort(r.choice(span_us, size=k, replace=False))
    ts = np.datetime64(EVENTS_START, "us") + us.astype("timedelta64[us]")
    return pa.table({
        "event_id": _keys(k, off),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, k) + off, pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, k),
        "value": pa.array(np.round(np.minimum(r.exponential(50.0, k), 560.0), 2), pa.float64()),
        "props": pa.array([f'{{"k": {x}}}' for x in r.integers(0, 100, k)], pa.string()),
    })


def documents_table(r: np.random.Generator, k: int) -> pa.Table:
    """Bag-of-words documents over VOCAB with planted exact duplicates
    (~0.2%) and near-duplicates (~3%, ~10% token churn), so the dedup
    families find work."""
    texts: list[str] = []
    for i in range(k):
        u = r.random()
        if i > 20 and u < 0.002:
            t = texts[int(r.integers(0, i))]
        elif i > 20 and u < 0.03:
            base = texts[int(r.integers(0, i))].split()
            churn = r.random(len(base)) < 0.1
            repl = r.integers(0, len(VOCAB), len(base))
            t = " ".join(VOCAB[repl[j]] if churn[j] else w for j, w in enumerate(base))
        else:
            words = r.integers(0, len(VOCAB), max(4, int(r.normal(42, 14))))
            t = " ".join(VOCAB[j] for j in words)
        texts.append(t)
    return pa.table({
        "doc_id": _keys(k, 0),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(r, LANGS, k),
        "source": pa.array([f"src{x}" for x in r.integers(0, 20, k)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_dir(path: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(path, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(path, f"{name}.parquet"))


def ensure(cache_root: str, seed: int, sf: float) -> tuple[str, dict[str, int]]:
    """Return (directory, row counts) of the generated tables, building
    them on first use. The directory appears atomically (rename), so
    an interrupted build is never reused."""
    tag = f"seed{seed}_sf{sf:g}"
    path = os.path.join(cache_root, tag)
    meta = os.path.join(path, "rows.json")
    if not os.path.exists(meta):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        built = make_tables(seed, sf)
        write_dir(tmp, built)
        with open(os.path.join(tmp, "rows.json"), "w") as fh:
            json.dump({t: v.num_rows for t, v in built.items()}, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    _touch_and_prune(cache_root, path)
    with open(meta) as fh:
        return path, json.load(fh)


def _touch_and_prune(cache_root: str, path: str) -> None:
    os.utime(path)
    dirs = [os.path.join(cache_root, d) for d in os.listdir(cache_root) if ".tmp" not in d]
    for old in sorted(dirs, key=os.path.getmtime)[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)


def ensure_event_slices(
    cache_root: str, seed: int, n_slices: int, rows: int, hours: int, n_users: int
) -> tuple[str, list[str]]:
    """Disjoint, time-ordered slices of an event stream, one parquet
    file each: slice ``i`` holds ``rows`` events with IDs and
    timestamps after every event of slice ``i - 1``, spread over
    ``hours`` of event time. Cached like :func:`ensure`."""
    tag = f"seed{seed}_slices{n_slices}x{rows}_{hours}h_{n_users}u"
    path = os.path.join(cache_root, tag)
    names = [f"slice_{i:04d}.parquet" for i in range(n_slices)]
    if not os.path.exists(os.path.join(path, names[-1])):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        span_us = hours * 3_600 * 1_000_000
        off = int(np.random.default_rng(seed).integers(0, 64)) * 1_000_000
        for i, name in enumerate(names):
            r = np.random.default_rng([seed, 100 + i])
            tbl = events_table(r, rows, n_users, off, span_us)
            us = tbl.column("ts").cast(pa.int64()).to_numpy() + i * span_us
            tbl = tbl.set_column(0, "event_id", _keys(rows, off + i * rows))
            tbl = tbl.set_column(1, "ts", pa.array(us, pa.int64()).cast(pa.timestamp("us")))
            pq.write_table(tbl, os.path.join(tmp, name))
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    _touch_and_prune(cache_root, path)
    return path, [os.path.join(path, n) for n in names]
