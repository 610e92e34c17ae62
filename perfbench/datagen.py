"""Seeded input tables for the benchmark.

Writes the ten tables the engine reads (``region`` … ``embeddings``,
one ``<name>.parquet`` file each) with the same schemas, key ranges and
value distributions as the engine's TPC-H-ish test fixtures, scaled by
``sf``. Every value comes from ``numpy.random.default_rng(seed)``, so
one seed always gives byte-identical inputs and two seeds give inputs
of the same size and shape. Each file holds ``ROW_GROUPS`` row groups,
so a scan splits across cores instead of running as one task.

Foreign keys always resolve (every ``o_custkey`` is a customer, every
``c_nationkey`` a nation): the engine's weekly report assumes it.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

ROW_GROUPS = 4

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (the fixtures' scaling:
    the corpus tables have a 500-row floor)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, n: int, first: dt.date, last: dt.date) -> np.ndarray:
    span = (last - first).days + 1
    base = np.datetime64(first.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    nc, ns, np_, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
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
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    keys = np.arange(np_)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    out["events"] = _events(rng, n["events"], max(15, int(15_000 * sf)))
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _events(rng, ne: int, users: int) -> pa.Table:
    # ascending event times over January 2024 (30 days), µs resolution
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, ne))
    return pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })


def _documents(rng, nd: int) -> pa.Table:
    """Random-word documents; 5 % are near-duplicates (another
    document's text plus a trailing ``dup`` token), so the dedup
    operators have pairs to find."""
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(_WORDS), k)])
        for k in rng.integers(10, 101, nd)
    ]
    dups = rng.choice(nd, nd // 20, replace=False)
    originals = np.setdiff1d(np.arange(nd), dups)
    for d, src in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[src] + " dup"
    ids = np.arange(nd)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, ne: int) -> pa.Table:
    v = rng.standard_normal((ne, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, ne * EMBED_DIM + 1, EMBED_DIM), pa.int32()),
            flat,
        ),
        "label": pa.array(rng.integers(0, 10, ne), pa.int32()),
    })


def write_inputs(
    out_dir: str, sf: float, seed: int, tables=TABLES
) -> dict[str, dict[str, int]]:
    """Write ``tables`` under ``out_dir`` (all tables are generated, so
    a table's rows do not depend on which others are written); returns
    ``{table: {"rows": n, "bytes": file size}}``."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, table in _tables(sf, seed).items():
        if name not in tables:
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        rg = max(1, math.ceil(table.num_rows / ROW_GROUPS))
        pq.write_table(table, path, row_group_size=rg)
        stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return stats
