"""Seeded input generator for the benchmark.

Writes the ten fixture tables the engine's queries read (the TPC-H-ish
star schema, the ``events`` stream table and the LLM-pipeline
``documents``/``embeddings`` tables) with the same column names,
physical types and value domains as the engine's reference fixtures,
so every registered query and its DuckDB oracle run unchanged. The same
seed always gives byte-identical inputs.

Also writes event *shards* for the streaming workloads: shard ``k`` has
ids disjoint from every other shard and event time shifted forward by
``k`` spans, so replaying one shard per micro-batch keeps event time
monotone and the watermark advancing (nothing is dropped as late).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000
EVENT_SPAN_US = 30 * DAY_US
ID_OFFSET = 10_000_000

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)

#: Timestamp columns (``events.ts``, ``o_orderdate``, ``l_shipdate``) are
#: parquet TIMESTAMP(MICROS) with isAdjustedToUTC=false, as in the
#: engine's reference fixtures. The engine also accepts TIMESTAMP(NANOS)
#: events (``io.load_table`` and ``file_stream`` then convert raw nanos),
#: but its fixtures do not take that path, so neither does the benchmark.
TS = pa.timestamp("us")


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (the reference fixtures' ratios)."""
    return {
        "supplier": max(10, int(10_000 * sf)),
        "customer": int(150_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _write(path: str, cols: dict) -> None:
    tmp = path + ".partial"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start_us: int, n_days: int, n: int) -> pa.Array:
    return pa.array(start_us + rng.integers(0, n_days, n) * DAY_US, TS)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def event_columns(rng: np.random.Generator, n: int, n_users: int, id_base: int = 0,
            t0_us: int = EPOCH_2024_US) -> dict:
    ts = np.sort(t0_us + rng.integers(0, EVENT_SPAN_US, n))
    return {
        "event_id": pa.array(id_base + np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, TS),
        "user_id": pa.array(id_base + rng.integers(0, n_users, n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(30.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Word-soup documents; one in twenty is another document's text
    plus `` dup`` (the near-duplicate population the dedup operators
    look for)."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    """Unit-norm float32 vectors around ten label centroids."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write all ten tables as ``<out_dir>/<name>.parquet``; returns
    the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(sf)
    i32 = np.int32
    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(REGIONS),
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
    })
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", n["supplier"])),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(i32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
    })
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": pa.array(_names("Customer", n["customer"])),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(i32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n["customer"])]),
    })
    n_part = n["part"]
    pkeys = np.arange(n_part, dtype=np.int64)
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(pkeys),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": pa.array(np.round(900.0 + (pkeys % 1000) / 10.0, 1)),
    })
    day0_1995 = 788_918_400_000_000  # 1995-01-01
    n_ord = n["orders"]
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n_ord)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(rng, day0_1995, 2405, n_ord),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    n_li = n["lineitem"]
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, day0_1995 + DAY_US, 2499, n_li),
    })
    _write(f"{out_dir}/events.parquet", event_columns(rng, n["events"], 1500))
    _write(f"{out_dir}/documents.parquet", _documents(rng, n["documents"]))
    _write(f"{out_dir}/embeddings.parquet", _embeddings(rng, n["embeddings"]))
    n.update(region=5, nation=25)
    return n


def write_event_shards(table_dir: str, seed: int, n_shards: int, rows: int,
                       n_users: int = 1500) -> list[str]:
    """Write ``n_shards`` event shards as the directory table
    ``<table_dir>/events.parquet/part-NNNNN.parquet`` (the layout
    ``file_stream`` streams shard by shard). Shard ``k`` offsets
    ``event_id`` and ``user_id`` by ``k * ID_OFFSET`` and shifts event
    time forward by ``k`` spans plus an hour."""
    out = os.path.join(table_dir, "events.parquet")
    os.makedirs(out, exist_ok=True)
    paths = []
    for k in range(n_shards):
        rng = np.random.default_rng([seed, 2, k])
        t0 = EPOCH_2024_US + k * (EVENT_SPAN_US + 3_600_000_000)
        path = os.path.join(out, f"part-{k:05d}.parquet")
        _write(path, event_columns(rng, rows, n_users, id_base=k * ID_OFFSET, t0_us=t0))
        paths.append(path)
    return paths
