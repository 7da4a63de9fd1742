"""Seeded synthetic inputs for the benchmark.

Every table is a pure function of ``(seed, sf)``: the TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings`` in the column layout the
engine's queries read, and a ``shapes`` table with one column per scheme
shape the BtrBlocks planner distinguishes. Row counts scale like TPC-H
(lineitem = 6M x sf). Only numpy and pyarrow run here; the program under
test sees nothing but the parquet files written by :func:`write_raw`.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01 UTC in microseconds
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC in microseconds

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "old", "red", "small", "new"]
NOUNS = ["bolt", "gear", "nut", "plate", "ring", "screw", "shaft", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    """Dictionary-backed draw, decoded to a plain string column."""
    codes = pa.array(rng.integers(0, len(choices), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(codes, pa.array(choices)).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _numbered(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = max(int(6_000_000 * sf), 400)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _numbered("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _numbered("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
    }
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    span_days = 2405
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, span_days, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    partkey = rng.integers(0, n_part, n_li).astype(np.int64)
    price = np.round(qty * (900.0 + (partkey % 1000) / 10.0) * rng.uniform(0.95, 1.05, n_li), 2)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(EPOCH_1995 + 1 * DAY_US + rng.integers(0, 2499, n_li) * DAY_US),
    })
    return out


def events_table(seed: int, sf: float) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(seed: int, sf: float) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; about 5 % are
    near-duplicates of an earlier document (its text plus a ``dup`` tail),
    so the dedup and similarity queries find real candidate pairs."""
    rng = np.random.default_rng([seed, 3])
    n = max(int(50_000 * sf), 50)
    words = np.array(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 85)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(seed: int, sf: float, dim: int = 64) -> pa.Table:
    """Unit vectors drawn around ten label centroids."""
    rng = np.random.default_rng([seed, 4])
    n = max(int(20_000 * sf), 50)
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.15, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.ravel())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    })


def shapes_table(seed: int, n: int) -> pa.Table:
    """One column per scheme shape the planner tells apart: runs, pfor
    outliers, sorted ints, timestamps, 2-decimal doubles, a smooth series,
    low-cardinality strings, FSST-able strings and a sparse-null column."""
    rng = np.random.default_rng([seed, 5])
    runs = np.repeat(rng.integers(0, 10_000, n // 20 + 1), 20)[:n]
    outliers = np.where(rng.random(n) < 0.99, rng.integers(0, 2**12, n), rng.integers(0, 2**30, n))
    stem = rng.integers(97, 102, (n, 12), dtype=np.uint8).view("S12").ravel().astype("U12")
    fsst = np.char.add(np.char.add("https://", stem), np.char.mod(".example/%d", np.arange(n)))
    nullable = rng.integers(0, 1000, n).astype(np.int64)
    return pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "run_int": pa.array(runs.astype(np.int64)),
        "pfor_int": pa.array(outliers.astype(np.int64)),
        "sorted_int": pa.array(np.sort(rng.integers(0, 2**31 - 1, n)).astype(np.int64)),
        "event_ts": _ts(EPOCH_2024 + np.arange(n, dtype=np.int64) * 1_000_000
                        + rng.integers(0, 1000, n)),
        "price": pa.array(np.round(rng.uniform(0, 100, n), 2)),
        "smooth": pa.array(1000.0 + np.round(np.sin(np.arange(n) / 100.0), 3)),
        "category": _pick(rng, [f"cat_{i:02d}" for i in range(12)], n),
        "url": pa.array(fsst.astype(object)),
        "sparse": pa.array(nullable, mask=rng.random(n) < 0.3),
    })


def all_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    tables = tpch_tables(seed, sf)
    tables["events"] = events_table(seed, sf)
    tables["documents"] = documents_table(seed, sf)
    tables["embeddings"] = embeddings_table(seed, sf)
    return tables


def write_raw(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Lay the tables out like a testdata directory: ``<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
