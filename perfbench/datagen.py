"""Seeded input generator for the benchmark.

Writes the ten tables the query registry reads (`region nation customer
supplier part orders lineitem events documents embeddings`) as one parquet
file each, with the same column names, types and value shapes as the
project's reference test data: a TPC-H-like star schema, a 30-day event
stream with microsecond timestamps, a small-vocabulary text corpus with
planted duplicates, and unit-norm embeddings around labelled centres.

The same seed always produces byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table: half of the project's TPC-H scale factor 0.1
# reference data (which has 150k orders, 3.3k events per day, 5k documents
# and 2k embeddings). At sf0.1 a cold, checked pass and the passes until
# the warm-up curve flattens take about a minute, more than a run's time
# budget; at this size about 40% of a warm analytics pass is data work
# (scans, shuffles, joins), the rest per-query planning and job launch.
SIZES = {
    "customer": 7500,
    "supplier": 500,
    "part": 10000,
    "orders": 75000,
    "events_per_day": 1667,
    "event_days": 30,
    "event_users": 750,
    "documents": 2500,
    "embeddings": 1000,
}

EMBED_DIM = 64
EMBED_LABELS = 10
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EPOCH = dt.datetime(2024, 1, 1)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts_us(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _days_us(start: dt.datetime, days: np.ndarray) -> np.ndarray:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return base + days.astype("int64") * 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def relational_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_c, n_s, n_p, n_o = (
        SIZES["customer"], SIZES["supplier"], SIZES["part"], SIZES["orders"]
    )
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_c)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    colours = ["red", "blue", "green", "small", "large", "steel", "brass"]
    things = ["ring", "widget", "bolt", "gear", "panel", "valve"]
    types = ["ECONOMY", "STANDARD", "PROMO", "MEDIUM", "LARGE", "SMALL"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [
            f"{colours[a]} {things[b]}"
            for a, b in zip(rng.integers(0, 7, n_p), rng.integers(0, 6, n_p))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": [types[t] for t in rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_p) % 2000) * 0.1, 2),
    })
    order_day = rng.integers(0, 2405, n_o)  # 1992-01-01 .. 1998-08-02
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": [
            "FOP"[i] for i in rng.choice(3, n_o, p=[0.49, 0.49, 0.02])
        ],
        "o_totalprice": _money(rng, 900.0, 550000.0, n_o),
        "o_orderdate": _ts_us(_days_us(dt.datetime(1992, 1, 1), order_day)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_o)],
    })
    lines = rng.integers(1, 8, n_o)
    okey = np.repeat(np.arange(n_o), lines)
    n_l = len(okey)
    linenumber = np.arange(n_l) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_l).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, n_l)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": ["RAN"[i] for i in rng.integers(0, 3, n_l)],
        "l_linestatus": ["OF"[i] for i in rng.integers(0, 2, n_l)],
        "l_shipdate": _ts_us(_days_us(dt.datetime(1992, 1, 1), ship_day)),
    })
    lineitem = lineitem.take(pa.array(rng.permutation(n_l)))
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def event_rows(
    rng: np.random.Generator, n_days: int, per_day: int
) -> dict[str, np.ndarray]:
    """`per_day` events for each of `n_days` days from EPOCH, ordered by
    time, with consecutive event ids from 0."""
    n = n_days * per_day
    day = np.repeat(np.arange(n_days), per_day)
    offset_us = np.sort(
        rng.integers(0, 86_400 * 1_000_000, (n_days, per_day)), axis=1
    ).ravel()
    base = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return {
        "event_id": np.arange(n, dtype="int64"),
        "ts_us": base + day.astype("int64") * 86_400 * 1_000_000 + offset_us,
        "user_id": rng.integers(0, SIZES["event_users"], n).astype("int64"),
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": rng.integers(0, 100, n),
    }


def events_table(rows: dict[str, np.ndarray], tz: str | None = None) -> pa.Table:
    return pa.table({
        "event_id": pa.array(rows["event_id"], pa.int64()),
        "ts": pa.array(rows["ts_us"], type=pa.timestamp("us", tz=tz)),
        "user_id": pa.array(rows["user_id"], pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rows["event_type"]],
        "value": rows["value"],
        "props": [f'{{"k": {k}}}' for k in rows["props"]],
    })


def corpus_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_d = SIZES["documents"]
    texts: list[str] = []
    for i in range(n_d):
        r = rng.random()
        if i > 10 and r < 0.02:
            # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:
            # near duplicate: an earlier document with one word inserted
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        else:
            n_w = int(rng.integers(5, 90))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n_w)))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n_d, p=LANG_P)],
        "source": [f"src{i % 10}" for i in range(n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_e = SIZES["embeddings"]
    centres = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    label = rng.integers(0, EMBED_LABELS, n_e)
    vecs = centres[label] * 0.35 + rng.normal(size=(n_e, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_e), pa.int64()),
        "embedding": pa.array(
            list(vecs.astype("float32")), type=pa.list_(pa.float32())
        ),
        "label": pa.array(label, pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write all ten tables for `seed` into `out_dir`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = relational_tables(rng)
    tables["events"] = events_table(
        event_rows(rng, SIZES["event_days"], SIZES["events_per_day"])
    )
    tables.update(corpus_tables(rng))
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
