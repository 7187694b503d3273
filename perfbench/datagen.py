"""Seeded inputs: the analytic star schema and the pipeline record stream.

The analytic tables are a model of the catalog tables
(`deimos_spark.catalog.TABLES`) at scale factor `scale`, not a copy of
any one data set: the same column names and Parquet types
(TIMESTAMP(MICROS) dates and event times), row counts, key ranges and
categorical values, and value distributions of the same shape (uniform
keys and prices, discounts and taxes rounded from uniform draws,
exponential event values, 64-dimensional unit embeddings, documents of
10-100 words of which 5% are a copy of another document plus " dup").
`scale` 0.1 gives 600k lineitem rows. Everything is drawn from one numpy
Generator seeded by the caller, so a seed fixes the bytes of every
file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _fraction(rng, hi: float, n: int) -> np.ndarray:
    """Uniform on [0, hi] rounded to cents: the ends get half weight."""
    return np.round(rng.uniform(0.0, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + d.astype("timedelta64[us]"))


def analytic_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 5)
    n_part = max(int(200_000 * scale), 10)
    n_ord = max(int(1_500_000 * scale), 10)
    n_line = n_ord * 4
    n_ev = max(int(1_000_000 * scale), 10)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731

    t = {}
    t["region"] = pa.table({
        "r_regionkey": i32(np.arange(5)), "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    retail = np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1)
    t["part"] = pa.table({
        "p_partkey": i64(np.arange(n_part)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array(
            [f"Brand#{i}" for i in rng.integers(1, 26, n_part)]
        ),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": retail,
    })
    t["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": _fraction(rng, 0.10, n_line),
        "l_tax": _fraction(rng, 0.08, n_line),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype(
            "timedelta64[us]")),
        "user_id": i64(rng.integers(0, max(n_cust // 10, 2), n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
        ),
    })
    n_doc = max(int(50_000 * scale), 10)
    texts = [
        " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
        for k in rng.integers(10, 100, n_doc)
    ]
    # near duplicates: a copy of another document's text plus " dup"
    # (two copies of one source are exact duplicates of each other)
    copies = rng.choice(n_doc, size=n_doc // 20, replace=False)
    for dst, src in zip(copies, rng.integers(0, n_doc, len(copies))):
        texts[dst] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": i64(np.arange(n_doc)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": i64([len(x) for x in texts]),
    })
    n_vec = max(int(20_000 * scale), 10)
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": i64(np.arange(n_vec)),
        "embedding": pa.array(
            list(vec), pa.list_(pa.field("element", pa.float32()))),
        "label": i32(rng.integers(0, 10, n_vec)),
    })
    return t


def write_analytic(seed: int, scale: float, out_dir: str) -> None:
    """Write every table as `<out_dir>/<name>.parquet`, the catalog layout."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in analytic_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------- pipeline


@dataclass(frozen=True)
class Record:
    """One produced record. `payload` None is a tombstone for `key`."""

    seq: int
    key: str
    payload: tuple[int, int, str] | None  # (seq, v, text)


def pipeline_stream(
    seed: int, n: int, n_keys: int, tombstone_share: float
) -> list[Record]:
    """`n` records over `n_keys` uniform keys. A tombstone share of the
    records deletes their key; the rest insert or update it with a fresh
    value."""
    rng = np.random.default_rng(seed)
    keys = rng.integers(0, n_keys, n)
    dead = rng.random(n) < tombstone_share
    vals = rng.integers(0, 1_000_000, n)
    lens = rng.integers(20, 120, n)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    out = []
    for i in range(n):
        if dead[i]:
            payload = None
        else:
            text = letters[rng.integers(0, 26, lens[i])].tobytes().decode()
            payload = (i, int(vals[i]), text)
        out.append(Record(i, f"k{int(keys[i]):05d}", payload))
    return out


def keep_last(records: list[Record]) -> dict[str, tuple[int, int, str]]:
    """Reference model of the keyed table: last record per key wins, a
    tombstone removes the key."""
    state: dict[str, tuple[int, int, str]] = {}
    for r in records:
        if r.payload is None:
            state.pop(r.key, None)
        else:
            state[r.key] = r.payload
    return state
