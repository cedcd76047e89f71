"""Seeded benchmark inputs, written as parquet with pyarrow.

The tables have the harness schemas (TESTDATA.md: a TPC-H-ish star plus
``events`` and ``embeddings``) and the value laws that
``tools/gen_scale_data.py`` matched to the sf0.1 tier: key ranges,
categorical pools (``red`` is in the part-name pool, so ``tpch_q9ish``
is not vacuous), ~4 lineitems per order, exponential event values and
unit-norm 64-dim float embeddings. Everything derives from one
``numpy`` generator seeded by ``--seed``; the same seed gives the same
bytes. ``scale`` is a multiple of sf0.01 row counts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "STANDARD", "SMALL", "ECONOMY", "PROMO", "MEDIUM"]
ADJ = ["large", "red", "blue", "small", "dim", "metal", "shiny", "dark"]
NOUN = ["ring", "bolt", "case", "tube", "cap", "disk", "plate", "rod"]
ETYPES = ["view", "click", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
SHIP_CUTOFF = np.datetime64("1998-06-01", "us")

# sf0.01 row counts of the harness tier (orders, lineitem ~4x orders)
BASE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "events": 10_000,
    "users": 150,
    "embeddings": 2_000,
}


def _pick(rng: np.random.Generator, pool: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(pool, dtype=object)[rng.integers(0, len(pool), n)])


def _money(rng: np.random.Generator, n: int, lo: float, width: float) -> np.ndarray:
    return np.round(rng.random(n) * width + lo, 2)


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Every harness table the benchmark's query mix and pipeline read."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    keys = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(keys),
            "n_name": pa.array([f"NATION_{i}" for i in keys]),
            "n_regionkey": pa.array(keys % 5),
        }
    )

    c = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pa.table(
        {
            "c_custkey": c,
            "c_name": pa.array([f"Customer#{i:09d}" for i in c]),
            "c_nationkey": rng.integers(0, 25, c.size).astype(np.int32),
            "c_acctbal": _money(rng, c.size, -1000.0, 11000.0),
            "c_mktsegment": _pick(rng, SEGMENTS, c.size),
        }
    )

    s = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pa.table(
        {
            "s_suppkey": s,
            "s_name": pa.array([f"Supplier#{i:09d}" for i in s]),
            "s_nationkey": rng.integers(0, 25, s.size).astype(np.int32),
            "s_acctbal": _money(rng, s.size, -1000.0, 11000.0),
        }
    )

    p = np.arange(n["part"], dtype=np.int64)
    adj = np.asarray(ADJ, dtype=object)[rng.integers(0, len(ADJ), p.size)]
    noun = np.asarray(NOUN, dtype=object)[rng.integers(0, len(NOUN), p.size)]
    t["part"] = pa.table(
        {
            "p_partkey": p,
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(0, 25, p.size)]),
            "p_type": _pick(rng, PTYPES, p.size),
            "p_size": rng.integers(1, 51, p.size).astype(np.int32),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, p.size) / 10.0, 1),
        }
    )

    o = np.arange(n["orders"], dtype=np.int64)
    odate = EPOCH_1995 + rng.integers(0, 2404, o.size) * np.timedelta64(1, "D")
    t["orders"] = pa.table(
        {
            "o_orderkey": o,
            "o_custkey": rng.integers(0, n["customer"], o.size).astype(np.int64),
            "o_orderstatus": _pick(rng, ["O", "P", "F"], o.size),
            "o_totalprice": _money(rng, o.size, 1000.0, 499000.0),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": _pick(rng, PRIORITIES, o.size),
        }
    )

    per_order = rng.integers(1, 8, o.size)
    lo = np.repeat(o, per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = (np.arange(lo.size) - starts + 1).astype(np.int32)
    ship = np.repeat(odate, per_order) + rng.integers(1, 96, lo.size) * np.timedelta64(
        1, "D"
    )
    m = lo.size
    t["lineitem"] = pa.table(
        {
            "l_orderkey": lo,
            "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, m, 900.0, 104100.0),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(rng, ["R", "N", "A"], m),
            "l_linestatus": pa.array(np.where(ship > SHIP_CUTOFF, "O", "F")),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )

    e = np.arange(n["events"], dtype=np.int64)
    ts = EPOCH_2024 + (rng.random(e.size) * 30 * US_PER_DAY).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": e,
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, n["users"], e.size).astype(np.int64),
            "event_type": _pick(rng, ETYPES, e.size),
            "value": np.minimum(np.round(-50.0 * np.log1p(-rng.random(e.size)), 2), 560.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e.size)]),
        }
    )

    v = np.arange(n["embeddings"], dtype=np.int64)
    raw = rng.random((v.size, 64)) - 0.5
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": v,
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(unit.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, v.size).astype(np.int32),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-file ``<name>.parquet`` per table, the harness layout."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
