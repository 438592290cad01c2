"""Seeded generator for the tables the SQL phase reads.

Writes one parquet file per table in the layout `session.load_table`
expects (`<dir>/<name>.parquet`), with the column names, types and value
domains of the TPC-H-style test tables the registry entries and their
DuckDB oracles are written against.  The same (seed, scale) always gives
byte-identical tables; sizes depend only on `scale` (1.0 ≈ 60k lineitem
rows), never on the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]

#: tables the SQL phase scans
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem",
          "events", "documents")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals (whole cents)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table under `out_dir`; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x5EED])
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_ord = max(200, int(15000 * scale))
    n_part = max(50, int(2000 * scale))
    n_users = max(10, int(150 * scale))
    n_events = max(500, int(10000 * scale))
    n_docs = max(40, int(500 * scale))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    o_date = _days(rng, "1995-01-01", 2404, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(o_date, type=pa.timestamp("us")),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })

    # 1-7 lines per order in a fixed pattern, so row counts never vary by seed
    lines = 1 + (np.arange(n_ord) * 7919) % 7
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    unit = _money(rng, 900.0, 2100.0, n_li)
    ship = o_date[l_order] + rng.integers(1, 122, n_li).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")
    perm = rng.permutation(n_li)  # file order is not key order
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order[perm]),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)[perm]),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)[perm]),
        "l_linenumber": pa.array(l_lineno.astype(np.int32)[perm]),
        "l_quantity": pa.array(qty[perm]),
        "l_extendedprice": pa.array(np.round(qty * unit, 2)[perm]),
        "l_discount": pa.array((rng.integers(0, 11, n_li) / 100.0)[perm]),
        "l_tax": pa.array((rng.integers(0, 9, n_li) / 100.0)[perm]),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li).take(pa.array(perm)),
        "l_linestatus": _choice(rng, ["F", "O"], n_li).take(pa.array(perm)),
        "l_shipdate": pa.array(ship[perm], type=pa.timestamp("us")),
    })

    # event ids follow time order; gaps straddle the 30-minute session cut
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_events).astype("timedelta64[us]")
    )
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, n_events),
        "value": pa.array(_money(rng, 0.01, 500.0, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))])
        for k in rng.integers(8, 80, n_docs)
    ]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
