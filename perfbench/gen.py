"""Seeded input generator for the engine benchmark.

Every table is written with the fixture tables' column names and parquet
types (see FIXTURES.md), so the program under test sees inputs of the same
shape as the fixtures. Only the values differ, and they depend on the seed
alone: the same seed writes byte-identical files.

Events carry the traffic properties the consume path branches on:

* user ids follow a Zipf law, so the skew-aware operators see hot keys;
* a share of events is re-sent with the same `event_id` less than one hour
  after the original (the idempotency horizon), so dedup does work;
* a share has a NULL `event_id` and a share is more than 7 days older than
  the pinned "now", so the DLQ branch does work.

Every timestamp in a table is distinct, so each tiebreak in the registry stays
a total order. The generator is single-process and single-threaded (numpy and
pyarrow only), and it returns the injected counts for the checker.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
US_PER_S = 1_000_000
HOUR_US = 3600 * US_PER_S
DAY_US = 24 * HOUR_US
EPOCH = dt.datetime(1970, 1, 1)

DUP_SHARE = 0.02
NULL_ID_SHARE = 0.01
STALE_SHARE = 0.01
ZIPF_S = 1.1
LINES_PER_ORDER = 4

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def _us(t: dt.datetime) -> int:
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def zipf_users(rng: np.random.Generator, n: int, n_users: int) -> np.ndarray:
    """`n` user ids in [0, n_users) with P(rank k) ~ 1/k^ZIPF_S; a seeded
    permutation decides which id holds which rank."""
    p = 1.0 / np.arange(1, n_users + 1) ** ZIPF_S
    ranks = rng.choice(n_users, size=n, p=p / p.sum())
    return rng.permutation(n_users)[ranks].astype(np.int64)


def distinct_sorted(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """`n` strictly increasing integers in [lo, hi)."""
    raw = np.sort(rng.integers(0, hi - lo - n, size=n))
    return lo + raw + np.arange(n)


def _make_distinct(ts: np.ndarray) -> np.ndarray:
    """Nudge colliding timestamps by whole microseconds until all differ;
    the original value order is kept."""
    ts = ts.copy()
    while True:
        order = np.argsort(ts, kind="stable")
        s = ts[order]
        clash = np.flatnonzero(s[1:] <= s[:-1]) + 1
        if clash.size == 0:
            return ts
        ts[order[clash]] = s[clash - 1] + 1


def event_rows(rng: np.random.Generator, n: int, n_users: int, start_us: int,
               span_us: int, now_us: int) -> dict:
    """`n` base events in [start_us, start_us + span_us) plus the injected
    re-sends, NULL ids and stale events. Returns the columns as numpy arrays
    (event_id as float with NaN for NULL) in arrival order, plus the
    counts."""
    ts = distinct_sorted(rng, n, start_us, start_us + span_us)
    ids = np.arange(n, dtype=np.float64)
    users = zipf_users(rng, n, n_users)
    types = rng.integers(0, len(EVENT_TYPES), size=n)
    values = np.round(rng.exponential(50.0, size=n), 2)
    props = rng.integers(0, 100, size=n)

    n_dup, n_null, n_stale = (int(round(n * s)) for s in
                              (DUP_SHARE, NULL_ID_SHARE, STALE_SHARE))
    src = rng.choice(n, size=n_dup, replace=False)
    dup_ts = ts[src] + rng.integers(US_PER_S, HOUR_US, size=n_dup)
    null_ts = rng.integers(start_us, start_us + span_us, size=n_null)
    stale_ts = now_us - rng.integers(8 * DAY_US, 10 * DAY_US, size=n_stale)
    stale_at = rng.choice(n, size=n_stale, replace=False)

    cols = {
        "event_id": np.concatenate([ids, ids[src], np.full(n_null, np.nan)]),
        "ts": np.concatenate([ts, dup_ts, null_ts]),
        "user_id": np.concatenate([users, users[src],
                                   zipf_users(rng, n_null, n_users)]),
        "type": np.concatenate([types, types[src],
                                rng.integers(0, len(EVENT_TYPES), size=n_null)]),
        "value": np.concatenate([values, values[src],
                                 np.round(rng.exponential(50.0, size=n_null), 2)]),
        "props": np.concatenate([props, props[src],
                                 rng.integers(0, 100, size=n_null)]),
    }
    # rows keep arrival order: stale events are originals whose timestamp
    # lies far in the past (never re-sent ones, so each re-send stays within
    # the hour after its original)
    arrival = cols["ts"].copy()
    stale_at = np.setdiff1d(stale_at, src)
    cols["ts"][stale_at] = stale_ts[:stale_at.size]
    cols["ts"] = _make_distinct(cols["ts"])
    order = np.argsort(arrival, kind="stable")
    cols = {k: v[order] for k, v in cols.items()}
    cols["counts"] = {"base": n, "resent": n_dup, "null_id": n_null,
                      "stale_injected": int(stale_at.size)}
    return cols


def events_table(cols: dict) -> pa.Table:
    ids = cols["event_id"]
    return pa.table({
        "event_id": pa.array(np.nan_to_num(ids, nan=-1).astype(np.int64),
                             mask=np.isnan(ids)),
        "ts": pa.array(cols["ts"].astype("datetime64[us]")),
        "user_id": pa.array(cols["user_id"]),
        "event_type": pa.array(EVENT_TYPES[cols["type"]]),
        "value": pa.array(cols["value"]),
        "props": pa.array([f'{{"k": {k}}}' for k in cols["props"]]),
    }, schema=EVENT_SCHEMA)


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def star_tables(rng: np.random.Generator, n_orders: int, n_customers: int,
                n_suppliers: int, n_parts: int) -> dict[str, pa.Table]:
    """The TPC-H-ish tables the benchmark's queries read, with the fixture
    schemas (nation and region are read by none of them)."""
    ck = np.arange(n_customers, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_customers), 2),
        "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"])
                                 [rng.integers(0, 5, n_customers)]),
    })
    sk = np.arange(n_suppliers, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": sk, "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_suppliers).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_suppliers), 2),
    })
    pk = np.arange(n_parts, dtype=np.int64)
    adj = np.array(["small", "large", "red", "blue", "hot"])
    noun = np.array(["ring", "bolt", "widget", "gear", "valve"])
    part = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 5, n_parts)],
                                              noun[rng.integers(0, 5, n_parts)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_parts)],
        "p_type": pa.array(np.array(["ECONOMY", "LARGE", "SMALL", "STANDARD",
                                     "PROMO"])[rng.integers(0, 5, n_parts)]),
        "p_size": pa.array(rng.integers(1, 51, n_parts).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    ok = np.arange(n_orders, dtype=np.int64)
    day = distinct_sorted(rng, n_orders, _us(dt.datetime(1992, 1, 1)),
                          _us(dt.datetime(2002, 1, 1)))
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_customers, n_orders).astype(np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": pa.array(rng.permutation(day).astype("datetime64[us]")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"])
                                    [rng.integers(0, 5, n_orders)]),
    })
    n_lines = n_orders * LINES_PER_ORDER
    ship = distinct_sorted(rng, n_lines, _us(dt.datetime(1992, 1, 1)),
                           _us(dt.datetime(2002, 1, 1)))
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_suppliers, n_lines).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lines)]),
        "l_shipdate": pa.array(rng.permutation(ship).astype("datetime64[us]")),
    })
    return {"customer": customer, "supplier": supplier, "part": part,
            "orders": orders, "lineitem": lineitem}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def batch_inputs(seed: int, out_dir: str, n_orders: int, n_customers: int,
                 n_suppliers: int, n_parts: int) -> None:
    """Write a fixture-shaped table directory."""
    rng = np.random.default_rng([seed, 1])
    write_tables(star_tables(rng, n_orders, n_customers, n_suppliers, n_parts),
                 out_dir)


def stream_files(seed: int, n_files: int, events_per_file: int, n_users: int,
                 now: dt.datetime, span_us: int) -> tuple[list[pa.Table], dict]:
    """Split one seeded event sequence (ending at `now`) into `n_files`
    consecutive files; re-sends land up to an hour after their original,
    so many fall into a later file than the original."""
    rng = np.random.default_rng([seed, 2])
    n = n_files * events_per_file
    now_us = _us(now)
    cols = event_rows(rng, n, n_users, now_us - span_us, span_us, now_us)
    counts = cols.pop("counts")
    table = events_table(cols)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    return ([table.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])],
            counts)
