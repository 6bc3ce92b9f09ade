"""Output checks: batch results against the registry's DuckDB oracle, and the
stream's main and DLQ tables against the generator's ground truth.

The batch rule is the one `__spark_entry__.py` documents for the oracle: equal
row count, equal schema kinds, then an order-insensitive hash of the values.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds


def _kinds(pdf: pd.DataFrame) -> list[str]:
    return [pdf[c].dtype.kind for c in sorted(pdf.columns)]


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
    rows = sorted(repr(tuple(r)) for r in pdf.itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when `got` matches `want` by the oracle rule, else why not."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if _kinds(got) != _kinds(want):
        return f"schema kinds {_kinds(got)} != {_kinds(want)}"
    if value_hash(got) != value_hash(want):
        return "value hash differs"
    return None


class Oracle:
    """DuckDB views over a generated table directory, one per parquet
    file, named after the file."""

    def __init__(self, table_dir: str):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for path in sorted(glob.glob(os.path.join(table_dir, "*.parquet"))):
            name = os.path.basename(path)[:-len(".parquet")]
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def run(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()


def read_batches(out_dir: str) -> pd.DataFrame:
    """Every `batch_id=N` directory the stream sink wrote, with batch_id."""
    if not glob.glob(os.path.join(out_dir, "batch_id=*", "*.parquet")):
        return pd.DataFrame()
    return ds.dataset(out_dir, format="parquet", partitioning="hive").to_table().to_pandas()


def check_stream(offered: pd.DataFrame, now: pd.Timestamp, main: pd.DataFrame,
                 dlq: pd.DataFrame) -> dict:
    """Compare the consume path's outputs with what the reference semantics
    ask for: each valid event_id in main exactly once (its earliest copy),
    each invalid event in the DLQ once with its reason.

    One offered event is one operation. An event fails when its id is
    missing from main, when it is an extra copy of an id in main, or when
    an invalid event is missing from the DLQ or carries the wrong reason.
    Extra copies written by different micro-batches are the known
    cross-batch dedup defect and are reported apart as `cross_batch_dups`;
    every other failure is `unexpected`."""
    if main.empty:
        main = pd.DataFrame(columns=["event_id", "ts", "batch_id"])
    if dlq.empty:
        dlq = pd.DataFrame(columns=["ts", "reject_reason"])
    stale_cut = now - pd.Timedelta(days=7)
    has_id = offered["event_id"].notna()
    fresh = offered["ts"] >= stale_cut
    valid = offered[has_id & fresh]
    invalid = offered[~(has_id & fresh)].copy()
    invalid["reason"] = np.where(invalid["event_id"].isna(), "missing_event_id",
                                 "stale_event")

    want_ts = valid.groupby("event_id")["ts"].min()
    n_main = main.groupby("event_id").size()
    missing = int((~want_ts.index.isin(n_main.index)).sum())
    extra_ids = int((~n_main.index.isin(want_ts.index)).sum())
    copies = n_main[n_main > 1]
    cross = same = 0
    if len(copies):
        per = main[main["event_id"].isin(copies.index)].groupby("event_id")["batch_id"]
        nb = per.nunique()
        cross = int((copies - 1)[nb.reindex(copies.index) > 1].sum())
        same = int((copies - 1)[nb.reindex(copies.index) == 1].sum())
    single = main[main["event_id"].isin(n_main[n_main == 1].index)]
    wrong_copy = int((single.set_index("event_id")["ts"]
                      != want_ts.reindex(single["event_id"]).values).sum())

    first = dlq.drop_duplicates("ts").set_index("ts")["reject_reason"]
    got = first.reindex(invalid["ts"].values)
    dlq_bad = int((got.values != invalid["reason"].values).sum())
    dlq_extra = len(dlq) - int(first.index.isin(invalid["ts"]).sum())

    # groupby drops NULL keys: a NULL-id row in main is counted here
    null_in_main = int(main["event_id"].isna().sum())
    unexpected = (missing + extra_ids + same + wrong_copy + dlq_bad + dlq_extra
                  + null_in_main)
    return {"attempted": len(offered), "failed": cross + unexpected,
            "cross_batch_dups": cross, "unexpected": unexpected,
            "valid": len(valid), "invalid": len(invalid),
            "missing": missing, "dlq_bad": dlq_bad, "null_in_main": null_in_main}
