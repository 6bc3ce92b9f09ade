"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs a registered Spark query and its oracle SQL on the same parquet
files, then compares row count + column names + order-insensitive
values. Comparison is EXACT (the engine's aggregates are written to be
bit-stable across engines); floats get a tiny epsilon only to absorb
decimal->double cast corner cases, and the max observed delta is
reported on failure.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from event_streaming_service_spark.sources.tables import TABLE_NAMES

FLOAT_RTOL = 0.0  # exact: the driver hashes raw values


def run_oracle(sql: str, sf_dir: str, tables=TABLE_NAMES) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con.execute(sql).df()
    finally:
        con.close()


def write_embeddings(spark, sf_dir, rows, labels=None):
    """Write (vec_id, vector) rows — plus an optional {vec_id: label}
    map — as `<sf_dir>/embeddings.parquet` in the fixture schema, ONE
    file so DuckDB reads it as a table, and return the engine's frame
    over the same file. Pairs with `check_embeddings_oracle`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from event_streaming_service_spark.sources.tables import load_table

    cols = {"vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([list(r[1]) for r in rows],
                                  pa.list_(pa.float32()))}
    if labels is not None:
        cols["label"] = pa.array([labels[r[0]] for r in rows], pa.int32())
    pq.write_table(pa.table(cols), f"{sf_dir}/embeddings.parquet")
    return load_table(spark, str(sf_dir), "embeddings")


def check_embeddings_oracle(spark_df, sql: str, sf_dir, name: str) -> None:
    """`compare` against oracle SQL run over the file `write_embeddings`
    wrote."""
    compare(spark_df, run_oracle(sql, str(sf_dir), ("embeddings",)), name)


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            dt = out[c]
            if getattr(dt.dtype, "tz", None) is not None:
                dt = dt.dt.tz_convert("UTC").dt.tz_localize(None)
            out[c] = dt.astype("datetime64[us]")
        elif out[c].dtype == object:
            out[c] = out[c].map(lambda v: None if v is None else v)
    sort_cols = list(out.columns)
    out = out.sort_values(sort_cols, kind="mergesort", na_position="last")
    return out.reset_index(drop=True)


def _cell_equal(a, b) -> tuple[bool, float]:
    a_null = a is None or (isinstance(a, float) and math.isnan(a)) or pd.isna(a)
    b_null = b is None or (isinstance(b, float) and math.isnan(b)) or pd.isna(b)
    if a_null or b_null:
        return bool(a_null and b_null), 0.0
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if fa == fb:
            return True, 0.0
        denom = max(abs(fa), abs(fb), 1.0)
        delta = abs(fa - fb) / denom
        return delta <= FLOAT_RTOL, delta
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        la, lb = list(a), list(b)
        if len(la) != len(lb):
            return False, math.inf
        worst = 0.0
        for xa, xb in zip(la, lb):
            ok, d = _cell_equal(xa, xb)
            worst = max(worst, d)
            if not ok:
                return False, worst
        return True, worst
    return a == b, 0.0 if a == b else math.inf


def compare(spark_df, oracle_pdf: pd.DataFrame, name: str) -> None:
    got = canonicalize(spark_df.toPandas())
    want = canonicalize(oracle_pdf)

    assert len(got) == len(want), (
        f"{name}: row count {len(got)} != oracle {len(want)}")
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}")
    # dtype KINDS must agree (int vs float vs bool vs datetime vs object):
    # a DuckDB HUGEINT surfacing as float64 against Spark's int64 hashes
    # differently in the driver even when the values compare equal
    for c in got.columns:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        assert gk == wk, (
            f"{name}: dtype kind mismatch col={c}: spark={got[c].dtype} "
            f"oracle={want[c].dtype}")

    max_delta = 0.0
    for c in got.columns:
        ga, wa = got[c].to_numpy(), want[c].to_numpy()
        for i in range(len(ga)):
            ok, delta = _cell_equal(ga[i], wa[i])
            max_delta = max(max_delta, delta)
            assert ok, (
                f"{name}: value mismatch col={c} row={i}: "
                f"spark={ga[i]!r} oracle={wa[i]!r} (rel delta {delta:.3e}); "
                f"spark rows:\n{got.head(10)}\noracle rows:\n{want.head(10)}")
    if max_delta > 0:
        print(f"  [{name}] max float rel delta {max_delta:.3e}")
