"""Tests of the benchmark itself: python3 -m pytest perfbench/tests -q

The generator and checker tests need no Spark; the CLI tests share three
short benchmark runs (about a minute per run on 4 cores).
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import hashlib
import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import check, gen, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SIZE = dict(n_orders=500, n_customers=100, n_suppliers=10, n_parts=50)
NOW = dt.datetime(2024, 2, 1)


def _digest(d: str) -> dict[str, str]:
    return {os.path.basename(p): hashlib.md5(open(p, "rb").read()).hexdigest()
            for p in sorted(glob.glob(os.path.join(d, "*.parquet")))}


def test_generator_is_deterministic_per_seed(tmp_path):
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.batch_inputs(seed, str(tmp_path / d), **SIZE)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a"))["lineitem.parquet"] != \
        _digest(str(tmp_path / "c"))["lineitem.parquet"]
    f1, n1 = gen.stream_files(5, 4, 500, 100, NOW, gen.DAY_US)
    f2, n2 = gen.stream_files(5, 4, 500, 100, NOW, gen.DAY_US)
    f3, n3 = gen.stream_files(6, 4, 500, 100, NOW, gen.DAY_US)
    assert n1 == n2 and all(x.equals(y) for x, y in zip(f1, f2))
    assert not f1[0].equals(f3[0])


def test_generated_events_keep_fixture_schema_and_injections():
    files, counts = gen.stream_files(5, 10, 500, 100, NOW, 2 * gen.DAY_US)
    assert all(f.schema.equals(gen.EVENT_SCHEMA) for f in files)
    ev = pd.concat([f.to_pandas() for f in files], ignore_index=True)
    assert ev["ts"].is_unique
    assert ev["event_id"].isna().sum() == counts["null_id"] > 0
    assert ev["event_id"].dropna().duplicated().sum() == counts["resent"] > 0
    ids = ev.dropna(subset=["event_id"]).sort_values("ts")
    gap = ids.groupby("event_id")["ts"].agg(lambda s: s.max() - s.min())
    assert gap.max() < pd.Timedelta(hours=1)
    stale = ev["ts"] < pd.Timestamp(NOW) - pd.Timedelta(days=7)
    assert stale.sum() == counts["stale_injected"] > 0
    top = ev["user_id"].value_counts()
    assert top.iloc[0] > 10 * top.median()


def test_benchmark_json_names_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def _frame() -> pd.DataFrame:
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5],
                         "s": ["a", "b", "c"]})


def test_checker_flags_perturbed_batch_results():
    want = _frame()
    assert check.mismatch(want.iloc[::-1], want) is None
    assert check.mismatch(want.iloc[:2], want).startswith("rows")
    bumped = want.copy()
    bumped.loc[1, "v"] = 1.5000001
    assert check.mismatch(bumped, want) == "value hash differs"
    retyped = want.astype({"k": "float64"})
    assert check.mismatch(retyped, want).startswith("schema kinds")


def _stream_case():
    ts = pd.to_datetime(["2024-01-31 10:00", "2024-01-31 10:05", "2024-01-31 10:30",
                         "2024-01-20 00:00", "2024-01-31 11:00"])
    offered = pd.DataFrame({"event_id": [1.0, 2.0, 1.0, 3.0, None], "ts": ts})
    main = pd.DataFrame({"event_id": [1, 2], "ts": ts[:2], "batch_id": [0, 0]})
    dlq = pd.DataFrame({"ts": [ts[3], ts[4]],
                        "reject_reason": ["stale_event", "missing_event_id"]})
    return offered, pd.Timestamp("2024-02-01"), main, dlq


def test_checker_flags_perturbed_stream_outputs():
    offered, now, main, dlq = _stream_case()
    ok = check.check_stream(offered, now, main, dlq)
    assert ok["failed"] == 0 and ok["attempted"] == 5

    cross = pd.concat([main, pd.DataFrame({"event_id": [1], "ts": [offered.ts[2]],
                                           "batch_id": [1]})])
    res = check.check_stream(offered, now, cross, dlq)
    assert res["cross_batch_dups"] == 1 and res["unexpected"] == 0

    same = pd.concat([main, main.iloc[:1]])
    assert check.check_stream(offered, now, same, dlq)["unexpected"] == 1
    assert check.check_stream(offered, now, main.iloc[1:], dlq)["missing"] == 1
    wrong = dlq.assign(reject_reason=["missing_event_id", "missing_event_id"])
    assert check.check_stream(offered, now, main, wrong)["dlq_bad"] == 1
    twice = pd.concat([dlq, dlq.iloc[:1]])
    assert check.check_stream(offered, now, main, twice)["unexpected"] == 1
    null_id = pd.concat([main, pd.DataFrame({"event_id": [None], "ts": [offered.ts[4]],
                                             "batch_id": [0]})])
    res = check.check_stream(offered, now, null_id, dlq)
    assert res["null_in_main"] == 1 and res["unexpected"] == 1
    nothing = check.check_stream(offered, now, pd.DataFrame(), pd.DataFrame())
    assert nothing["missing"] == 2 and nothing["dlq_bad"] == 2


@functools.cache
def _cli(workload: str, trace: int) -> tuple[dict, dict]:
    """(info line, result line) of one short run with seed 1."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    info, result = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
    return info, result


@pytest.mark.parametrize("workload", ["corpus_fixpoint", "stream_consume"])
def test_cli_emits_every_metric_with_its_unit(workload):
    info, result = _cli(workload, 1)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1
    assert {n: m["unit"] for n, m in result["metrics"].items()} == run.PER_LAYER
    assert set(info["end_to_end"]) == set(run.END_TO_END) | set(run.WALL)
    assert all(v > 0 for v in info["end_to_end"].values())
    assert {n: m["unit"] for n, m in info["wall"].items()} == run.WALL


def test_stream_failures_do_not_depend_on_timing():
    """Each micro-batch holds the same files on every run of a seed, so the
    duplicates the per-batch dedup lets through are the same too."""
    traced = _cli("stream_consume", 1)[1]
    plain = _cli("stream_consume", 0)[1]
    assert {n: m["unit"] for n, m in plain["metrics"].items()} == run.END_TO_END
    assert (plain["attempted"], plain["failed"]) == \
        (traced["attempted"], traced["failed"])
    assert plain["failed"] > 0
