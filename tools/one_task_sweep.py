"""Where `hints.ONE_TASK_MAX_BYTES` should sit: the wall time of one
consume micro-batch (`streaming.pipeline.consume_batch`) on the one-task
path and on the shuffle path, over batch sizes. Each batch is 20 event
files from the benchmark's seeded generator (`perfbench/gen.py`), like a
`stream_consume` drain batch; only the events per file change.

Usage: python tools/one_task_sweep.py [--cores N] [--reps R]
                                      [--events-per-file 200,1000,...]
Prints one JSON line per size: rows, Catalyst's `plan_bytes` and the
median seconds of each path over R alternating runs (after one warm-up
pair). Where one_task_s passes shuffle_s is the crossover.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from event_streaming_service_spark.operators import hints
from event_streaming_service_spark.session import get_spark
from event_streaming_service_spark.streaming import pipeline as sp
from perfbench import gen

NOW = dt.datetime(2024, 2, 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--reps", type=int, default=6)
    ap.add_argument("--events-per-file", default="200,500,1000,2000,4000,20000")
    args = ap.parse_args()
    spark = get_spark("one-task-sweep", cpus=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    now = F.lit(NOW.isoformat(sep=" ")).cast("timestamp")
    fits = hints.fits_one_task
    root = tempfile.mkdtemp(prefix="one-task-sweep-")
    try:
        for epf in (int(s) for s in args.events_per_file.split(",")):
            files, _ = gen.stream_files(5, 20, epf, 1_500, NOW, 2 * gen.DAY_US)
            src = os.path.join(root, "src")
            os.makedirs(src)
            for j, t in enumerate(files):
                pq.write_table(t, os.path.join(src, f"f{j:05d}.parquet"))
            batch = spark.read.schema(sp.EVENT_SCHEMA).parquet(src)
            secs = {True: [], False: []}
            for r in range(args.reps + 1):
                for one in ((True, False) if r % 2 else (False, True)):
                    hints.fits_one_task = lambda df, one=one: one
                    out = os.path.join(root, "out")
                    t0 = time.perf_counter()
                    sp.consume_batch(batch, 0, f"{out}/main", f"{out}/dlq", now)
                    if r:
                        secs[one].append(time.perf_counter() - t0)
                    shutil.rmtree(out)
            hints.fits_one_task = fits
            print(json.dumps({
                "events_per_file": epf, "rows": sum(t.num_rows for t in files),
                "plan_bytes": hints.plan_bytes(batch),
                "one_task_s": round(statistics.median(secs[True]), 3),
                "shuffle_s": round(statistics.median(secs[False]), 3)}), flush=True)
            shutil.rmtree(src)
    finally:
        hints.fits_one_task = fits
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
