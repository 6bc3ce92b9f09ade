"""Regenerate the BENCH_NOTES.md comparison table: every bench.py
headline query (or only the queries named on argv — the per-query
iteration loop for perf work) timed in Spark (noop sink) and in DuckDB
against the oracle SQL (fetchall) — per-query warmup then best-of-2,
one shared session per engine.

Both engines read the SAME splittable multi-file fixture copy that
bench.py measures (sources/fixtures.py): single-row-group fixture files
serialize Spark scans by construction while DuckDB parallelizes inside
the row group, so pairing on the rewritten copy is the apples-to-apples
comparison. Opt out with SPARK_GRAFT_NO_SPLIT=1 to measure the raw
driver fixtures.

Usage: python tools/gen_bench_notes.py [name ...] [> table.md]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bench import BENCH_QUERIES_FULL as BENCH_QUERIES, CPUS, SF_DIR
from event_streaming_service_spark.queries import REGISTRY, _load_all
from event_streaming_service_spark.session import get_spark
from event_streaming_service_spark.sources.tables import TABLE_NAMES


def main() -> None:
    _load_all()
    bench_dir = SF_DIR
    if os.environ.get("SPARK_GRAFT_NO_SPLIT", "0") != "1":
        from event_streaming_service_spark.sources.fixtures import (
            prepare_splittable)
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        bench_dir = prepare_splittable(
            SF_DIR, os.path.join(repo_root, ".bench_cache"))

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")  # see bench.py
    # One generation run, no per-row splicing — but the JVM is torn
    # down and rebuilt every SESSION_EVERY queries: a single 150-query
    # session accumulates heap/GC state that clearCache cannot reclaim
    # and inflates LATE rows specifically (round-9 observation:
    # near_dup_survivors read 18.1 s at table position ~110 vs 5.4 s
    # in a fresh session — 3.3x of pure session state, not plan). The
    # rebuild keeps every row's measurement condition comparable.
    spark = get_spark("bench-notes", cpus=CPUS, shuffle_partitions=max(CPUS, 32))
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = f"{bench_dir}/{t}.parquet"
        src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")

    SESSION_EVERY = 40
    rows = []
    total_s = total_d = 0.0
    for qi, name in enumerate(sys.argv[1:] or BENCH_QUERIES):
        if qi > 0 and qi % SESSION_EVERY == 0:
            spark.stop()
            spark = get_spark("bench-notes", cpus=CPUS,
                              shuffle_partitions=max(CPUS, 32))
        spec = REGISTRY[name]
        best_s = float("inf")
        for i in range(3):  # first run = untimed warmup
            # builder INSIDE the timer: iterative operators do real
            # eager work at build time (checkpointed peel/propagation
            # rounds, codebook collects) — timing only the final noop
            # write under-reported them by 10-30x
            t0 = time.perf_counter()
            df = spec.builder(spark, bench_dir)
            df.write.format("noop").mode("overwrite").save()
            if i > 0:
                best_s = min(best_s, time.perf_counter() - t0)
        spark.catalog.clearCache()
        if spec.oracle:
            best_d = float("inf")
            for i in range(3):
                t0 = time.perf_counter()
                con.execute(spec.oracle).fetchall()
                if i > 0:
                    best_d = min(best_d, time.perf_counter() - t0)
            # floor annotation (VERDICT r8 item #5): a DuckDB side at
            # or under 0.15 s measures Spark's fixed per-query floor
            # (job scheduling, codegen, Arrow spin-up), not relative
            # work — the ratio column must say so inline so a 15x
            # floor artifact cannot be misread as a real gap.
            floor = best_d <= 0.15
            ratio = f"{best_s / best_d:.1f}x" + (" (floor)" if floor
                                                 else "")
            dtxt = f"{best_d:.2f}"
            total_s += best_s
            total_d += best_d
            rows.append((name, best_s, best_d, floor))
        else:
            dtxt, ratio = "— (rows-only)", "—"
        print(f"| {name} | {best_s:.2f} | {dtxt} | {ratio} |",
              flush=True)

    if rows:
        print(f"| **total (oracle-paired)** | **{total_s:.2f}** | "
              f"**{total_d:.2f}** | **{total_s / total_d:.1f}x** |")
    # honesty split: floor rows vs work-bound rows
    fl = [(s, d) for _, s, d, f in rows if f]
    wb = [(s, d) for _, s, d, f in rows if not f]
    if fl:
        fs, fd = sum(s for s, _ in fl), sum(d for _, d in fl)
        print(f"| *floor rows (DuckDB <= 0.15 s): {len(fl)}* | "
              f"*{fs:.2f}* | *{fd:.2f}* | *n/a (fixed floor)* |")
    if wb:
        ws, wd = sum(s for s, _ in wb), sum(d for _, d in wb)
        print(f"| *work-bound rows: {len(wb)}* | *{ws:.2f}* | "
              f"*{wd:.2f}* | *{ws / wd:.1f}x* |")


if __name__ == "__main__":
    main()
