"""Engine benchmark.

    python3 perfbench/run.py --workload corpus_fixpoint --seed 1 --seconds 16 --trace 0

Run from the repository root. Workloads: corpus_fixpoint, stream_consume
(see perfbench/workloads.py). `--seconds` sizes the measured work (timed
passes, drains and open-loop files) at its nominal speed on 4 cores. The
session is sized from the host (`local[<cores>]`, driver memory a quarter of
physical RAM). Inputs are
generated from the seed under `.perfbench_out/`, which the run removes at the
end except for the trace files of a traced run.

The last stdout line is one JSON object: correct, attempted, failed and the
metrics (END_TO_END with --trace 0; PER_LAYER with --trace 1, from the Spark
event log and the benchmark's spans). The line before it records the host,
versions and run details, with the wall-time figures (WALL) by name and unit. A traced run also leaves its spans, event log and
layer table under `.perfbench_out/trace-<workload>-<seed>/`.

An operation is one query execution (batch) or one offered event (stream).
`failed` counts every operation whose output the checker rejects, and
`ok_rate` is the share of checked operations that passed. `correct` is false
when a check fails for any reason other than the one known program defect the
checker recognises exactly: the stream's duplicates written by different
micro-batches (consume_to_tables dedups within one micro-batch only). Those
still count in `failed`.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_fixpoint", "stream_consume")

# Gated end-to-end metrics, in CPU seconds (user + system, the whole process
# tree, less the JVM's JIT compiler threads; see workloads.tree_cpu_s):
# `setup_s` from before the session starts to the first timed unit (session,
# inputs, output check and warm-up), `pass_cpu_s` of one timed unit (a pass
# over the query mix, or one backlog drain). On a shared VM the wall time of
# the same work moves with the CPU time the host gives to other guests
# (steal) by more than any bound the benchmark may set; process CPU time
# leaves the stolen time out and moves about half as much. `host_steal` on
# the info line records the steal share during the run.
END_TO_END = {
    "setup_s": "s", "pass_cpu_s": "s", "ok_rate": "ratio", "jvm_live_mb": "MB",
}
# Wall-time figures every run prints on its info line, not gated.
WALL = {
    "setup_wall_s": "s", "pass_s": "s", "events_per_s": "1/s",
    "latency_p50_ms": "ms", "latency_p90_ms": "ms",
}

# Batch workloads report per timed pass; stream_consume per run. Layers a
# workload does not exercise report 0.
PER_LAYER = {
    "session.start_s": "s",
    "sources.prepare_s": "s", "sources.load_calls": "count", "sources.load_s": "s",
    "sources.scan_rows": "count", "sources.scan_bytes": "bytes",
    "query_defs.build_s": "s", "query_defs.build_jobs": "count",
    "query_defs.build_stages": "count", "query_defs.build_tasks": "count",
    "query_defs.build_core_idle_frac": "ratio",
    "operators.exec_s": "s", "operators.exec_jobs": "count",
    "operators.exec_stages": "count", "operators.exec_tasks": "count",
    "operators.shuffle_write_bytes": "bytes", "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes", "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s", "operators.gc_s": "s",
    "operators.core_idle_frac": "ratio", "operators.python_bytes_sent": "bytes",
    "operators.resident_mb_after_query": "MB", "operators.failed_tasks": "count",
    "streaming.batches": "count", "streaming.rows_per_batch": "count",
    "streaming.source_rows_per_event": "ratio",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.trigger_ms_p50": "ms",
    "streaming.queue_wait_ms_p50": "ms", "streaming.backlog_files_end": "count",
    "loadgen.late_ms_p99": "ms",
    "trace.pass_s": "s", "trace.pass_cpu_s": "s",
}


def host_resources() -> tuple[int, int]:
    """(cores this process may use, driver memory in MB: a quarter of
    physical RAM, clamped to 1-8 GB)."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return cores, int(min(8192, max(1024, ram_mb // 4)))


def start_session(out: str, cores: int, mem_mb: int, trace: bool):
    """Launch the Spark JVM through the program's `get_spark`, with launch
    conf that keeps every file under `out` and, traced, writes the event
    log uncompressed to `out/eventlog`."""
    tmp = os.path.join(out, "tmp")
    for d in (tmp, os.path.join(out, "local"), os.path.join(out, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{mem_mb}m"
    # a fixed set of JIT compiler threads: see workloads.tree_cpu_s
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": os.path.join(out, "warehouse")}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.join(out, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

    from event_streaming_service_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def host_cpu_ticks() -> list[int]:
    """The machine-wide CPU counters of /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the host gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when its stdin
    closes)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def versions() -> dict:
    import duckdb
    import pyspark
    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "event_streaming_service_spark")):
        print("perfbench: run from a checkout holding event_streaming_service_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    out = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out)
    cores, mem_mb = host_resources()
    cpu0 = workloads.tree_cpu_s(os.getpid())
    spark, start_s = start_session(out, cores, mem_mb, bool(args.trace))
    ticks0 = host_cpu_ticks()
    try:
        run = workloads.Run(spark, out, args.seed, args.seconds, bool(args.trace), cores)
        if args.workload == "stream_consume":
            res = workloads.stream_workload(run)
        else:
            res = workloads.batch_workload(run)
        peak_mb = jvm_peak_rss_mb(spark)
        steal = steal_share(ticks0, host_cpu_ticks())
    finally:
        stop_session(spark)

    e2e = dict(res["e2e"], setup_s=run.setup_cpu_s - cpu0,
               setup_wall_s=start_s + res["prep_s"] + res["warm_s"],
               jvm_live_mb=run.live_mb,
               ok_rate=1.0 - run.check_failed / run.checked)
    if args.trace:
        metrics = dict(res["layers"], **{"session.start_s": start_s,
                                         "sources.prepare_s": res["prep_s"]})
        names = PER_LAYER
        trace_dir = os.path.join(ROOT, ".perfbench_out",
                                 f"trace-{args.workload}-{args.seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        run.tracer.write(os.path.join(trace_dir, "spans.json"))
        shutil.move(os.path.join(out, "eventlog"), os.path.join(trace_dir, "eventlog"))
        with open(os.path.join(trace_dir, "layers.json"), "w") as fh:
            json.dump({"per_layer": metrics, "end_to_end": e2e}, fh, indent=1)
    else:
        metrics, names = e2e, END_TO_END
    shutil.rmtree(out, ignore_errors=True)

    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "driver_memory_mb": mem_mb,
            "versions": versions(), "unexpected_failures": run.unexpected,
            "session_start_s": start_s, "prep_s": res["prep_s"],
            "warm_s": res["warm_s"], "peak_rss_mb": peak_mb, "host_steal": steal,
            "end_to_end": e2e,
            "wall": {n: {"value": e2e[n], "unit": u} for n, u in WALL.items()},
            **run.notes}
    print(json.dumps(info, default=str))
    result = {
        "correct": run.unexpected == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u}
                    for n, u in names.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
