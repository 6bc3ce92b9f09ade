"""The benchmark workloads.

* `corpus_fixpoint` — iterative graph operators whose builders run eager
  barrier jobs (fixpoint rounds, checkpoints) before the action.
* `stream_consume` — `streaming.pipeline.consume_to_tables` over files a
  seeded generator moves into the source directory: a pre-staged backlog is
  drained several times, then files arrive open-loop at a fixed rate.

Each batch query is built (`REGISTRY[name].builder`) and then executed to the
noop sink; the untimed warm-up pass collects every result once and compares
it with the registry's DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics
import threading
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import check, gen
from perfbench.trace import Tracer, fold_event_log, idle_frac

# Fixed-round graph operators whose builders run the rounds as eager jobs.
# kcore stops early at its fixpoint, so the seed must not decide how many
# rounds run: 2,800 orders over 360 parts put the 80-core at its threshold,
# where peeling still changes the graph in the sixth round on every seed
# tried (32 of 32); 3,000 orders stop after 3 to 6 rounds. How many parts
# survive varies by seed (0 to 328).
CORPUS_QUERIES = ["kcore_copurchase", "wl_roles_copurchase"]
CORPUS_SIZE = dict(n_orders=2_800, n_customers=150, n_suppliers=10, n_parts=360)
WARM_PASSES = 2
MIN_PASSES = 3
# A run measures a fixed amount of work, sized from --seconds with the
# nominal time of one unit on 4 cores, so that every run stops at the same
# point of the JIT's warm-up curve whatever the host's speed.
PASS_S = 4.0
DRAIN_S = 3.0

# stream_consume: files of FILE_EVENTS base events. A drain stages
# BACKLOG_FILES at once and the consumer takes MAX_FILES_PER_TRIGGER files
# per micro-batch. The open loop then offers OPEN_RATE files per second,
# well below the drain capacity, and each restarted consumer takes one file
# per micro-batch. So every micro-batch holds the same files on every run of
# a seed, whatever the timing: the consume path dedups within a micro-batch
# only, and the number of duplicates it lets through depends on where the
# micro-batches start and end. It offers at least MIN_OPEN_FILES files.
FILE_EVENTS = 200
BACKLOG_FILES = 80
MAX_FILES_PER_TRIGGER = 20
OPEN_RATE = 1
MIN_OPEN_FILES = 20
STREAM_USERS = 1_500
STREAM_NOW = dt.datetime(2024, 2, 1)
STREAM_SPAN_US = 2 * gen.DAY_US
DRAIN_SHARE = 0.5
MIN_DRAINS = 5
WARM_DRAINS = 2


# The JVM's JIT compiler threads (names as the kernel truncates them). Their
# CPU time is warm-up, not the program's work: it falls from pass to pass.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> list[str] | None:
    """The fields of a /proc stat file after the command name, or None
    when the process or thread has gone."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    return [raw[raw.index("(") + 1:raw.rindex(")")]] + raw.rsplit(")", 1)[1].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process `root` and every
    live process below it (the Python driver, the Spark JVM and the JVM's
    Python workers), less the JVM's JIT compiler threads. Unlike wall time,
    this leaves out the time the host gives the machine's CPUs to other
    guests. The session keeps a fixed set of compiler threads, so none of
    them exits between two readings."""
    procs = {}
    for d in os.listdir("/proc"):
        f = _stat(f"/proc/{d}/stat") if d.isdigit() else None
        if f is not None:
            # f[0] command; then state ppid ... utime stime cutime cstime
            procs[int(d)] = (int(f[2]), sum(int(x) for x in f[12:16]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            f = _stat(f"/proc/{pid}/task/{tid}/stat")
            if f is not None and f[0].startswith(JIT_THREADS):
                ticks -= int(f[12]) + int(f[13])
    return ticks / os.sysconf("SC_CLK_TCK")


def _pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


class Run:
    """State shared by one benchmark run: session, tracer, counters."""

    def __init__(self, spark, out_dir: str, seed: int, seconds: int,
                 trace: bool, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.out = out_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.tracer = Tracer(self.sc, trace)
        self.pid = os.getpid()
        # tree_cpu_s when set-up (session, inputs, check and warm-up) ends
        self.setup_cpu_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.unexpected = 0
        self.notes: dict = {}
        self.load_calls = 0
        self.live_mb = 0.0
        self.checked = 0
        self.check_failed = 0

    def wrap_loads(self, module, name: str) -> None:
        """Traced runs: a span and a counter around every call of the
        program's source reader `module.name`."""
        fn = getattr(module, name)

        def traced(*a, **kw):
            self.load_calls += 1
            with self.tracer.span("load"):
                return fn(*a, **kw)
        setattr(module, name, traced)

    def sample_live_memory(self) -> None:
        """Once, after the timed work: a full GC, then the JVM's heap plus
        non-heap in use. Unlike the resident set, this does not depend on
        when the collector last grew or shrank the heap. (A full GC between
        timed units would shrink the heap and add collector work to the
        units after it.)"""
        jvm = self.sc._jvm
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        self.live_mb = used / 2**20

    def resident_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _prepare(run: Run, make):
    """Time the one call `make()` that writes the run's inputs."""
    with run.tracer.span("prepare") as sp:
        res = make()
    return sp["end"] - sp["start"], res


def batch_workload(run: Run) -> dict:
    from event_streaming_service_spark.queries import REGISTRY, _load_all
    from event_streaming_service_spark.sources import fixtures, tables

    queries = CORPUS_QUERIES
    _load_all()
    if run.trace:
        run.wrap_loads(tables, "load_table")

    raw_dir = os.path.join(run.out, "gen")

    def make():
        gen.batch_inputs(run.seed, raw_dir, **CORPUS_SIZE)
        return fixtures.prepare_splittable(raw_dir, os.path.join(run.out, "split"),
                                           run.cores)
    prep_s, table_dir = _prepare(run, make)
    # rows of the table the mix reads most
    main_rows = CORPUS_SIZE["n_orders"] * gen.LINES_PER_ORDER

    # untimed warm-up: every query once, collected and checked
    oracle = check.Oracle(raw_dir)
    warm_s = 0.0
    mismatches, warm_q = {}, {}
    for q in queries:
        spec = REGISTRY[q]
        run.attempted += 1
        run.checked += 1
        t0 = time.perf_counter()
        try:
            with run.tracer.span("check", group=f"check:{q}", query=q):
                got = spec.builder(run.spark, table_dir).toPandas()
            run.spark.catalog.clearCache()
        except Exception:
            traceback.print_exc()
            run.failed += 1
            run.check_failed += 1
            run.unexpected += 1
            mismatches[q] = "error"
            continue
        finally:
            warm_q[q] = time.perf_counter() - t0
            warm_s += warm_q[q]
        if spec.oracle is not None:
            why = check.mismatch(got, oracle.run(spec.oracle))
            if why:
                run.failed += 1
                run.check_failed += 1
                run.unexpected += 1
                mismatches[q] = why
    oracle.close()
    run.notes.update(mismatches=mismatches, warm_query_s=warm_q)

    # WARM_PASSES untimed passes (JIT keeps speeding the first passes up),
    # then the timed passes
    rng = np.random.default_rng([run.seed, 3])
    per_q: dict[str, list[float]] = {q: [] for q in queries}
    cpu_q: dict[str, list[float]] = {q: [] for q in queries}
    n_passes = max(MIN_PASSES, round(run.seconds / PASS_S))
    resident, passes = [], -WARM_PASSES
    while passes < n_passes:
        timed = passes >= 0
        if passes == 0:
            run.setup_cpu_s = tree_cpu_s(run.pid)
        kind = "" if timed else "warm"
        order = [queries[i] for i in rng.permutation(len(queries))]
        with run.tracer.span("pass" if timed else "warm"):
            for q in order:
                run.attempted += 1
                c0 = tree_cpu_s(run.pid)
                q0 = time.perf_counter()
                try:
                    with run.tracer.span("query", query=q):
                        with run.tracer.span("build", group=f"{kind}build:{q}"):
                            df = REGISTRY[q].builder(run.spark, table_dir)
                        with run.tracer.span("execute", group=f"{kind}exec:{q}"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception:
                    traceback.print_exc()
                    run.failed += 1
                    run.unexpected += 1
                took = time.perf_counter() - q0
                cpu = tree_cpu_s(run.pid) - c0
                run.spark.catalog.clearCache()
                if not timed:
                    warm_s += took
                    continue
                per_q[q].append(took)
                cpu_q[q].append(cpu)
                if run.trace:
                    resident.append(run.resident_mb())
        passes += 1
    run.sample_live_memory()

    # a pass is the sum of each query's median, so one slow pass does not
    # set the figure
    med = {q: statistics.median(v) for q, v in per_q.items()}
    pass_s = sum(med.values())
    pass_cpu_s = sum(statistics.median(v) for v in cpu_q.values())
    e2e = {
        "pass_cpu_s": pass_cpu_s,
        "pass_s": pass_s,
        "events_per_s": main_rows * len(queries) / pass_s,
        # a mix of a few queries has too few samples for a tail percentile:
        # p50 is the median query's median, p90 the slowest query's median
        "latency_p50_ms": 1000 * statistics.median(med.values()),
        "latency_p90_ms": 1000 * max(med.values()),
    }
    run.notes.update(passes=passes, query_s=per_q, query_cpu_s=cpu_q)
    layers = {}
    if run.trace:
        layers = batch_layers(run, passes, resident, pass_s, pass_cpu_s)
    return {"prep_s": prep_s, "warm_s": warm_s, "e2e": e2e, "layers": layers}


def _kind_totals(run: Run) -> dict:
    return fold_event_log(os.path.join(run.out, "eventlog"), run.tracer.stream_run_ids)


def _common_layers(k: dict, per: float, cores: int, exec_wall: float,
                   build_wall: float) -> dict:
    b, e = k.get("build", {}), k.get("exec", {})
    return {
        "query_defs.build_jobs": b.get("jobs", 0) / per,
        "query_defs.build_stages": b.get("stages", 0) / per,
        "query_defs.build_tasks": b.get("tasks", 0) / per,
        "query_defs.build_core_idle_frac": idle_frac(b.get("run_ms", 0), build_wall, cores),
        "operators.exec_jobs": e.get("jobs", 0) / per,
        "operators.exec_stages": e.get("stages", 0) / per,
        "operators.exec_tasks": e.get("tasks", 0) / per,
        "operators.shuffle_write_bytes": e.get("shuffle_write_bytes", 0) / per,
        "operators.shuffle_read_bytes": e.get("shuffle_read_bytes", 0) / per,
        "operators.spill_bytes": e.get("spill_bytes", 0) / per,
        "operators.executor_run_s": e.get("run_ms", 0) / 1000 / per,
        "operators.executor_cpu_s": e.get("cpu_ns", 0) / 1e9 / per,
        "operators.gc_s": e.get("gc_ms", 0) / 1000 / per,
        "operators.core_idle_frac": idle_frac(e.get("run_ms", 0), exec_wall, cores),
        "operators.python_bytes_sent": (b.get("python_bytes_sent", 0)
                                        + e.get("python_bytes_sent", 0)) / per,
        "operators.failed_tasks": sum(v.get("failed_tasks", 0) for v in k.values()),
        "sources.scan_rows": (b.get("input_rows", 0) + e.get("input_rows", 0)) / per,
        "sources.scan_bytes": (b.get("input_bytes", 0) + e.get("input_bytes", 0)) / per,
    }


def batch_layers(run: Run, passes: int, resident: list, pass_s: float,
                 pass_cpu_s: float) -> dict:
    """Per-layer numbers of a traced batch run, per timed pass."""
    tr = run.tracer
    exec_wall, build_wall = tr.total("execute", "pass"), tr.total("build", "pass")
    out = _common_layers(_kind_totals(run), passes, run.cores, exec_wall, build_wall)
    out.update({
        "sources.load_calls": len(tr.named("load", "pass")) / passes,
        "sources.load_s": tr.total("load", "pass") / passes,
        "query_defs.build_s": tr.self_time("build", "pass") / passes,
        "operators.exec_s": exec_wall / passes,
        "operators.resident_mb_after_query": max(resident, default=0.0),
        "trace.pass_s": pass_s,
        "trace.pass_cpu_s": pass_cpu_s,
    })
    return out


# ---------------------------------------------------------------- stream

def _ckpt_batches(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """file name -> batch id from the file source's log, and batch id ->
    commit time (mtime of `commits/<id>`)."""
    file_batch = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    rec = json.loads(line)
                    file_batch[os.path.basename(rec["path"])] = rec["batchId"]
    commits = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "[0-9]*")):
        commits[int(os.path.basename(path))] = os.stat(path).st_mtime
    return file_batch, commits


def stream_workload(run: Run) -> dict:
    from pyspark.sql import functions as F

    from event_streaming_service_spark.streaming import pipeline as streaming

    staging, src = os.path.join(run.out, "staging"), os.path.join(run.out, "src")
    main_dir, dlq_dir = os.path.join(run.out, "main"), os.path.join(run.out, "dlq")
    ckpt = os.path.join(run.out, "ckpt")
    os.makedirs(src)
    n_drains = max(MIN_DRAINS, round(run.seconds * DRAIN_SHARE / DRAIN_S))
    n_open = max(MIN_OPEN_FILES, round(run.seconds * (1 - DRAIN_SHARE) * OPEN_RATE))
    n_files = BACKLOG_FILES * (WARM_DRAINS + n_drains) + n_open
    if run.trace:
        run.wrap_loads(streaming, "read_event_stream")

    def make():
        files, counts = gen.stream_files(run.seed, n_files, FILE_EVENTS,
                                         STREAM_USERS, STREAM_NOW, STREAM_SPAN_US)
        os.makedirs(staging)
        for j, t in enumerate(files):
            pq.write_table(t, os.path.join(staging, f"f{j:05d}.parquet"))
        return files, counts
    prep_s, (files, counts) = _prepare(run, make)
    run.notes["injected"] = counts
    names = [f"f{j:05d}.parquet" for j in range(n_files)]
    rows_of = {n: t.num_rows for n, t in zip(names, files)}
    due: dict[str, float] = {}
    offered_at: dict[str, float] = {}
    next_file = [0]
    now_col = F.lit(STREAM_NOW.isoformat(sep=" ")).cast("timestamp")
    progress: list[dict] = []

    def offer(due_t: float) -> None:
        name = names[next_file[0]]
        next_file[0] += 1
        path = os.path.join(staging, name)
        ns = int(due_t * 1e9)
        os.utime(path, ns=(ns, ns))
        os.rename(path, os.path.join(src, name))
        due[name] = due_t
        offered_at[name] = time.time()

    def consume(label: str, max_files: int = MAX_FILES_PER_TRIGGER) -> None:
        with run.tracer.span("run", phase=label) as sp:
            q = streaming.consume_to_tables(
                streaming.read_event_stream(run.spark, src, max_files),
                main_dir, dlq_dir, ckpt, now_fn=lambda: now_col)
            run.tracer.stream_run_ids.add(str(q.runId))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        for p in q.recentProgress:
            progress.append({"phase": label, "span": sp["id"], **json.loads(p.json)})

    def stage_backlog() -> None:
        # one per millisecond, each mid-way through its millisecond: the
        # file source orders files by their mtime in ms, so the order, and
        # with it each micro-batch, is fixed
        base = (int(time.time() * 1000) + 0.5) / 1000
        for j in range(BACKLOG_FILES):
            offer(base + j * 1e-3)

    # warm-up: backlogs drained untimed (part of setup)
    t0 = time.perf_counter()
    for _ in range(WARM_DRAINS):
        stage_backlog()
        consume("warmup")
    warm_s = time.perf_counter() - t0
    run.setup_cpu_s = tree_cpu_s(run.pid)

    # closed phase: drain a freshly staged backlog, repeatedly
    drains, drain_cpu = [], []
    while len(drains) < n_drains:
        stage_backlog()
        c0 = tree_cpu_s(run.pid)
        d0 = time.perf_counter()
        consume("drain")
        drains.append(time.perf_counter() - d0)
        drain_cpu.append(tree_cpu_s(run.pid) - c0)
    drain_s = statistics.median(drains)
    backlog_events = sum(rows_of[n] for n in names[:BACKLOG_FILES])

    # open loop: OPEN_RATE files per second on a fixed schedule, whatever
    # the consumer does; the consumer restarts its availableNow query and
    # takes one file per micro-batch
    first_open = next_file[0]
    open_start = time.time() + 0.05
    window_end = open_start + n_open / OPEN_RATE

    gen_errors: list[BaseException] = []

    def generator() -> None:
        try:
            for j in range(n_open):
                t = open_start + j / OPEN_RATE
                delay = t - time.time()
                if delay > 0:
                    time.sleep(delay)
                offer(t)
        except BaseException as exc:
            gen_errors.append(exc)
            raise
    gen_thread = threading.Thread(target=generator, name="loadgen")
    gen_thread.start()
    try:
        while gen_thread.is_alive():
            consume("open", 1)
    finally:
        gen_thread.join()
    if gen_errors:
        raise RuntimeError("load generator failed") from gen_errors[0]
    consume("open", 1)
    run.sample_live_memory()

    file_batch, commits = _ckpt_batches(ckpt)
    open_names = names[first_open:first_open + n_open]
    lat_ms, wait_ms, late_ms = [], [], []
    trig_start = {}
    for p in progress:
        if p.get("numInputRows", 0) > 0:
            trig_start[p["batchId"]] = pd.Timestamp(p["timestamp"]).timestamp()
    backlog_end = 0
    for n in open_names:
        b = file_batch[n]
        lat_ms.append(1000 * (commits[b] - due[n]))
        wait_ms.append(1000 * (trig_start[b] - due[n]))
        late_ms.append(1000 * (offered_at[n] - due[n]))
        backlog_end += commits[b] > window_end

    offered = pd.concat([t.to_pandas() for t in files[:next_file[0]]],
                        ignore_index=True)
    res = check.check_stream(offered, pd.Timestamp(STREAM_NOW),
                             check.read_batches(main_dir), check.read_batches(dlq_dir))
    run.attempted += res["attempted"]
    run.checked += res["attempted"]
    run.failed += res["failed"]
    run.check_failed += res["failed"]
    run.unexpected += res["unexpected"]
    run.notes["stream_check"] = res
    run.notes.update(drains=drains, drain_cpu_s=drain_cpu, latency_samples=len(lat_ms),
                     batches=len(commits))

    e2e = {
        "pass_cpu_s": statistics.median(drain_cpu),
        "pass_s": drain_s,
        "events_per_s": backlog_events / drain_s,
        "latency_p50_ms": _pct(lat_ms, 50),
        "latency_p90_ms": _pct(lat_ms, 90),
    }
    layers = {}
    if run.trace:
        timed = [p for p in progress if p["phase"] != "warmup"
                 and p.get("numInputRows", 0) > 0]
        for p in timed:
            start = pd.Timestamp(p["timestamp"]).timestamp()
            run.tracer.spans.append({
                "id": len(run.tracer.spans), "name": "trigger", "parent": p["span"],
                "group": None, "start": start,
                "end": start + p["durationMs"]["triggerExecution"] / 1000,
                "batch_id": p["batchId"], "rows": p["numInputRows"]})

        def dur(key: str) -> float:
            return _pct([p["durationMs"].get(key, 0) for p in timed], 50)
        k = _kind_totals(run)
        s = k.get("stream", {})
        runs = [x for x in run.tracer.spans if x["name"] == "run"]
        stream_wall = sum(x["end"] - x["start"] for x in runs)
        layers = _common_layers({"exec": s}, 1, run.cores, stream_wall, 0.0)
        layers.update({
            "sources.load_calls": run.load_calls,
            "sources.load_s": run.tracer.total("load"),
            "query_defs.build_s": 0.0,
            "operators.exec_s": sum(p["durationMs"].get("addBatch", 0)
                                    for p in timed) / 1000,
            "operators.resident_mb_after_query": run.resident_mb(),
            "streaming.batches": len(timed),
            "streaming.rows_per_batch": statistics.mean(p["numInputRows"] for p in timed),
            "streaming.source_rows_per_event": s.get("input_rows", 0) / len(offered),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.latest_offset_ms": dur("latestOffset"),
            "streaming.trigger_ms_p50": dur("triggerExecution"),
            "streaming.queue_wait_ms_p50": _pct(wait_ms, 50),
            "streaming.backlog_files_end": backlog_end,
            "loadgen.late_ms_p99": _pct(late_ms, 99),
            "trace.pass_s": drain_s,
            "trace.pass_cpu_s": e2e["pass_cpu_s"],
        })
    return {"prep_s": prep_s, "warm_s": warm_s, "e2e": e2e, "layers": layers}
