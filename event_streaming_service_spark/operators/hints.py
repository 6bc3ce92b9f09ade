"""Size-gated join-side hints (guide §3.1/§3.2).

An unconditional `F.broadcast` on a frame that grows with the corpus
is the difference between fast-at-sf0.1 and OOM-at-100TB: the explicit
hint bypasses `spark.sql.autoBroadcastJoinThreshold`, so a query-slice
frame that is "tiny" on the test fixture (1/125 of the corpus x
n_probe, full vectors attached) becomes a multi-hundred-GB broadcast
relation at the 100 TB design point (VERDICT r12 item #1). The fix is
NOT to drop the hint — the planner's post-window/post-aggregate size
estimates are opaque and it demonstrably picks the wrong build side
(r12 plan audit: ivf_trained_topk broadcast the CORPUS) — but to apply
it under an explicit size gate and degrade to a SHUFFLE_HASH hint
above it: same join result, graceful shuffle-based execution, no 8 GB
/ 512M-row broadcast cap in the way.

The estimate must cost ZERO extra Spark jobs. Two sources qualify:

* `plan_bytes(df)` — Catalyst's `optimizedPlan().stats().sizeInBytes`.
  For a parquet scan this is the file size (accurate); filters/
  projections propagate it conservatively (an un-estimable filter
  keeps the child's size), so a gate fed by the BASE scan's stats
  times the operator's known fan-out (n_probe, 1/query_mod, ...)
  over-estimates and errs toward not broadcasting — the safe side.
* a row count the caller already has in hand (a connected-components
  stats byproduct, a pinned frame's materialization count).

Local plans stay identical: every gated site's sf0.1 estimate is
megabytes, far under the default 128 MB cap, so the driver bench and
the plans/r13 dumps keep the exact BroadcastHashJoin shape the r12
audit signed off on. The cap is parameterised for cluster deployments
(`spark.graft.broadcast.maxBytes`), never tuned to the local fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Per-row framing overhead charged on top of payload bytes when a gate
# is expressed in rows (UnsafeRow header + offsets; deliberately fat).
ROW_OVERHEAD_BYTES = 48

_DEFAULT_MAX_BYTES = 128 * 1024 * 1024

# Local-path gate in pairs (undirected edges). The ceiling bounds the one
# task's memory: the kernels hold a few numpy/dict entries per adjacency row.
_DEFAULT_LOCAL_MAX_PAIRS = 200_000
_LOCAL_MAX_PAIRS_CEIL = 2_000_000


def broadcast_cap_bytes(df: DataFrame) -> int:
    """The broadcast size gate, conf-overridable per deployment."""
    try:
        return int(df.sparkSession.conf.get(
            "spark.graft.broadcast.maxBytes", str(_DEFAULT_MAX_BYTES)))
    except Exception:
        return _DEFAULT_MAX_BYTES


def local_max_pairs(spark: SparkSession) -> int:
    """The single-task local-path gate of the graph fixpoints
    (connected components, k-core, WL): a graph of at most this many
    pairs runs in one executor task instead of one barrier job per
    round. `spark.graft.cc.localMaxPairs`, clamped to
    [0, _LOCAL_MAX_PAIRS_CEIL] so a typo can never route a cluster-size
    graph into one task; a non-numeric value falls back to the default."""
    raw = spark.conf.get("spark.graft.cc.localMaxPairs",
                         str(_DEFAULT_LOCAL_MAX_PAIRS))
    try:
        cap = int(raw)
    except (TypeError, ValueError):
        return _DEFAULT_LOCAL_MAX_PAIRS
    return min(max(cap, 0), _LOCAL_MAX_PAIRS_CEIL)


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for `df` — no Spark job. For a
    raw parquet scan this is the on-disk file size; derived frames
    propagate it conservatively (see module docstring). Returns a huge
    sentinel when the JVM call fails so callers gate toward NOT
    broadcasting."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return 1 << 62


def gated_broadcast(df: DataFrame, est_bytes: float | int,
                    cap: int | None = None,
                    fallback: str = "shuffle_hash") -> DataFrame:
    """`F.broadcast(df)` when the caller's zero-job estimate fits the
    gate, else a SHUFFLE_HASH hint (the small-but-not-broadcastable
    side still builds the per-partition hash table; sort-merge is the
    planner's graceful fallback if even that is refused). Pass
    fallback="none" for non-equi/cross joins where a shuffle-hash
    hint cannot apply (the planner falls back to its own strategy)."""
    if cap is None:
        cap = broadcast_cap_bytes(df)
    if est_bytes <= cap:
        return F.broadcast(df)
    if fallback == "shuffle_hash":
        return df.hint("SHUFFLE_HASH")
    return df


def gated_broadcast_rows(df: DataFrame, est_rows: int | None,
                         row_payload_bytes: int,
                         cap: int | None = None,
                         fallback: str = "shuffle_hash") -> DataFrame:
    """Row-count form of the gate: `est_rows` is a count the caller
    already holds (None = unknown = too big)."""
    if est_rows is None:
        est_rows = 1 << 62
    return gated_broadcast(
        df, est_rows * (row_payload_bytes + ROW_OVERHEAD_BYTES), cap,
        fallback)
