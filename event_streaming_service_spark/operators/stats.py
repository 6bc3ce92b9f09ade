"""Monitoring aggregations: consumer lag, topic statistics, percentiles.

Re-expresses the reference's monitoring surface (SURVEY.md section 2.4)
as declarative DataFrame aggregations:

    A1/A2  consumer lag per partition + totals
           (TopicManagementService.java:325-353, :306-312)
    A3     lag rolled up by topic across groups (:536-551)
    A4     topic message count from offset ranges (:439-475)
    A5     event statistics record (model/EventStatistics.java:15-25)
    A6     tag-dimensioned counters (metrics/EventStreamingMetrics.java:53-157)
    A7     latency percentiles p50/p95/p99 (:88-99)
    A10    duplicate counting (BaseEventConsumer.java:79-84)
    A11    health thresholds (TopicManagementService.java:553-556)
    O4     top-k lagging (health/EventStreamingHealthIndicator.java:148-151)

Scale notes: every aggregation here is a map-side-combinable hash
aggregate (partial + final), so the shuffle carries only per-group
partial states, not rows. The lag join (A1) joins two tiny derived
dimension tables and is always broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Double-valued measures are summed as decimal(24,4): decimal addition is
# exact, so results are order-independent and identical across engines
# (a plain double sum varies in the last ulps with partition count).
_DEC = "decimal(24,4)"


def dsum(col: str) -> F.Column:
    """Order-insensitive, engine-portable sum of a 2-decimal double."""
    return F.sum(F.col(col).cast(_DEC)).cast("double")


def davg(col: str) -> F.Column:
    return (F.sum(F.col(col).cast(_DEC)).cast("double") / F.count(col)).cast("double")


def consumer_lag(consumer_offsets: DataFrame, end_offsets: DataFrame) -> DataFrame:
    """A1: lag = end_offset - committed_offset per (group, topic,
    partition) — the reference's lag map is keyed by TopicPartition
    (topic AND partition), never partition alone.

    Reference computes this with a per-entry map lookup
    (TopicManagementService.java:329-345); here it is a broadcast hash
    join on the (topic, partition) key.
    """
    return (
        consumer_offsets
        .join(F.broadcast(end_offsets), ["topic", "partition"], "inner")
        .withColumn("lag", (F.col("end_offset") - F.col("committed_offset")).cast("bigint"))
        .select("group_id", "topic", "partition", "committed_offset",
                "end_offset", "lag")
    )


def total_lag(lag_df: DataFrame) -> DataFrame:
    """A2: one total per group."""
    return lag_df.groupBy("group_id").agg(F.sum("lag").alias("total_lag"))


def topic_message_counts(events_coords: DataFrame) -> DataFrame:
    """A4: messages per topic = sum over partitions of (max-min+1) offsets.

    Two-level aggregation exactly like the reference's per-partition
    offset probe then sum (TopicManagementService.java:439-475); both
    levels are partial-aggregatable.
    """
    per_part = (
        events_coords.groupBy("topic", "partition")
        .agg((F.max("offset") - F.min("offset") + 1).alias("part_count"))
    )
    return (
        per_part.groupBy("topic")
        .agg(F.sum("part_count").cast("bigint").alias("message_count"))
    )


def event_statistics(events_coords: DataFrame) -> DataFrame:
    """A5: per-topic statistics record (EventStatistics.java:15-25).

    totalEvents / successfulEvents / failedEvents / avg processing /
    lastEventTime. 'error' events stand in for failures; `value` stands
    in for processing millis (FIXTURES.md section 1).
    """
    return (
        events_coords.groupBy("topic")
        .agg(
            F.count("*").alias("total_events"),
            F.sum(F.when(F.col("event_type") != "error", 1).otherwise(0))
             .cast("bigint").alias("successful_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
             .cast("bigint").alias("failed_events"),
            davg("value").alias("avg_processing_ms"),
            F.max("ts").alias("last_event_time"),
        )
    )


def events_by_type_and_user_bucket(events_coords: DataFrame) -> DataFrame:
    """A6: tag-dimensioned counters — counts keyed by multiple dimensions
    (EventStreamingMetrics.java:53-79). Dimensions here: event_type x tenant."""
    return (
        events_coords.groupBy("event_type", "tenant_id")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
    )


def latency_percentiles(events_coords: DataFrame,
                        approx: bool = False,
                        accuracy: int = 10_000) -> DataFrame:
    """A7: p50/p95/p99 of processing time per topic.

    Default is exact `percentile` (the reference's Micrometer timer
    publishes exact percentiles of a bounded window,
    EventStreamingMetrics.java:88-99) — full sort state per group, fine
    for bounded windows. `approx=True` is the 100 TB path: the same
    plan shape with `percentile_approx` (KLL-style sketch, O(accuracy)
    state per group, mergeable map-side) at a rank error of about
    1/accuracy. The oracle pins the exact variant; the approx variant
    is bound by the sandwich test in tests/test_operators.py.
    """
    fn = (f"percentile_approx(value, {{q}}, {accuracy})" if approx
          else "percentile(value, {q})")
    return (
        events_coords.groupBy("topic")
        .agg(
            F.round(F.expr(fn.format(q=0.5)), 4).alias("p50"),
            F.round(F.expr(fn.format(q=0.95)), 4).alias("p95"),
            F.round(F.expr(fn.format(q=0.99)), 4).alias("p99"),
        )
    )


def duplicate_counts(events_coords: DataFrame) -> DataFrame:
    """A10: duplicate-consumption counter: total minus distinct event_ids
    per topic (BaseEventConsumer.java:79-84 counts `events.consumed.duplicate`)."""
    return (
        events_coords.groupBy("topic")
        .agg(
            F.count("*").alias("consumed"),
            F.countDistinct("event_id").alias("distinct_events"),
            (F.count("*") - F.countDistinct("event_id")).alias("duplicates"),
        )
    )


def health_status(lag_df: DataFrame,
                  error_threshold: int = 100_000,
                  warn_threshold: int = 10_000) -> DataFrame:
    """A11: post-aggregation health classification
    (TopicManagementService.java:553-556; HealthIndicator.java:143-146)."""
    return (
        lag_df.groupBy("group_id")
        .agg(F.sum("lag").alias("total_lag"))
        .withColumn(
            "status",
            F.when(F.col("total_lag") > error_threshold, F.lit("UNHEALTHY"))
             .when(F.col("total_lag") > warn_threshold, F.lit("WARNING"))
             .otherwise(F.lit("HEALTHY")),
        )
    )


def lag_surface(lag_df: DataFrame) -> DataFrame:
    """A1+A2+A3 in one pass: ROLLUP(group, topic, partition) over the lag
    table — leaf rows are per-partition lag (A1), (group) rows are
    per-group totals (A2), intermediate/grand-total rows are the rollup
    the reference assembles with separate AdminClient loops
    (TopicManagementService.java:306-353, :536-551).

    One partial-aggregatable shuffle produces every level; NULL grouping
    slots are filled ('ALL' / -1) so the result is oracle-hashable.
    """
    return (
        lag_df.rollup("group_id", "topic", "partition")
        .agg(F.sum("lag").cast("bigint").alias("total_lag"))
        .select(
            F.coalesce("group_id", F.lit("ALL")).alias("group_id"),
            F.coalesce("topic", F.lit("ALL")).alias("topic"),
            F.coalesce(F.col("partition"), F.lit(-1)).alias("partition"),
            "total_lag",
        )
    )


def topic_dashboard(events_coords: DataFrame) -> DataFrame:
    """A5+A7+A10 in one grouped pass: the per-topic statistics record
    (EventStatistics.java:15-25) widened with latency percentiles
    (EventStreamingMetrics.java:88-99) and duplicate counters
    (BaseEventConsumer.java:79-84) — the reference's whole per-topic
    monitoring dashboard over one scan, instead of three queries
    re-reading the log.

    Mixing countDistinct with the other aggregates would Expand every
    input row (one copy per distinct/non-distinct group) AND carry the
    exact-percentile sort buffer through the widened shuffle — observed
    6x wall versus splitting. So: one pass for the row aggregates +
    percentiles, a two-level aggregate for the distinct counts (the
    (topic, event_id) level map-side combines before its shuffle), then
    a broadcast left join of the two per-topic results (#topics rows
    each). Like COUNT(DISTINCT), the distinct level skips NULL ids; a
    topic whose ids are all NULL has no distinct row and counts 0, and
    a NULL topic is one group, as in SQL's GROUP BY.
    """
    base = (
        events_coords.groupBy("topic")
        .agg(
            F.count("*").alias("total_events"),
            F.sum(F.when(F.col("event_type") != "error", 1).otherwise(0))
             .cast("bigint").alias("successful_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
             .cast("bigint").alias("failed_events"),
            davg("value").alias("avg_processing_ms"),
            F.max("ts").alias("last_event_time"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
    )
    distinct = (
        events_coords.where(F.col("event_id").isNotNull())
        .groupBy("topic", "event_id").agg(F.count("*").alias("__n"))
        .groupBy(F.col("topic").alias("__t"))
        .agg(F.count("*").alias("distinct_events"))
    )
    # null-safe: GROUP BY keeps a NULL topic as a group of its own
    return (base.join(F.broadcast(distinct),
                      F.col("topic").eqNullSafe(F.col("__t")), "left")
            .drop("__t")
            .withColumn("distinct_events",
                        F.coalesce("distinct_events", F.lit(0).cast("bigint")))
            .withColumn("duplicates",
                        F.col("total_events") - F.col("distinct_events")))


def top_lagging(lag_df: DataFrame, k: int = 3) -> DataFrame:
    """O4: top-k lagging partitions per group, deterministic tiebreak.

    Window row_number (not orderBy+limit) so the same operator works
    per-group and in streaming micro-batches.
    """
    w = Window.partitionBy("group_id").orderBy(
        F.col("lag").desc(), F.col("topic"), F.col("partition"))
    return (
        lag_df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("group_id", "topic", "partition", "lag", "rank")
    )


def merge_rollup(base_agg: DataFrame, delta_agg: DataFrame,
                 keys: list[str], sum_cols: list[str]) -> DataFrame:
    """Incremental-view-maintenance merge for distributive rollups:
    combine a stored aggregate with a delta aggregate at the same
    grain by summing the mergeable state — COUNT/SUM fold with no
    rescan of the base fact data, which is the whole point of IVM at
    100 TB (the base side is a small materialized rollup; only the
    delta touches raw rows). Lineage columns n_from_base /
    n_from_delta report how many grain cells each side contributed,
    so the merge itself is auditable.

    Works for any distributive aggregate (count/sum/min/max via the
    right fold column); averages ride as (sum, count) pairs and
    divide at read time."""
    b = base_agg.select(*keys, *sum_cols,
                        F.lit(1).alias("__from_base"),
                        F.lit(0).alias("__from_delta"))
    d = delta_agg.select(*keys, *sum_cols,
                         F.lit(0).alias("__from_base"),
                         F.lit(1).alias("__from_delta"))
    merged = b.unionByName(d).groupBy(*keys).agg(
        *[F.sum(c).cast("bigint").alias(c) for c in sum_cols],
        F.sum("__from_base").cast("bigint").alias("n_from_base"),
        F.sum("__from_delta").cast("bigint").alias("n_from_delta"))
    return merged
