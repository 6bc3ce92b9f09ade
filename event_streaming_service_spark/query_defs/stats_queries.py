"""Monitoring/statistics queries (SURVEY.md section 2.4, 2.7 O4, A11).

Every query reads the `events` fixture, derives log coordinates with
sources.tables.with_coordinates, and aggregates with operators.stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_streaming_service_spark.functions.money import cents
from event_streaming_service_spark.operators import stats
from event_streaming_service_spark.queries import register
from event_streaming_service_spark.sources import tables

_BASE = ("WITH " + tables.EVENTS_COORDS_SQL + ", "
         + tables.CONSUMER_OFFSETS_SQL + ", " + tables.END_OFFSETS_SQL)

_LAG_SQL_BODY = """
lag_table AS (
    SELECT co.group_id, co.topic, co."partition", co.committed_offset,
           eo.end_offset,
           CAST(eo.end_offset - co.committed_offset AS BIGINT) AS lag
    FROM consumer_offsets co JOIN end_offsets eo USING (topic, "partition")
)
"""


def _coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.with_coordinates(tables.load_table(spark, sf_dir, "events"))


def _lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ec = _coords(spark, sf_dir)
    return stats.consumer_lag(tables.consumer_offsets(ec), tables.end_offsets(ec))


@register(
    "lag_per_partition",
    oracle=_BASE + ", " + _LAG_SQL_BODY + " SELECT * FROM lag_table",
    tags=("A1", "J1"),
)
def q_lag_per_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/J1: committed-offsets x end-offsets equi-join, lag column
    (TopicManagementService.java:325-353)."""
    return _lag(spark, sf_dir)


@register(
    "lag_total_by_group",
    oracle=_BASE + ", " + _LAG_SQL_BODY +
    " SELECT group_id, CAST(SUM(lag) AS BIGINT) AS total_lag"
    " FROM lag_table GROUP BY group_id",
    tags=("A2", "A3"),
)
def q_lag_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3: total lag per consumer group (TopicManagementService.java:306-312)."""
    return stats.total_lag(_lag(spark, sf_dir))


@register(
    "topic_message_count",
    oracle=_BASE + """
    SELECT topic, CAST(SUM(part_count) AS BIGINT) AS message_count
    FROM (
        SELECT topic, "partition", MAX("offset") - MIN("offset") + 1 AS part_count
        FROM events_coords GROUP BY topic, "partition"
    ) GROUP BY topic
    """,
    tags=("A4", "S7"),
)
def q_topic_message_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-topic message count from per-partition offset ranges
    (TopicManagementService.java:439-475)."""
    return stats.topic_message_counts(_coords(spark, sf_dir))


@register(
    "topic_statistics",
    oracle=_BASE + """
    SELECT topic,
           COUNT(*) AS total_events,
           CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS successful_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS failed_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(24,4))) AS DOUBLE) / COUNT(value)
               AS DOUBLE) AS avg_processing_ms,
           MAX(ts) AS last_event_time
    FROM events_coords GROUP BY topic
    """,
    tags=("A5",),
)
def q_topic_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: the EventStatistics record per topic (EventStatistics.java:15-25)."""
    return stats.event_statistics(_coords(spark, sf_dir))


@register(
    "events_by_type_tenant",
    oracle=_BASE + """
    SELECT event_type, tenant_id, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(24,4))) AS DOUBLE) AS sum_value
    FROM events_coords GROUP BY event_type, tenant_id
    """,
    tags=("A6",),
)
def q_events_by_type_tenant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: tag-dimensioned counters (EventStreamingMetrics.java:53-79)."""
    return stats.events_by_type_and_user_bucket(_coords(spark, sf_dir))


@register(
    "latency_percentiles",
    oracle=_BASE + """
    SELECT topic,
           ROUND(quantile_cont(value, 0.5), 4)  AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95,
           ROUND(quantile_cont(value, 0.99), 4) AS p99
    FROM events_coords GROUP BY topic
    """,
    tags=("A7",),
)
def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: p50/p95/p99 per topic (EventStreamingMetrics.java:88-99)."""
    return stats.latency_percentiles(_coords(spark, sf_dir))


@register(
    "duplicate_counts",
    oracle=_BASE + """
    SELECT topic, COUNT(*) AS consumed,
           COUNT(DISTINCT event_id) AS distinct_events,
           COUNT(*) - COUNT(DISTINCT event_id) AS duplicates
    FROM events_coords GROUP BY topic
    """,
    tags=("A10", "D1"),
)
def q_duplicate_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: duplicate-consumption counting (BaseEventConsumer.java:79-84)."""
    return stats.duplicate_counts(_coords(spark, sf_dir))


@register(
    "health_status",
    oracle=_BASE + ", " + _LAG_SQL_BODY + """
    SELECT group_id, CAST(SUM(lag) AS BIGINT) AS total_lag,
           CASE WHEN SUM(lag) > 5000 THEN 'UNHEALTHY'
                WHEN SUM(lag) > 1000 THEN 'WARNING'
                ELSE 'HEALTHY' END AS status
    FROM lag_table GROUP BY group_id
    """,
    tags=("A11",),
)
def q_health_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: lag-threshold health classification, thresholds scaled to the
    fixture (reference values 100000/10000, TopicManagementService.java:553-556)."""
    return stats.health_status(_lag(spark, sf_dir),
                               error_threshold=5000, warn_threshold=1000)


@register(
    "lag_surface",
    oracle=_BASE + ", " + _LAG_SQL_BODY + """
    SELECT COALESCE(group_id, 'ALL') AS group_id,
           COALESCE(topic, 'ALL') AS topic,
           COALESCE("partition", -1) AS "partition",
           CAST(SUM(lag) AS BIGINT) AS total_lag
    FROM lag_table
    GROUP BY ROLLUP(group_id, topic, "partition")
    """,
    tags=("A1", "A2", "A3", "J1"),
)
def q_lag_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A3/J1: every lag grain — per (group, topic, partition), per
    (group, topic), per group, grand total — from ONE rollup aggregate
    over the offsets join (TopicManagementService.java:306-353, :536-551)."""
    return stats.lag_surface(_lag(spark, sf_dir))


# the dashboard's aggregate over events_coords, also run by its
# NULL-id test against a hand-built events_coords
TOPIC_DASHBOARD_SQL = """
    SELECT topic,
           COUNT(*) AS total_events,
           CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS successful_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS failed_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(24,4))) AS DOUBLE) / COUNT(value)
               AS DOUBLE) AS avg_processing_ms,
           MAX(ts) AS last_event_time,
           ROUND(quantile_cont(value, 0.5), 4)  AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95,
           ROUND(quantile_cont(value, 0.99), 4) AS p99,
           COUNT(DISTINCT event_id) AS distinct_events,
           COUNT(*) - COUNT(DISTINCT event_id) AS duplicates
    FROM events_coords GROUP BY topic
    """


@register(
    "topic_dashboard",
    oracle=_BASE + TOPIC_DASHBOARD_SQL,
    tags=("A4", "A5", "A7", "A10"),
)
def q_topic_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A7/A10: the per-topic monitoring dashboard — statistics record,
    latency percentiles, duplicate counters — one scan, one hash agg."""
    return stats.topic_dashboard(_coords(spark, sf_dir))


@register(
    "top_lagging",
    oracle=_BASE + ", " + _LAG_SQL_BODY + """
    SELECT group_id, topic, "partition", lag, rank FROM (
        SELECT group_id, topic, "partition", lag,
               CAST(ROW_NUMBER() OVER (PARTITION BY group_id
                                       ORDER BY lag DESC, topic, "partition")
                    AS INTEGER) AS rank
        FROM lag_table
    ) WHERE rank <= 3
    """,
    tags=("O4",),
)
def q_top_lagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: top-3 lagging partitions per group
    (EventStreamingHealthIndicator.java:148-151)."""
    return stats.top_lagging(_lag(spark, sf_dir), k=3)


@register(
    "nation_revenue_share_of_region",
    oracle="""
    WITH rev AS (
        SELECT r.r_name, n.n_name,
               SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                   AS nation_cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY r.r_name, n.n_name)
    SELECT r_name, n_name,
           CAST(nation_cents AS BIGINT) AS nation_cents,
           CAST(SUM(nation_cents) OVER (PARTITION BY r_name)
                AS BIGINT) AS region_cents,
           ROUND(CAST(nation_cents AS DOUBLE)
                 / CAST(SUM(nation_cents) OVER (PARTITION BY r_name)
                        AS DOUBLE), 6) AS share_of_region
    FROM rev
    """,
    tags=("A3", "A6", "percent-of-parent", "tpch"),
)
def q_nation_revenue_share(spark, sf_dir):
    """Percent-of-parent hierarchy report: each nation's exact
    integer-cents revenue and its share of the region total — the BI
    contribution shape, computed as one broadcast-dimension join tree,
    one hash aggregate, and a window over the 25 grouped rows (the
    share never re-reads the facts)."""
    from pyspark.sql import Window

    t = {n: tables.load_table(spark, sf_dir, n)
         for n in ("orders", "customer", "nation", "region")}
    from event_streaming_service_spark.functions import money

    rev = (t["orders"]
           .join(F.broadcast(t["customer"]),
                 t["orders"].o_custkey == t["customer"].c_custkey)
           .join(F.broadcast(t["nation"]),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(t["region"]),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .groupBy("r_name", "n_name")
           .agg(F.sum(money.cents("o_totalprice"))
                .alias("nation_cents")))
    w = Window.partitionBy("r_name")
    return rev.select(
        "r_name", "n_name", "nation_cents",
        F.sum("nation_cents").over(w).alias("region_cents"),
        F.round(F.col("nation_cents").cast("double")
                / F.sum("nation_cents").over(w).cast("double"), 6)
        .alias("share_of_region"))


@register(
    "incremental_rollup_events",
    oracle="""
    WITH base AS (
        SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP)
                   AS event_date,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS value_cents
        FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-25'
        GROUP BY 1, 2),
    delta AS (
        SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP)
                   AS event_date,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS value_cents
        FROM events WHERE CAST(ts AS DATE) > DATE '2024-01-25'
        GROUP BY 1, 2),
    u AS (
        SELECT *, 1 AS fb, 0 AS fd FROM base
        UNION ALL SELECT *, 0, 1 FROM delta)
    SELECT event_type, event_date,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(value_cents) AS BIGINT) AS value_cents,
           CAST(SUM(fb) AS BIGINT) AS n_from_base,
           CAST(SUM(fd) AS BIGINT) AS n_from_delta
    FROM u GROUP BY event_type, event_date
    """,
    tags=("stats", "rollup", "ivm", "A5", "W1"),
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view-maintenance merge: the (event_type, day)
    rollup maintained as stored-base + delta aggregates folded
    WITHOUT rescanning base facts; lineage counts audit which side
    fed each cell (operators/stats.py:merge_rollup)."""
    ev = tables.load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    cut = F.lit("2024-01-25").cast("date")

    def rollup(df):
        return (df.groupBy("event_type",
                           day.cast("timestamp").alias("event_date"))
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum(cents("value")).alias("value_cents")))

    base = rollup(ev.filter(day <= cut))
    delta = rollup(ev.filter(day > cut))
    return stats.merge_rollup(base, delta,
                              ["event_type", "event_date"],
                              ["n_events", "value_cents"])
