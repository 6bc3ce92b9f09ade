"""Fixture loading and derived event-log coordinates.

The reference's primary abstraction is a Kafka topic: a partitioned,
per-partition-ordered log of keyed records (reference:
service/TopicManagementService.java:70-112, model/TopicConfig.java:18-23).
The driver fixtures carry the *payload* columns of an event
(event_id, ts, user_id, event_type, value, props); the log coordinates
(topic, partition, offset) and tenant routing metadata are *derived*
deterministically here so that both the Spark plans and the DuckDB
oracle SQL agree on them bit-for-bit.

Derivation rules (shared contract, see EVENTS_COORDS_SQL):
    topic      = 'nnipa.events.' || event_type        -- reference topic naming,
                                                      -- EventPublisher.java:168
    tenant_id  = 'tenant-' || (user_id % 10)          -- synthetic tenancy
    partition  = int(user_id % 6)                     -- 6 default partitions,
                                                      -- application.yml:136
    offset     = row_number() over (partition by topic, partition
                                    order by ts, event_id) - 1
                 -- offsets are per (topic, partition) — each topic is its
                 -- own log, exactly like Kafka
                 -- (TopicManagementService.java:329-345)

At 100 TB the same derivation holds: it is a narrow projection plus one
window; the window shuffles once on `partition` (the same key later
aggregations group on, so the exchange is reused by Catalyst).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Number of partitions per topic mirrors the reference default
# (application.yml:135-137, TopicManagementService.java:43-44).
NUM_PARTITIONS = 6
NUM_TENANTS = 10
TOPIC_PREFIX = "nnipa.events."


# Fixture columns stored as parquet TIMESTAMP(NANOS). Spark 4 cannot read
# nanos natively; with spark.sql.legacy.parquet.nanosAsLong they surface as
# epoch-nanos longs, which we floor to microsecond timestamps — exactly the
# truncation DuckDB applies when it casts TIMESTAMP_NS to its us-precision
# TIMESTAMP, so both engines see identical values.
_NANOS_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANOS_TS_COLUMNS.get(name, ()):
        field = df.schema[col]
        if field.dataType.typeName() == "long":
            # Keep the RAW nanos column: predicates on the converted
            # timestamp cannot push down to the parquet scan (the filter
            # sits on an expression, not a column), so time-range scans
            # like replay instead filter on the raw long — the conversion
            # is monotonic, giving exact integer-range equivalents that
            # reach the row-group min/max stats. See replay.nanos_range.
            df = df.withColumn(f"__{col}_nanos", F.col(col))
            # to_utc_timestamp(..., current_timezone()) pins the rendered
            # wall-clock to the stored naive value for ANY session timezone,
            # matching DuckDB's naive read of the same file.
            df = df.withColumn(
                col,
                F.to_utc_timestamp(F.expr(f"timestamp_micros({col} DIV 1000)"),
                                   F.expr("current_timezone()")))
    return df


def with_coordinates(events: DataFrame) -> DataFrame:
    """Attach derived log coordinates + tenancy to the events table.

    Spark-side twin of EVENTS_COORDS_SQL below; keep both in sync.
    """
    part = (F.col("user_id") % NUM_PARTITIONS).cast("int")
    w = Window.partitionBy("topic", "partition").orderBy("ts", "event_id")
    return (
        events
        .withColumn("topic", F.concat(F.lit(TOPIC_PREFIX), F.col("event_type")))
        .withColumn("tenant_id",
                    F.concat(F.lit("tenant-"),
                             (F.col("user_id") % NUM_TENANTS).cast("string")))
        .withColumn("partition", part)
        .withColumn("offset", (F.row_number().over(w) - F.lit(1)).cast("bigint"))
    )


# DuckDB twin of with_coordinates(); every oracle that needs coordinates
# starts from this CTE. row_number ties are broken by event_id, which is
# unique, so the assignment is total-order deterministic in both engines.
# "partition"/"offset" are reserved words in DuckDB — always double-quoted.
EVENTS_COORDS_SQL = """
events_coords AS (
    SELECT
        event_id, ts, user_id, event_type, value, props,
        'nnipa.events.' || event_type                      AS topic,
        'tenant-' || CAST(user_id % 10 AS VARCHAR)         AS tenant_id,
        CAST(user_id % 6 AS INTEGER)                       AS "partition",
        CAST(ROW_NUMBER() OVER (PARTITION BY 'nnipa.events.' || event_type,
                                             CAST(user_id % 6 AS INTEGER)
                                ORDER BY ts, event_id) - 1 AS BIGINT) AS "offset"
    FROM events
)
"""


# Consumer-group committed offsets are state the reference keeps in Kafka
# (TopicManagementService.java:325-353 reads them via AdminClient). We derive
# an equivalent deterministic table: each group has consumed every event
# strictly before its cutoff timestamp, so its committed offset per
# (topic, partition) is the count of such events in that log — the same
# two-key TopicPartition the reference's lag map is keyed by.
CONSUMER_GROUP_CUTOFFS = {
    "nnipa-analytics": "2024-01-08 00:00:00",
    "nnipa-audit": "2024-01-04 00:00:00",
}


def consumer_offsets(events_coords: DataFrame) -> DataFrame:
    """Committed offset per (group, topic, partition): #events with
    ts < cutoff in that (topic, partition) log.

    ONE aggregation pass: every group's committed offset is a
    conditional count in the same groupBy, then the per-group counts
    stack into rows via an inline explode. A per-group union would scan
    and shuffle the log once per consumer group. Note no `offset`
    column is touched: the count-below-cutoff IS the committed offset
    because offsets are dense — so lag plans skip the row_number window
    entirely (Catalyst prunes it) and reduce to one hash aggregate
    over the scan.
    """
    aggs = [
        F.sum(F.when(F.col("ts") < F.lit(cutoff).cast("timestamp"), 1)
              .otherwise(0)).cast("bigint").alias(f"__g{i}")
        for i, cutoff in enumerate(CONSUMER_GROUP_CUTOFFS.values())
    ]
    per_part = events_coords.groupBy("topic", "partition").agg(*aggs)
    stacked = F.explode(F.array(*[
        F.struct(F.lit(group).alias("group_id"),
                 F.col(f"__g{i}").alias("committed_offset"))
        for i, group in enumerate(CONSUMER_GROUP_CUTOFFS)
    ])).alias("__e")
    return (per_part.select("topic", "partition", stacked)
            .select(F.col("__e.group_id").alias("group_id"),
                    "topic", "partition",
                    F.col("__e.committed_offset").alias("committed_offset")))


def _consumer_offsets_sql_one(group: str, cutoff: str) -> str:
    return f"""
    SELECT '{group}' AS group_id, topic, "partition",
           CAST(SUM(CASE WHEN ts < TIMESTAMP '{cutoff}' THEN 1 ELSE 0 END) AS BIGINT)
               AS committed_offset
    FROM events_coords GROUP BY topic, "partition"
    """


CONSUMER_OFFSETS_SQL = "consumer_offsets AS (" + " UNION ALL ".join(
    _consumer_offsets_sql_one(g, c) for g, c in CONSUMER_GROUP_CUTOFFS.items()
) + ")"


def end_offsets(events_coords: DataFrame) -> DataFrame:
    """Log-end offset per (topic, partition), reference S7
    (EventReplayService.java:212-227 beginningOffsets/endOffsets).

    Computed as count(*) — identical to max(offset)+1 because offsets
    are dense row_numbers — so consumers that only need log ends (every
    lag query) never evaluate the window; the plan is a plain hash
    aggregate on the scan.
    """
    return (
        events_coords.groupBy("topic", "partition")
        .agg(F.count("*").cast("bigint").alias("end_offset"))
    )


END_OFFSETS_SQL = """
end_offsets AS (
    SELECT topic, "partition", CAST(MAX("offset") + 1 AS BIGINT) AS end_offset
    FROM events_coords GROUP BY topic, "partition"
)
"""
