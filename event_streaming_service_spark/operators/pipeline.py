"""Consume-path semantics: validate -> dedup -> process / DLQ / retry.

Batch restatement of the reference's per-record consumer pipeline
(service/BaseEventConsumer.java:53-105; SURVEY.md sections 2.2, 2.5, 3.2):

    P3  validation predicate (:136-163): null event / missing event_id
        -> reject; age > 7 days -> stale warn
    D1  idempotency dedup (:77-84, 175-183): first occurrence wins
    S3  DLQ sink (EventPublisher.java:163-201): invalid/failed rows get
        error columns and a `nnipa.dlq.<suffix>` target topic
    W5  retry with exponential backoff, max 3 then DLQ (:209-234, 267-276)

All of it is column logic — filters, windows, projections — so one
pass over the input produces every branch; Spark computes the branches
from a shared scan. Streaming twins live in streaming/pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MAX_AGE_DAYS = 7          # BaseEventConsumer.java:150-159
MAX_RETRIES = 3           # BaseEventConsumer.java:214 (application.yml:164-168)
BASE_BACKOFF_MS = 1000    # BaseEventConsumer.java:267-276
MAX_BACKOFF_MS = 60000
DLQ_PREFIX = "nnipa.dlq."  # EventPublisher.java:168
TOPIC_PREFIX = "nnipa.events."
STACKTRACE_LIMIT = 1000   # EventPublisher.java:177-180


def rejection_reason(event_key: Column, ts: Column, now: Column) -> Column:
    """Why a row failed validation, mirroring the reference's log branches."""
    return (
        F.when(event_key.isNull() | (event_key == ""),
               F.lit("missing_event_id"))
        .when(ts < now - F.expr(f"INTERVAL {MAX_AGE_DAYS} DAYS"),
              F.lit("stale_event"))
        .otherwise(F.lit(None).cast("string"))
    )


def split_valid_invalid(df: DataFrame, event_key_col: str, ts_col: str,
                        now: Column) -> tuple[DataFrame, DataFrame]:
    """One scan, two branches: the consume path's ack vs DLQ fork."""
    key, ts = F.col(event_key_col), F.col(ts_col)
    reason = rejection_reason(key, ts, now)
    tagged = df.withColumn("reject_reason", reason)
    valid = tagged.filter(F.col("reject_reason").isNull()).drop("reject_reason")
    invalid = tagged.filter(F.col("reject_reason").isNotNull())
    return valid, invalid


def to_dlq(invalid: DataFrame, topic_col: str = "topic",
           error_col: str = "reject_reason") -> DataFrame:
    """S3: decorate the failure branch with DLQ topic + error context
    headers (EventPublisher.java:163-201). Stacktrace is truncated to
    1000 chars like the reference (:177-180)."""
    return (
        invalid
        .withColumn(
            "dlq_topic",
            F.concat(F.lit(DLQ_PREFIX),
                     F.replace(F.col(topic_col), F.lit(TOPIC_PREFIX), F.lit(""))))
        .withColumn("error_message", F.col(error_col))
        .withColumn("error_class", F.lit("ValidationException"))
        .withColumn("error_stacktrace",
                    F.substring(F.concat(F.lit("ValidationException: "),
                                         F.col(error_col)), 1, STACKTRACE_LIMIT))
    )


def dedup_earliest(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """D1: keep the first occurrence per key, deterministically.

    The reference's Redis EXISTS check admits whichever copy arrives
    first (BaseEventConsumer.java:175-183); in a batch engine "first"
    is defined by `order_cols` (ts + a unique tiebreaker), expressed as
    a window row_number so the winner is total-order deterministic —
    unlike bare dropDuplicates, whose survivor depends on scheduling.

    Scale: one shuffle on key_cols; with AQE skew-join/ salting hot keys
    stay bounded. Streaming twin: dropDuplicatesWithinWatermark.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def backoff_ms(retry_count: Column) -> Column:
    """W5: exponential backoff, deterministic part:
    min(1000 * 2^(n-1), 60000) (BaseEventConsumer.java:267-276).
    The reference adds +rand*10% jitter; jitter stays out of the oracle
    path and is applied by streaming/pipeline.py at send time."""
    return F.least(
        F.pow(F.lit(2.0), retry_count.cast("double") - 1) * BASE_BACKOFF_MS,
        F.lit(float(MAX_BACKOFF_MS)),
    )


def retry_route(topic: Column, retry_count: Column) -> Column:
    """W5/W6: next hop for a failed record — `<topic>.retry.<n+1>` below
    the max, else the DLQ topic (BaseEventConsumer.java:209-245)."""
    return (
        F.when(retry_count >= MAX_RETRIES,
               F.concat(F.lit(DLQ_PREFIX),
                        F.replace(topic, F.lit(TOPIC_PREFIX), F.lit(""))))
        .otherwise(F.concat(topic, F.lit(".retry."),
                            (retry_count + 1).cast("string")))
    )
