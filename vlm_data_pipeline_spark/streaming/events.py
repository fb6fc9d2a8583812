"""Structured Streaming over the events table — a clearly-labeled EXTENSION.

The reference pipeline is strictly batch (SURVEY §2.12: no watermarks,
windows, or state anywhere); its closest analogues are Objectron's per-frame
microsecond timestamps and ordered per-scene sequences. These operators show
how the same engine ingests a continuous feed of those records.

Design rule: every transformation here is written against a plain DataFrame
so the SAME function runs in batch and streaming — the batch run is the
oracle for the streaming run (tests/test_streaming.py asserts equality via
an availableNow trigger + memory sink). Watermarks bound state; session
windows use the native ``session_window`` operator; the custom stateful
operator uses ``transformWithStateInPandas``-style applyInPandasWithState.

At scale: file-source streaming shards by file; the windowed aggregations
shuffle on (window, key) with partial aggregation, and the watermark caps
state size — late data beyond it is dropped deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "stream_events",
    "tumbling_event_stats",
    "sliding_event_stats",
    "session_window_stats",
    "dedupe_events",
    "running_user_totals",
]

# ts arrives as TIMESTAMP(NANOS) in some drops (read as long under
# nanosAsLong, session.py) and TIMESTAMP(MICROS) in others — the unit is a
# property of the FILE, so probe the footer instead of assuming (an
# unconditional div-1000 silently collapsed a micros month into 43
# minutes of 1970 before windowing).


def _events_schema(ts_nanos: bool) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(
                "ts", T.LongType() if ts_nanos else T.TimestampType()
            ),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _ts_is_nanos(spark: SparkSession, path: str) -> bool:
    """True when the parquet file stores ts as TIMESTAMP(NANOS) (surfaced
    as bigint under nanosAsLong). One driver-side footer read."""
    return dict(spark.read.parquet(path).dtypes).get("ts") == "bigint"


def _normalize(df: DataFrame, ts_nanos: bool) -> DataFrame:
    if not ts_nanos:
        return df
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of the events table.

    The driver's testdata is one parquet file; a production feed would be a
    growing directory (or Kafka — swap the reader, the transformations are
    source-agnostic). ``maxFilesPerTrigger`` bounds per-microbatch work.
    SURVEY §2.12, "optional Structured Streaming demonstration".
    """
    nanos = _ts_is_nanos(spark, f"{sf_dir}/events.parquet")
    reader = (
        spark.readStream.schema(_events_schema(nanos))
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _normalize(reader.parquet(sf_dir), nanos)


def batch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same records via the batch reader: the test reference that the
    streaming operators' results are compared against."""
    path = f"{sf_dir}/events.parquet"
    nanos = _ts_is_nanos(spark, path)
    return _normalize(spark.read.schema(_events_schema(nanos)).parquet(path), nanos)


def tumbling_event_stats(
    events: DataFrame,
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling event-time window: count / distinct users / value sum per
    (window, event_type). Works identically on batch and streaming input;
    the watermark only matters for streaming state eviction.

    count(DISTINCT) is not allowed in streaming aggregations —
    approx_count_distinct is the scalable substitute (exact distinct would
    need unbounded per-window state).
    SURVEY §2.12, "optional Structured Streaming demonstration".
    """
    df = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        df.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "approx_users",
            "value_sum",
        )
    )


def sliding_event_stats(
    events: DataFrame,
    window: str = "6 hours",
    slide: str = "3 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding (overlapping) event-time windows over the error rate.
    SURVEY §2.12, "optional Structured Streaming demonstration"."""
    df = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        df.groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "n_errors"
            ),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "n_events",
            "n_errors",
        )
    )


def session_window_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap — the native
    streaming counterpart of the batch ``sessionize_events`` query
    (plans/star_queries.py), which derives sessions with lag/sum windows.
    ``session_window`` keeps the same gap semantics with managed state.
    SURVEY §2.12, "optional Structured Streaming demonstration".
    """
    df = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def dedupe_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedupe on event_id.

    Batch: dropDuplicates. Streaming: dropDuplicatesWithinWatermark so the
    dedupe state is bounded by the watermark horizon instead of growing
    forever — the streaming face of the K7/dedup operators.
    SURVEY §2.12, "optional Structured Streaming demonstration".
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


_RUNNING_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)
RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_total", T.DoubleType()),
    ]
)


def running_user_totals(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator: per-user running (count, value-sum) via
    applyInPandasWithState — the pattern a custom sketch/session operator
    would use when built-ins can't express it. Batch fallback: a plain
    groupBy aggregate (identical final answer for a finite input).
    SURVEY §2.12, "optional Structured Streaming demonstration".
    """
    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("value_total"),
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_total": [total]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_RUNNING_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
