"""Time-series resampling: time_bucket rollup with gap-filling and
last-observation-carried-forward — the TimescaleDB
``time_bucket_gapfill`` + ``locf()`` semantics (named in the build
brief's custom-operator examples alongside as-of and range joins),
composed from DataFrame primitives.

Scale shape, stage by stage:

1. bucket assignment — in-row epoch arithmetic, no shuffle;
2. per-(key, bucket) aggregation — ONE hash exchange with map-side
   partial combine (the only corpus-sized shuffle);
3. grid synthesis — per key, ``sequence(min_bucket, max_bucket)``
   exploded from a per-key 2-value aggregate: the dense grid is
   derived data, never scanned storage, and its size is bounded by a
   ``max_buckets`` guard (a key spanning years at 1-second buckets is
   a configuration bug, refused loudly like intervals.py's bin guard);
4. gap join — grid LEFT JOIN aggregates on (key, bucket): both sides
   are already bucket-grained (dimension-sized per key), and AQE
   broadcasts the smaller;
5. LOCF — ``last(value, ignorenulls)`` over (key, bucket-order)
   running frame: one window exchange on the key, state = one value.

Gap rows carry NULL for every aggregate; ``locf_cols`` then fill with
the last SEEN value (the measurement persists until re-measured),
while count-like columns are typically projected with
``coalesce(n, 0)`` by the caller (a gap has zero events — that's a
fact, not a missing observation) — the Timescale distinction between
``coalesce(count, 0)`` and ``locf(last(...))``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def time_bucket_gapfill(
    events: DataFrame,
    ts_col: str,
    key_cols: list[str],
    bucket_seconds: int,
    aggs: dict[str, Column],
    locf_cols: list[str] | None = None,
    max_buckets: int = 100_000,
) -> DataFrame:
    """Dense per-key time grid with aggregates, zeros-for-counts gaps
    filled by NULL→LOCF for ``locf_cols``. ``aggs`` maps output column
    name → aggregate expression (over the raw events of one bucket).
    Grid spans each key's own [min bucket, max bucket] — the Timescale
    gapfill contract. Output: key_cols + bucket_start + one column per
    agg (locf_cols carried forward, others NULL in gap rows)."""
    if bucket_seconds < 1:
        raise ValueError("bucket_seconds must be >= 1")
    if not aggs:
        raise ValueError("aggs must not be empty")
    locf_cols = locf_cols or []
    unknown = set(locf_cols) - set(aggs)
    if unknown:
        raise ValueError(f"locf_cols not in aggs: {sorted(unknown)}")

    bucket = F.floor(
        F.unix_timestamp(F.col(ts_col)) / F.lit(bucket_seconds)
    ).cast("long")
    # a NULL timestamp has no bucket: excluded up front, else a key
    # with only-null timestamps reaches the span guard as a NULL bucket
    # count and assert_true misreports it as a span violation
    events = events.filter(F.col(ts_col).isNotNull())
    per_bucket = (
        events.withColumn("__bucket", bucket)
        .groupBy(*key_cols, "__bucket")
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
    )

    span = events.withColumn("__bucket", bucket).groupBy(*key_cols).agg(
        F.min("__bucket").alias("__lo"), F.max("__bucket").alias("__hi")
    )
    n_buckets = F.col("__hi") - F.col("__lo") + 1
    guard = F.assert_true(
        n_buckets <= F.lit(max_buckets),
        F.concat(
            F.lit(
                f"time_bucket_gapfill: a key spans more than {max_buckets} "
                f"buckets at bucket_seconds={bucket_seconds} — widen the "
                f"bucket or raise max_buckets ("
            ),
            n_buckets.cast("string"),
            F.lit(" buckets)"),
        ),
    )
    grid = (
        span.filter(guard.isNull())
        .withColumn(
            "__bucket", F.explode(F.sequence(F.col("__lo"), F.col("__hi")))
        )
        .drop("__lo", "__hi")
    )

    joined = grid.join(per_bucket, [*key_cols, "__bucket"], "left")
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out_cols: list[Column] = [
        F.timestamp_seconds(
            (F.col("__bucket") * bucket_seconds).cast("long")
        ).alias("bucket_start")
    ]
    for name in aggs:
        if name in locf_cols:
            out_cols.append(F.last(name, ignorenulls=True).over(w).alias(name))
        else:
            out_cols.append(F.col(name))
    return joined.select(*key_cols, *out_cols)


def sessionize(
    events: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap_seconds: int,
) -> DataFrame:
    """Assign batch session ids: a new session starts whenever the gap
    to the previous event OF THE SAME KEY exceeds ``gap_seconds``.

    The batch sibling of streaming/events.session_window_stats (Spark's
    ``session_window`` handles the stream side; batch backfill over
    historical data needs the classic lag/flag/cumsum program):

    1. ``lag(ts)`` over (key, ts-order) — one window exchange on key;
    2. new-session flag = gap NULL (first event) or > gap_seconds;
    3. ``session_idx`` = running SUM of flags over the same window —
       Spark reuses the single sort/exchange for both window functions
       (one Window physical node, state = one counter).

    Output: input columns + ``session_idx`` (1-based per key). Window
    state is O(1) per row; the only shuffle is the per-key exchange,
    which every downstream per-session rollup reuses. Per-key event
    counts at 100 TB are user-activity-bounded (not corpus-bounded);
    a pathological single-key firehose is a key_skew_report-visible
    problem, not a planner cliff.

    Gaps are measured on WHOLE-SECOND boundaries: ``unix_timestamp``
    floors to seconds, so events 1800.9s apart under gap_seconds=1800
    share a session (floor(t2) - floor(t1) may be <= gap even when the
    real delta exceeds it). That is the classic epoch-seconds
    sessionization contract (and what the DuckDB ``epoch()`` oracle
    computes); callers needing sub-second gap sensitivity should pass a
    pre-computed microsecond column as ``ts_col`` and scale
    ``gap_seconds`` to micros.

    Equal timestamps within a key are one session by construction
    (gap 0 <= gap_seconds) so session ids are deterministic even though
    the tie ORDER is not; callers needing a stable total order for
    other window uses should pass a composite ts (e.g. a struct of
    (ts, event_id)) — session assignment itself does not require it.
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    gap = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(
        F.lag(ts_col).over(w)
    )
    new_sess = F.when(
        gap.isNull() | (gap > gap_seconds), F.lit(1)
    ).otherwise(F.lit(0))
    return events.withColumn("session_idx", F.sum(new_sess).over(w))


def session_rollup(
    events: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap_seconds: int,
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Per-session summary on top of :func:`sessionize`: key_cols +
    session_idx + session_start/session_end/n_events/duration_seconds
    (+ caller aggs). The groupBy hash-partitions on (key, session_idx),
    a superset of the window's key partitioning — AQE sees the narrow
    dependency and the rollup rides the existing exchange."""
    s = sessionize(events, ts_col, key_cols, gap_seconds)
    extra = aggs or {}
    return s.groupBy(*key_cols, "session_idx").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))
        ).alias("duration_seconds"),
        *[c.alias(n) for n, c in extra.items()],
    )
