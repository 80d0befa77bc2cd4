"""Event-time windowed operators over the ``events`` stream table —
post-parity surface the reference lacks entirely (SURVEY.md §2.12: "no
watermarks, no event-time windows" → exposed here via Structured
Streaming built-ins, usable identically on batch DataFrames).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F


def hourly_event_counts(
    events: DataFrame,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling 1-hour event-time aggregation with late-data tolerance.
    Works on a stream (stateful, watermark-bounded) and on a batch frame
    (watermark is a no-op). Output: window_start, event_type, n_events,
    sum_value."""
    df = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        df.groupBy(F.window(F.col(ts_col), "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Batch gap-based sessionization: a session breaks when the gap to
    the previous event of the same user exceeds ``gap_minutes``.

    Classic lag + cumulative-sum window pair; deterministic ordering by
    (ts, event_id). Output: user_id, session_id (1-based per user),
    n_events, session_start, session_end.
    """
    order = [F.col(ts_col), F.col("event_id")]
    w = Window.partitionBy(user_col).orderBy(*order)
    gap = F.lag(F.col(ts_col)).over(w)
    is_new = F.when(
        gap.isNull()
        | (F.col(ts_col).cast("long") - gap.cast("long") > gap_minutes * 60),
        1,
    ).otherwise(0)
    run = Window.partitionBy(user_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        events.withColumn("_new", is_new)
        .withColumn("session_id", F.sum("_new").over(run))
        .groupBy(user_col, "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
    )
