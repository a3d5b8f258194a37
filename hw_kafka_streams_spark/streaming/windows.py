"""Event-time windowing and watermarks.

The reference has NO event-time semantics (SURVEY.md §1.3) — these are
engine extensions on the north-star surface, built entirely on
Structured Streaming built-ins: ``withWatermark`` + ``F.window`` /
``F.session_window``. All are
source-agnostic (batch DataFrames run the same plan, minus state).

State sizing at scale: each open window holds one aggregate row per
(key, window) in the state store; the watermark bounds state growth —
windows older than (max event time − delay) are finalized and evicted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation per key."""
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    out = src.groupBy(F.window(ts_col, window).alias("win"), F.col(key_col)).agg(*aggs)
    agg_cols = [c for c in out.columns if c not in ("win", key_col)]
    return out.select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        key_col,
        *agg_cols,
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked sliding-window count per key (overlapping windows)."""
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    return (
        src.groupBy(F.window(ts_col, window, slide).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key_col,
            "n_events",
        )
    )


def session_windows(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows: events within ``gap`` of each other merge.

    Built on ``F.session_window`` (dynamic merging windows; state holds
    one open session per key, closed by the watermark).
    """
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )
