"""Event-time windowed aggregations, written once for batch AND
Structured Streaming.

Each builder takes a DataFrame that may be a static frame (testdata
events.parquet) or a ``readStream`` frame — the transformations are
identical; only the sink differs (batch: collect/write; streaming:
``writeStream`` with a mode). ``tests/test_streaming.py`` runs the same
builders through a real file-source ``readStream`` → memory sink and
asserts batch/stream agreement, which is the Structured Streaming
correctness contract (incrementalized query ≡ batch query on the same
data).

Scale notes: event-time windows aggregate with map-side partials keyed
by (window, group); the watermark bounds state so long-running streams
don't grow without bound (late rows beyond the watermark are dropped —
the late-data policy the reference never had)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import exact as ex


def with_watermark(df: DataFrame) -> DataFrame:
    """Attach a 15-minute event-time watermark on ``ts`` when streaming;
    no-op on batch frames (watermarks only affect stateful incremental
    execution)."""
    if df.isStreaming:
        return df.withWatermark("ts", "15 minutes")
    return df


def _window_totals(df: DataFrame, w, keys: list[str], start_as: str) -> DataFrame:
    """Per (window ``w``, ``keys``) event count + exact decimal ``value``
    sum, the window start output as a string ``start_as`` for
    engine-neutral comparison."""
    return (
        with_watermark(df)
        .groupBy(w.alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(ex.dsum("value")).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(start_as),
            *keys,
            "n_events",
            "total_value",
        )
    )


def tumbling_counts(df: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time window per ``event_type``."""
    return _window_totals(df, F.window("ts", "1 hour"), ["event_type"], "window_start")


def sliding_counts(df: DataFrame) -> DataFrame:
    """Sliding event-time window: 2 hours every hour (each event lands
    in two overlapping windows)."""
    return _window_totals(df, F.window("ts", "2 hours", "1 hour"), [], "window_start")


def session_counts(df: DataFrame) -> DataFrame:
    """Session windows: per-``user_id`` activity bursts separated by
    ≥ 30 minutes of silence (F.session_window — dynamic-length stateful
    windows; in streaming mode state merges sessions across
    micro-batches)."""
    return _window_totals(
        df, F.session_window("ts", "30 minutes"), ["user_id"], "session_start"
    )
