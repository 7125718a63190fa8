"""Streaming deduplication — the streaming twin of exact dedup
(operators/dedup.py) for at-least-once event sources.

``dropDuplicatesWithinWatermark`` keeps per-key state only until the
watermark passes the key's event time + delay, so state is bounded by
the redelivery horizon instead of growing with the stream — the
difference between a dedup that survives months of uptime and one that
OOMs. On a static frame the same builder degrades to plain
``dropDuplicates`` (identical output for in-horizon duplicates), which
is what the SQL oracle checks."""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_events(
    df: DataFrame,
    keys: list[str],
    horizon: str = "30 minutes",
) -> DataFrame:
    """Keep the first arrival per key; on a stream, duplicates are only
    tracked within `horizon` of event time ``ts`` (bounded state)."""
    if df.isStreaming:
        return df.withWatermark("ts", horizon).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)
