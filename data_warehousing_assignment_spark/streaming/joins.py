"""Stream-stream event-time interval join (extension surface — the last
big Structured Streaming primitive: correlate two live streams).

Pattern: view events joined to the same user's purchase events that
happen within a bounded interval AFTER the view ("did the view convert
within an hour?"). Both sides carry watermarks and the join condition
bounds purchase time to [view_ts, view_ts + horizon] — the time bound is
what lets Spark evict join state (without it, both sides' state grows
forever and a stream-stream join is rejected/unbounded).

The builder is batch/stream agnostic: on static frames the identical
join condition runs as a plain range join, which is what the oracle and
the parity test check (incrementalized ≡ batch on the same data)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: how late an event may arrive on either stream, and the default
#: conversion horizon
WATERMARK = "15 minutes"
HORIZON = "1 hour"


def _interval_join(views: DataFrame, purchases: DataFrame, horizon: str, how: str):
    """views(event_id, user_id, ts) joined ``how`` to the same user's
    purchases(event_id, user_id, value, ts) with purchase_ts in
    [view_ts, view_ts + horizon]; streaming sides carry ``WATERMARK``."""
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("value").alias("purchase_value"),
        F.col("ts").alias("purchase_ts"),
    )
    if v.isStreaming:
        v = v.withWatermark("view_ts", WATERMARK)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", WATERMARK)

    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return v.join(p, on=cond, how=how)


def view_purchase_conversions(
    views: DataFrame, purchases: DataFrame, horizon: str = HORIZON
) -> DataFrame:
    """Inner interval join: (view, purchase) pairs of the same user with
    purchase_ts in [view_ts, view_ts + horizon].

    Expected columns: views(event_id, user_id, ts), purchases(event_id,
    user_id, value, ts). Output aliases both event ids and the delay in
    seconds (integer — engine-neutral)."""
    return _interval_join(views, purchases, horizon, "inner").select(
        "view_id",
        "purchase_id",
        "user_id",
        "purchase_value",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts"))
        .cast("bigint")
        .alias("delay_sec"),
    )


def view_conversion_outcomes(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """LEFT-OUTER interval join: every view, with its converting
    purchase(s) or NULLs when none arrived within ``HORIZON`` — the
    funnel-outcome variant of :func:`view_purchase_conversions`.

    Streaming semantics: Spark emits the NULL-padded row only once the
    view's watermark passes view_ts + horizon (it must be sure no
    matching purchase can still arrive), so outer results trail the
    watermark — the same builder runs batch, where the oracle checks it
    exactly."""
    return _interval_join(views, purchases, HORIZON, "left").select(
        "view_id",
        "user_id",
        F.col("purchase_id").cast("bigint").alias("purchase_id"),
        "purchase_value",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts"))
        .cast("bigint")
        .alias("delay_sec"),
    )


def enrich_with_dim(
    stream: DataFrame, dim: DataFrame, cond, dim_cols: list[str]
) -> DataFrame:
    """Stream-static join: enrich a live stream with a slowly-changing
    static dimension (the state-FREE streaming join — Spark re-reads the
    static side per micro-batch, so no watermark and no join state).

    The dim side is explicitly broadcast: at 100 TB of stream the dim is
    still dim-sized, and a broadcast hash join keeps every micro-batch
    shuffle-free on the stream side. Batch/stream agnostic like the
    other builders — the identical plan on static frames is what the
    oracle checks."""
    return stream.join(F.broadcast(dim), on=cond, how="left").select(
        *stream.columns, *dim_cols
    )
