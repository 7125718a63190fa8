"""Time-series operators: point-in-interval (range) join and
hypertable-style cascaded rollups (extension surface, SURVEY.md §7.5 —
no reference counterpart; the reference's only temporal logic is the
dim_time spine and month buckets in KPIs.sql).

Scale design:

* Range join — Spark has no native band-join physical operator, and the
  naive formulation (``points JOIN intervals ON s <= p AND p < e``) is
  a BroadcastNestedLoopJoin: O(|points| · |intervals|) candidate work.
  :func:`point_in_interval_join` rewrites it as BUCKET EXPANSION: each
  interval explodes into the coarse time buckets it overlaps, each
  point maps to its single bucket, and the join becomes a hash
  EQUI-join on the bucket followed by the exact residual predicate.
  Candidate work drops to O(Σ per-bucket |points|·|intervals|) and the
  shuffle is keyed/parallel — the same trick Databricks' range-join
  optimization applies, expressed in plain DataFrame ops. Fan-out is
  bounded by interval_length / bucket_width, so pick the bucket near
  the typical interval length.

* Cascaded rollup — the TimescaleDB continuous-aggregate shape: the
  finest rollup aggregates the raw stream ONCE; every coarser level
  re-aggregates the previous level, touching ~1/width the rows instead
  of rescanning raw data. COUNT and SUM re-aggregate exactly; sums run
  as ``exact.MONEY_DECIMAL`` so the regrouping is associative
  bit-for-bit (double sums would drift with accumulation order —
  registry.py determinism rules), cast back to DOUBLE only at the
  boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions.exact import MONEY_DECIMAL


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket: str = "1 month",
) -> DataFrame:
    """Inner-join each point p to every interval with ``start <= p < end``
    (end-exclusive), via bucket expansion on ``bucket``-wide time
    buckets. Returns points × matching interval rows (all columns of
    both sides).

    The residual filter keeps exactness; the extra bucket an interval
    explodes into when it ends exactly on a bucket boundary is filtered
    back out by ``p < end``."""
    b_point = F.date_trunc(_trunc_unit(bucket), F.col(point_col))
    p = points.withColumn("_bk", b_point)
    iv = intervals.withColumn(
        "_bk",
        F.explode(
            F.sequence(
                F.date_trunc(_trunc_unit(bucket), F.col(start_col)),
                F.date_trunc(_trunc_unit(bucket), F.col(end_col)),
                F.expr(f"interval {bucket}"),
            )
        ),
    )
    joined = p.join(iv, on="_bk", how="inner").filter(
        (F.col(start_col) <= F.col(point_col))
        & (F.col(point_col) < F.col(end_col))
    )
    return joined.drop("_bk")


def month_starts_in_intervals(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    spine_lo: str,
    spine_hi: str,
) -> DataFrame:
    """Each interval row exploded to the month-START dates ``d`` with
    ``start <= d < end`` (end-exclusive), clamped to the month spine
    ``[spine_lo, spine_hi]`` (both 'yyyy-MM-01' month starts) — the
    zero-join special case of :func:`point_in_interval_join` for the
    calendar-spine shape (r15, guide §2.4 remove shuffles outright).

    When the point set is exactly the month starts of a date range, the
    bucket-expansion join degenerates: every month bucket contains
    exactly ONE candidate point — the bucket start itself — so the
    matching points are derivable ROW-LOCALLY from the interval alone.
    Equivalence (pinned value-equal to the join formulation in
    tests/test_timeseries.py):

    * a month start d satisfies start <= d  ⟺  d ≥ the first month
      start not before ``start`` — month(start) if day(start)=1, else
      the next month;
    * d < end  ⟺  d ≤ the month start of (end − 1 day) (d is a month
      start and d ≤ end−1);
    * d ∈ spine  ⟺  the clamp to [spine_lo, spine_hi] (month starts
      themselves, so the clamped sequence enumerates exactly the
      intersection).

    The months enumerate as INT indexes (year·12 + month−1) — integer
    sequence + int group key downstream instead of per-step calendar
    arithmetic and a date hash (measured 4.7 s → 3.7 s at the 100×
    synthesis on top of the join removal's 9.6 → 4.7 s). Exposes the
    index as ``_m``; callers label post-agg via
    ``format_string('%04d-%02d-01', _m div 12, _m % 12 + 1)`` —
    value-identical to ``date_format(d, 'yyyy-MM-dd')`` on month
    starts for 1-to-4-digit years (the spine contract).

    NULL starts produce NULL sequences and explode to zero rows —
    exactly the join formulation's behavior (NULL never joins). An input
    that already has a ``_m`` column is rejected: the output would carry
    two ambiguous ``_m`` columns."""
    if "_m" in intervals.columns:
        raise ValueError("intervals already has a _m column")
    s = F.col(start_col)
    d1 = F.date_sub(F.col(end_col), 1)
    first_m = (
        F.year(s) * 12 + F.month(s) - 1
        + F.when(F.dayofmonth(s) > 1, 1).otherwise(0)
    )
    last_m = F.year(d1) * 12 + F.month(d1) - 1
    lo_lit = F.to_date(F.lit(spine_lo))
    hi_lit = F.to_date(F.lit(spine_hi))
    lo = F.greatest(first_m, F.year(lo_lit) * 12 + F.month(lo_lit) - 1)
    hi = F.least(last_m, F.year(hi_lit) * 12 + F.month(hi_lit) - 1)
    # greatest/least SKIP nulls, so a NULL start/end would clamp to the
    # full spine instead of matching nothing — guard explicitly (the
    # join formulation emits no row for NULL bounds).
    months = F.when(
        first_m.isNotNull() & last_m.isNotNull() & (lo <= hi),
        F.sequence(lo, hi),
    )
    return intervals.select(
        F.explode(months).alias("_m"), *intervals.columns
    )


def _trunc_unit(bucket: str) -> str:
    """'1 month' -> 'month' — the date_trunc unit for a bucket spec."""
    unit = bucket.split()[-1].rstrip("s")
    if unit not in {"year", "month", "week", "day", "hour", "minute"}:
        raise ValueError(f"unsupported bucket unit: {bucket!r}")
    return unit


def cascade_rollup(events: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Continuous-aggregate cascade hourly → 6-hourly → daily over an
    event stream ``(ts, event_type, value)``: returns ``(hourly,
    six_hourly, daily)``, each with ``(bucket, key, n_events,
    total_value)`` (key = event_type) where total_value stays DECIMAL
    until the caller casts it.

    Only the hourly level scans raw events; each coarser level
    re-aggregates the finer one (COUNT→SUM, SUM→SUM — exact for
    decimals). At 100 TB the raw scan happens once and the cascade cost
    is proportional to the hourly cardinality, not the event count."""
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        F.col("event_type").alias("key"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(MONEY_DECIMAL)).alias("total_value"),
    )

    def _coarsen(finer: DataFrame, expr: Column) -> DataFrame:
        return finer.groupBy(expr.alias("bucket"), "key").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").alias("total_value"),
        )

    # 6h bucket: floor the hour-of-day to a multiple of 6
    six = _coarsen(
        hourly,
        F.date_trunc("day", F.col("bucket"))
        + F.make_interval(hours=(F.hour("bucket") - F.hour("bucket") % 6)),
    )
    daily = _coarsen(six, F.date_trunc("day", F.col("bucket")))
    return hourly, six, daily


def gapfill_hourly(events: DataFrame) -> DataFrame:
    """Dense per-user hourly series of events ``(user_id, ts_us, value)``
    with gap filling — the TimescaleDB ``time_bucket_gapfill`` +
    ``locf`` shape, as pure DataFrame ops.

    Input needs an exact integer-microsecond epoch column (``ts_us``);
    hours are integer-division buckets so both engines agree exactly.
    Per user, every hour between that user's first and last event gets a
    row: observed hours carry their exact-decimal value sum and count;
    missing hours get count 0, sum 0.0, and ``value_locf`` carries the
    last observed hourly sum forward (0.0 before the first observation,
    unreachable by construction since the spine starts at an observed
    hour).

    Scale: one agg shuffle keyed (user, hour), a per-user min/max agg,
    spine explode proportional to the OUTPUT size, an equi-join back,
    and one window pass partitioned by user — nothing denser than the
    output. Fan-out is bounded by each user's own time span; a 100 TB
    corpus with bounded per-user history keeps every partition small."""
    # integer division keeps the bucket exact (double division would
    # round before the cast truncates)
    hour = F.expr("ts_us div 3600000000").cast("bigint")
    hourly = events.groupBy(
        F.col("user_id"), hour.alias("hour_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(MONEY_DECIMAL))
        .cast("double")
        .alias("hour_value"),
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hour_id").alias("_lo"), F.max("hour_id").alias("_hi"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("hour_id"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hour_id"], "left")
        .select(
            "user_id",
            "hour_id",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce("hour_value", F.lit(0.0)).alias("hour_value"),
            F.coalesce(
                F.last("hour_value", ignorenulls=True).over(w), F.lit(0.0)
            ).alias("value_locf"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    by_col: str,
    ts_us_col: str,
    value_cents_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Time-weighted average per ``by_col`` over an irregular series —
    the TimescaleDB ``time_weight('LOCF', ...)`` shape: each observation
    holds (LOCF) until the next one, so the average weights every value
    by how LONG it was current, not how often it was sampled.

    TWA = Σ value_i · (t_{i+1} − t_i)  /  (t_last − t_first)

    Exactness contract (registry.py rules): values enter as integer
    cents and timestamps as integer µs; each segment's value·duration
    product and the numerator sum accumulate in DECIMAL(38,0) — exact,
    order-independent — and the only IEEE ops are the two final
    divisions, identical in any engine. Groups with a single observation
    (zero span) are dropped: their TWA is undefined under LOCF.

    Scale: one window + one aggregation over the SAME (by, ts) shuffle
    key — Spark plans a single exchange; at 100 TB this is exactly a
    sessionization-shaped pass.
    """
    w = Window.partitionBy(by_col).orderBy(ts_us_col, tiebreak_col)
    seg = df.select(
        by_col,
        F.col(ts_us_col).alias("_us"),
        F.col(value_cents_col).alias("_vc"),
        F.lead(ts_us_col).over(w).alias("_next_us"),
    )
    return (
        seg.groupBy(by_col)
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(
                (
                    F.col("_vc").cast("decimal(38,0)")
                    * (F.col("_next_us") - F.col("_us"))
                )
            ).alias("_num"),
            (F.max("_us") - F.min("_us")).alias("_span_us"),
        )
        .filter(F.col("_span_us") > 0)
        .select(
            by_col,
            "n_obs",
            F.expr("_span_us div 1000000").alias("span_s"),
            (
                F.col("_num").cast("double")
                / F.col("_span_us").cast("double")
                / F.lit(100.0)
            ).alias("twa_value"),
        )
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_us: int = 3_600_000_000,
) -> DataFrame:
    """Interval × interval OVERLAP join on integer-µs bounds (closed
    intervals: ``l_start ≤ r_end AND r_start ≤ l_end``) via bucket
    expansion on BOTH sides — the generalization of
    :func:`point_in_interval_join` where neither side is a point.

    Each interval explodes into the ``bucket_us``-wide buckets it
    covers, the join runs as a hash EQUI-join on the bucket id, and the
    exact predicate filters residually. A pair of overlapping intervals
    shares every bucket in [max(starts), min(ends)] div bucket — so each
    pair is emitted ONLY at its first shared bucket
    (``_bk == greatest(l_start, r_start) div bucket_us``): exactly-once
    without any distinct, which both saves the dedup shuffle and
    preserves input multiplicity (a pre-r7 ``.distinct()`` over all
    columns silently collapsed genuinely duplicate input rows — ADVICE
    r6). Work is O(Σ per-bucket |L|·|R|) instead of all-pairs; fan-out
    per interval is bounded by duration / bucket width, so pick the
    bucket near the typical interval length. Column names of the two
    inputs must be disjoint; all columns of both survive."""
    lb = left.withColumn(
        "_bk",
        F.explode(
            F.sequence(
                F.expr(f"{l_start} div {bucket_us}"),
                F.expr(f"{l_end} div {bucket_us}"),
            )
        ),
    )
    rb = right.withColumn(
        "_bk",
        F.explode(
            F.sequence(
                F.expr(f"{r_start} div {bucket_us}"),
                F.expr(f"{r_end} div {bucket_us}"),
            )
        ),
    )
    overlap = (F.col(l_start) <= F.col(r_end)) & (
        F.col(r_start) <= F.col(l_end)
    )
    first_shared = F.col("_bk") == F.expr(
        f"greatest({l_start}, {r_start}) div {bucket_us}"
    )
    return lb.join(rb, on="_bk").filter(overlap & first_shared).drop("_bk")
