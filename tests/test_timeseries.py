"""Range-join and rollup-cascade tests: bucket expansion must agree
with the naive inequality join (including intervals spanning multiple
buckets and end-exclusive boundaries), and every cascade level must
re-aggregate to the same totals as a direct aggregation of raw events."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators import timeseries as tsr

D = dt.date
TS = dt.datetime


def test_point_in_interval_matches_naive(spark):
    points = spark.createDataFrame(
        [(D(2024, 1, 15),), (D(2024, 2, 1),), (D(2024, 3, 10),)], "p date"
    )
    intervals = spark.createDataFrame(
        [
            (1, D(2024, 1, 10), D(2024, 1, 20)),   # hits Jan 15 only
            (2, D(2024, 1, 1), D(2024, 4, 1)),     # spans 3 buckets, hits all
            (3, D(2024, 1, 20), D(2024, 2, 1)),    # end-exclusive: misses Feb 1
            (4, D(2024, 2, 1), D(2024, 2, 2)),     # hits Feb 1 exactly at start
        ],
        "iv_id int, s date, e date",
    )
    got = {
        (r.iv_id, r.p)
        for r in tsr.point_in_interval_join(
            points, intervals, "p", "s", "e", bucket="1 month"
        ).collect()
    }
    naive = {
        (r.iv_id, r.p)
        for r in points.crossJoin(intervals)
        .filter((F.col("s") <= F.col("p")) & (F.col("p") < F.col("e")))
        .collect()
    }
    assert got == naive
    assert (2, D(2024, 3, 10)) in got       # multi-bucket interval found
    assert (3, D(2024, 2, 1)) not in got    # end-exclusive enforced
    assert (4, D(2024, 2, 1)) in got        # start-inclusive enforced


def test_month_starts_in_intervals_matches_join_formulation(spark):
    """The r15 zero-join month-spine explode must emit exactly the
    (interval, month-start) pairs the bucket-expansion join produced —
    including boundary cases: start ON a month start (inclusive), end
    ON a month start (exclusive), sub-month intervals matching nothing,
    spine clamping on both edges, and NULL starts (no rows)."""
    intervals = spark.createDataFrame(
        [
            (1, D(2024, 1, 1), D(2024, 1, 20)),   # starts on a month start
            (2, D(2024, 1, 10), D(2024, 2, 1)),   # ends on one: Feb excluded
            (3, D(2024, 1, 2), D(2024, 1, 30)),   # inside one month: no hit
            (4, D(2023, 11, 5), D(2024, 4, 2)),   # clamped both sides
            (5, D(2024, 2, 1), D(2024, 2, 2)),    # exactly one month start
            (6, None, None),                      # NULL start: no rows
            (7, D(2025, 1, 1), D(2025, 3, 1)),    # entirely past the spine
        ],
        "iv_id int, s date, e date",
    )
    spine_lo, spine_hi = "2024-01-01", "2024-03-01"
    pts = spark.createDataFrame(
        [(D(2024, 1, 1),), (D(2024, 2, 1),), (D(2024, 3, 1),)], "d date"
    )
    want = {
        (r.iv_id, r.d)
        for r in tsr.point_in_interval_join(
            pts, intervals, "d", "s", "e", bucket="1 month"
        ).collect()
    }
    got_rows = tsr.month_starts_in_intervals(
        intervals, "s", "e", spine_lo, spine_hi
    ).collect()
    got = {
        (r.iv_id, D(r._m // 12, r._m % 12 + 1, 1)) for r in got_rows
    }
    assert got == want
    assert (1, D(2024, 1, 1)) in got          # start-inclusive
    assert (2, D(2024, 2, 1)) not in got      # end-exclusive
    assert all(p[0] != 3 for p in got)        # sub-month interval: none
    assert {p for p in got if p[0] == 4} == {
        (4, D(2024, 1, 1)), (4, D(2024, 2, 1)), (4, D(2024, 3, 1))
    }                                          # spine clamp
    assert all(p[0] not in (6, 7) for p in got)


def test_month_starts_in_intervals_rejects_reserved_m_column(spark):
    intervals = spark.createDataFrame(
        [(1, D(2024, 1, 1), D(2024, 2, 1))], "_m int, s date, e date"
    )
    with pytest.raises(ValueError, match="_m"):
        tsr.month_starts_in_intervals(
            intervals, "s", "e", "2024-01-01", "2024-03-01"
        )


def test_cascade_levels_reaggregate_exactly(spark):
    rows = [
        (TS(2024, 1, 1, h, m), "a" if h % 2 else "b", float(h * 10 + m))
        for h in range(24)
        for m in (0, 30)
    ] + [(TS(2024, 1, 2, 5, 0), "a", 7.25)]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    hourly, six, daily = tsr.cascade_rollup(ev)

    def totals(df):
        r = df.agg(
            F.sum("n_events").alias("n"), F.sum("total_value").alias("v")
        ).collect()[0]
        return r.n, float(r.v)

    direct_n = ev.count()
    direct_v = float(
        ev.agg(F.sum(F.col("value").cast("decimal(18,2)"))).collect()[0][0]
    )
    for level in (hourly, six, daily):
        assert totals(level) == (direct_n, direct_v)

    assert hourly.count() == 24 + 1          # one key per hour + 1 stray
    assert six.count() == 4 * 2 + 1          # four 6h buckets × 2 keys + stray
    assert daily.count() == 2 + 1            # day1 × 2 keys + day2


def test_six_hour_buckets_floor_correctly(spark):
    ev = spark.createDataFrame(
        [(TS(2024, 1, 1, h), "k", 1.0) for h in (0, 5, 6, 11, 12, 23)],
        "ts timestamp, event_type string, value double",
    )
    _, six, _ = tsr.cascade_rollup(ev)
    got = {(r.bucket.hour, r.n_events) for r in six.collect()}
    assert got == {(0, 2), (6, 2), (12, 1), (18, 1)}


def test_gapfill_hourly_spine_and_locf(spark):
    H = 3_600_000_000  # one hour in µs
    rows = [
        # user 1: events in hours 10, 13 (gap at 11, 12)
        (1, 10 * H + 5, 2.0),
        (1, 10 * H + 99, 3.0),
        (1, 13 * H, 7.5),
        # user 2: single hour — spine is one row
        (2, 20 * H + 1, 1.25),
    ]
    ev = spark.createDataFrame(rows, "user_id int, ts_us long, value double")
    out = {
        (r.user_id, r.hour_id): (r.n_events, r.hour_value, r.value_locf)
        for r in tsr.gapfill_hourly(ev).collect()
    }
    assert out == {
        (1, 10): (2, 5.0, 5.0),
        (1, 11): (0, 0.0, 5.0),   # gap: count 0, locf carries hour-10 sum
        (1, 12): (0, 0.0, 5.0),
        (1, 13): (1, 7.5, 7.5),
        (2, 20): (1, 1.25, 1.25),
    }


def test_interval_overlap_join_exact_vs_nested_loop(spark):
    """Bucketed interval-overlap join ≡ the naive all-pairs predicate on
    crafted intervals covering: containment, partial overlap, exact
    single-point touch, bucket-boundary ends, and disjoint pairs."""
    B = 1_000_000  # 1s buckets for the test
    left = [
        (1, 0, 5 * B),            # spans buckets 0-5
        (2, 2 * B, 2 * B + 10),   # tiny, inside bucket 2
        (3, 10 * B, 12 * B),      # ends exactly on a bucket boundary
    ]
    right = [
        (100, 4 * B, 6 * B),      # partial overlap with 1
        (101, B, 3 * B),          # contains 2, overlaps 1
        (102, 12 * B, 13 * B),    # touches 3 at a single point (closed)
        (103, 20 * B, 21 * B),    # disjoint from everything
    ]
    ldf = spark.createDataFrame(left, "lid int, s_start long, s_end long")
    rdf = spark.createDataFrame(right, "rid int, i_start long, i_end long")
    got = sorted(
        (r.lid, r.rid)
        for r in tsr.interval_overlap_join(
            ldf, rdf, "s_start", "s_end", "i_start", "i_end", bucket_us=B
        ).collect()
    )
    naive = sorted(
        (l[0], r[0])
        for l in left
        for r in right
        if l[1] <= r[2] and r[1] <= l[2]
    )
    assert got == naive == [(1, 100), (1, 101), (2, 101), (3, 102)]


def test_interval_overlap_join_preserves_duplicate_input_rows(spark):
    """Join multiplicity: duplicate input rows each produce their own
    output pair (the pre-r7 all-column distinct collapsed them)."""
    B = 1_000_000
    ldf = spark.createDataFrame(
        [(1, 0, 5 * B), (1, 0, 5 * B)], "lid int, ls long, le long"
    )
    rdf = spark.createDataFrame([(9, B, 2 * B)], "rid int, rs long, re long")
    got = [
        (r.lid, r.rid)
        for r in tsr.interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re", bucket_us=B
        ).collect()
    ]
    assert sorted(got) == [(1, 9), (1, 9)]
