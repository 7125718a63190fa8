"""Window/statistics analytics operators: sessionization invariants,
sequence-packing coverage, top-k bounds, and exact-moment math vs
numpy's reference implementation."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators import analytics as an
from data_warehousing_assignment_spark.operators import text as tx
from tests.conftest import SF_SMALL

GAP_MIN = 30
GAP_US = GAP_MIN * 60 * 1_000_000


def _events(spark):
    from data_warehousing_assignment_spark.registry import t

    return t(spark, SF_SMALL, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )


def test_sessionize_gap_semantics(spark):
    """Within a session every inter-event gap ≤ GAP; across consecutive
    sessions the boundary gap > GAP. Verified per user over all rows."""
    sess = an.sessionize(_events(spark), gap_minutes=GAP_MIN)
    rows = (
        sess.select("user_id", "ts_us", "event_id", "session_seq")
        .orderBy("user_id", "ts_us", "event_id")
        .collect()
    )
    prev = {}
    for r in rows:
        if r.user_id in prev:
            p = prev[r.user_id]
            gap = r.ts_us - p.ts_us
            if r.session_seq == p.session_seq:
                assert gap <= GAP_US
            else:
                assert r.session_seq == p.session_seq + 1
                assert gap > GAP_US
        else:
            assert r.session_seq == 1
        prev[r.user_id] = r


def test_pack_sequences_covers_every_token_once(spark):
    """Per shard: cum_tokens of the last doc equals the total token
    count, chunks are contiguous from 0, and every doc's span matches
    its chunk window."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    packed = an.pack_sequences(
        docs, tx.token_count("text"), budget=128,
        part_col="source", order_col="doc_id",
    ).select("source", "doc_id", "n_tokens", "cum_tokens",
             "chunk_start", "chunk_end", "spans")
    by_src = {}
    for r in packed.orderBy("source", "doc_id").collect():
        by_src.setdefault(r.source, []).append(r)
    assert by_src
    for src, rows in by_src.items():
        run = 0
        for r in rows:
            run += r.n_tokens
            assert r.cum_tokens == run
            assert r.chunk_start == (r.cum_tokens - r.n_tokens) // 128
            assert r.chunk_end == (r.cum_tokens - 1) // 128
            assert r.spans == r.chunk_end - r.chunk_start + 1 >= 1
        # chunk ids are a contiguous 0-based range per shard
        assert rows[0].chunk_start == 0
        assert rows[-1].chunk_end == (run - 1) // 128


def test_top_k_per_group_bounds(spark):
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    top = an.top_k_per_group(
        li, ["l_returnflag"],
        [F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        k=5,
    )
    counts = {r.l_returnflag: r["count"]
              for r in top.groupBy("l_returnflag").count().collect()}
    assert counts and all(c <= 5 for c in counts.values())
    # the per-group max really is rank 1
    mx = {r.l_returnflag: r.mx for r in li.groupBy("l_returnflag")
          .agg(F.max("l_extendedprice").alias("mx")).collect()}
    for r in top.filter(F.col("rnk") == 1).collect():
        assert r.l_extendedprice == mx[r.l_returnflag]


def test_exact_moments_match_numpy(spark):
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").withColumn(
        "_q", F.col("l_quantity").cast("bigint")
    )
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_q").alias("sx"),
        F.sum(F.col("_q") * F.col("_q")).alias("sxx"),
    ).select(
        F.expr(an.exact_var_samp("n", "sx", "sxx")).alias("v")
    )
    got = s.collect()[0].v
    q = np.array(
        [r._q for r in li.select("_q").collect()], dtype=np.float64
    )
    assert math.isclose(got, float(np.var(q, ddof=1)), rel_tol=1e-12)


def test_exact_corr_matches_numpy(spark):
    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .withColumn("_q", F.col("l_quantity").cast("bigint"))
        .withColumn(
            "_pc",
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                "bigint"
            ),
        )
    )
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_q").alias("sx"),
        F.sum("_pc").alias("sy"),
        F.sum(F.col("_q") * F.col("_q")).alias("sxx"),
        F.sum(F.col("_pc").cast("decimal(38,0)") * F.col("_pc")).alias("syy"),
        F.sum(F.col("_q") * F.col("_pc")).alias("sxy"),
    ).select(
        F.expr(an.exact_corr("n", "sx", "sy", "sxx", "syy", "sxy")).alias("c")
    )
    got = s.collect()[0].c
    rows = li.select("_q", "_pc").collect()
    q = np.array([r._q for r in rows], dtype=np.float64)
    p = np.array([r._pc for r in rows], dtype=np.float64)
    assert math.isclose(got, float(np.corrcoef(q, p)[0, 1]), rel_tol=1e-9)


def test_chunk_totals_packing_invariant(spark):
    """Every chunk except each shard's last holds exactly `budget`
    tokens, and chunk token totals sum to the shard's token count."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    packed = an.pack_sequences(
        docs, tx.token_count("text"), budget=128,
        part_col="source", order_col="doc_id",
    )
    chunks = an.chunk_totals(packed, budget=128)
    rows = chunks.orderBy("source", "chunk").collect()
    last_chunk = {}
    for r in rows:
        last_chunk[r.source] = max(last_chunk.get(r.source, -1), r.chunk)
    for r in rows:
        if r.chunk < last_chunk[r.source]:
            assert r.n_tokens == 128, (r.source, r.chunk, r.n_tokens)
        else:
            assert 1 <= r.n_tokens <= 128
    # chunk totals partition the shard token mass exactly
    per_shard = {}
    for r in rows:
        per_shard[r.source] = per_shard.get(r.source, 0) + r.n_tokens
    expect = {
        r.source: r.tot
        for r in packed.groupBy("source")
        .agg(F.sum("n_tokens").alias("tot"))
        .collect()
    }
    assert per_shard == expect


def test_ewma_matches_literal_recurrence(spark):
    """applyInPandas EWMA equals the hand-rolled y_i = a*x_i + (1-a)*y_{i-1}
    recurrence per series (seeded y_0 = x_0)."""
    rows = [
        ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 10.0), ("a", 4, 40.0),
        ("b", 1, 5.0), ("b", 2, 5.0), ("b", 3, 8.0),
    ]
    df = spark.createDataFrame(rows, "k string, i long, x double")
    out = {
        (r.k, r.i): r.ewma
        for r in an.ewma(df, "k", "i", "x", alpha=0.3).collect()
    }
    for k in ("a", "b"):
        series = sorted((i, x) for kk, i, x in rows if kk == k)
        y = None
        for i, x in series:
            y = x if y is None else 0.3 * x + 0.7 * y
            assert math.isclose(out[(k, i)], y, rel_tol=1e-12), (k, i)


def test_approx_quantile_within_bound(spark):
    """approx_percentile(accuracy=10000) lands within the GK rank
    guarantee of the exact percentile (rank error <= n/accuracy; assert
    the loose value-side corollary: within the exact p45..p55 band).
    Also asserts the registered query's self-verifying bound columns
    (the r8 oracle surface) come back TRUE."""
    from data_warehousing_assignment_spark.registry import all_queries

    qs = all_queries()
    for r in qs["op-ext-approx-quantile"](spark, SF_SMALL).collect():
        assert r["p50_within_eps"] and r["p95_within_eps"], r
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    cents = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    approx = {
        r.l_returnflag: r.a50 / 100.0
        for r in cents.groupBy("l_returnflag")
        .agg(
            F.expr("approx_percentile(c, 0.5, 10000)")
            .cast("double")
            .alias("a50")
        )
        .collect()
    }
    band = {
        r.l_returnflag: (r.lo, r.hi)
        for r in cents.groupBy("l_returnflag")
        .agg(
            (F.expr("percentile(c, 0.45)") / 100.0).alias("lo"),
            (F.expr("percentile(c, 0.55)") / 100.0).alias("hi"),
        )
        .collect()
    }
    assert set(approx) == set(band)
    for flag, v in approx.items():
        lo, hi = band[flag]
        assert lo <= v <= hi, (flag, v, lo, hi)


def test_cdc_apply_idempotent_under_replay(spark):
    """Replaying the full change stream (union of the log with itself —
    at-least-once delivery) must not change the compacted state."""
    from data_warehousing_assignment_spark.registry import all_queries, t

    qs = all_queries()
    once = qs["op-ext-cdc-apply"](spark, SF_SMALL)
    ev = t(spark, SF_SMALL, "events")
    cdc = ev.select(
        "user_id", "event_id",
        F.expr("ts_ns div 1000").alias("seq"), "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    replayed = cdc.unionByName(cdc)
    latest = an.top_k_per_group(
        replayed, ["user_id"], [F.desc("seq"), F.desc("event_id")], k=1
    )
    twice = latest.filter(F.col("op") == "U").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("seq").alias("last_seq"),
        "value",
    )
    canon = lambda df: sorted(map(tuple, df.collect()))
    assert canon(once) == canon(twice)


def test_holt_linear_matches_literal_recurrence(spark):
    """applyInPandas Holt equals the hand-rolled coupled recurrences
    l_i = a*x_i + (1-a)(l+b), b_i = B(l_i-l_{i-1}) + (1-B)b, seeded
    l0=x0, b0=x1-x0; forecast = l+b. Includes a 1-point series (b0=0)."""
    rows = [
        ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 10.0), ("a", 4, 40.0),
        ("b", 1, 5.0), ("b", 2, 5.0), ("b", 3, 8.0),
        ("c", 1, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, i long, x double")
    out = {
        (r.k, r.i): (r.level, r.trend, r.forecast)
        for r in an.holt_linear(df, "k", "i", "x", alpha=0.3, beta=0.1)
        .collect()
    }
    a, B = 0.3, 0.1
    for k in ("a", "b", "c"):
        series = sorted((i, x) for kk, i, x in rows if kk == k)
        xs = [x for _, x in series]
        lv = xs[0]
        tr = xs[1] - xs[0] if len(xs) > 1 else 0.0
        for idx, (i, x) in enumerate(series):
            if idx > 0:
                prev = lv
                lv = a * x + (1 - a) * (lv + tr)
                tr = B * (lv - prev) + (1 - B) * tr
            gl, gt, gf = out[(k, i)]
            assert math.isclose(gl, lv, rel_tol=1e-12), (k, i)
            assert math.isclose(gt, tr, rel_tol=1e-12), (k, i)
            assert math.isclose(gf, lv + tr, rel_tol=1e-12), (k, i)


def test_distributed_ntile_matches_spark_ntile_exactly(spark):
    """The two-level NTILE must reproduce F.ntile's remainder
    semantics bit-for-bit on every shape: even split, remainder,
    n < tiles, heavy ties, descending order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_warehousing_assignment_spark.operators.analytics import (
        distributed_ntile,
    )

    cases = [
        (40, 4, False),   # even split
        (43, 4, False),   # remainder 3
        (3, 10, False),   # n < tiles
        (57, 10, True),   # descending with remainder
        (64, 7, False),   # coprime
    ]
    for n, k, desc in cases:
        # values with heavy ties (v = id % 9) and a unique tiebreak
        df = spark.range(n).selectExpr(
            "CAST(id % 9 AS BIGINT) AS v", "id AS tb"
        )
        order = [F.desc("v"), F.asc("tb")] if desc else [
            F.asc("v"), F.asc("tb")
        ]
        expect = {
            (r.v, r.tb): r.nt
            for r in df.withColumn(
                "nt", F.ntile(k).over(Window.orderBy(*order))
            ).collect()
        }
        got = {
            (r.v, r.tb): r.ntile
            for r in distributed_ntile(
                df, "v", "tb", k, descending=desc
            ).collect()
        }
        assert got == expect, (n, k, desc)


def test_equidepth_boundaries_match_sorted_replay(spark):
    from data_warehousing_assignment_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    rows = {
        r.boundary_idx: r
        for r in all_queries()["op-ext-histogram-equidepth"](
            spark, SF_SMALL
        ).collect()
    }
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").collect()
    vs = sorted(round(float(o.o_totalprice) * 100) for o in orders)
    n = len(vs)
    assert set(rows) == set(range(1, 11))
    for i in range(1, 11):
        # smallest value whose cumulative count reaches i*n/10:
        # index ceil(i*n/10) in 1-based sorted order
        target = -(-i * n // 10)
        assert rows[i].boundary_cents == vs[target - 1], i
        assert rows[i].n == n
    assert rows[10].boundary_cents == vs[-1]  # top boundary is the max
    bounds = [rows[i].boundary_cents for i in range(1, 11)]
    assert bounds == sorted(bounds)  # non-decreasing
