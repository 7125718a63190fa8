"""Sketch-wave pins: CMS one-sided bound + linear mergeability, Bloom
zero-false-negatives, oriented-triangle cross-check vs brute force,
CUSUM closed form vs the literal recurrence."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators import sketch as sk
from data_warehousing_assignment_spark.operators.graph import triangle_count
from data_warehousing_assignment_spark.registry_sketch import op_ext_cusum

SF = "/root/testdata/sf0.001"


def test_cms_one_sided_and_mergeable(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_custkey").alias("k")
    )
    cells = sk.cms_build(orders, "k")
    truth = orders.groupBy("k").agg(F.count(F.lit(1)).alias("tc"))
    est = sk.cms_estimate(cells, truth.select("k"), "k")
    j = truth.join(est, "k")
    # one-sided guarantee: estimate never undercounts
    assert j.filter(F.col("cms_est") < F.col("tc")).count() == 0

    # linearity: sketch(A ∪ B) == cellwise_sum(sketch(A), sketch(B))
    a = orders.filter(F.col("k") % 2 == 0)
    b = orders.filter(F.col("k") % 2 == 1)
    merged = (
        sk.cms_build(a, "k")
        .unionByName(sk.cms_build(b, "k"))
        .groupBy("j", "bucket")
        .agg(F.sum("cell_count").alias("cell_count"))
    )
    full = cells
    diff = (
        full.withColumnRenamed("cell_count", "x")
        .join(merged.withColumnRenamed("cell_count", "y"), ["j", "bucket"],
              "full_outer")
        .filter(
            ~F.coalesce("x", F.lit(0)).eqNullSafe(F.coalesce("y", F.lit(0)))
        )
    )
    assert diff.count() == 0


def test_bloom_no_false_negatives(spark):
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    build = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    bits = sk.bloom_bits(build, "k")
    res = sk.bloom_filter_probe(build.distinct(), bits, "k")
    # every true member passes — Bloom filters never false-negative
    assert res.filter(~F.col("passes")).count() == 0


def test_triangle_count_matches_brute_force(spark):
    edges_py = [
        (1, 2), (2, 3), (1, 3),          # triangle
        (3, 4), (4, 5), (3, 5),          # triangle
        (5, 6), (6, 7),                  # path, no triangle
        (1, 4),                          # closes (1,3,4)
        (2, 4),                          # closes (2,3,4) and (1,2,4)
    ]
    adj = set(edges_py)
    nodes = sorted({n for e in edges_py for n in e})
    brute = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in adj and (b, c) in adj and (a, c) in adj
    )
    edges = spark.createDataFrame(edges_py, ["u", "v"])
    row = triangle_count(edges).first()
    assert row["n_triangles"] == brute == 5
    assert row["n_edges"] == len(edges_py)
    assert row["n_nodes"] == len(nodes)


def test_cusum_closed_form_equals_recurrence(spark):
    rows = op_ext_cusum(spark, SF).orderBy("l_returnflag", "ship_day").collect()
    by_flag: dict = {}
    for r in rows:
        by_flag.setdefault(r["l_returnflag"], []).append(r)
    for flag, seq in by_flag.items():
        total = sum(r["day_cents"] for r in seq)
        mean = total // len(seq)
        s = 0
        for r in seq:
            s = max(0, s + (r["day_cents"] - mean))
            assert s == r["cusum_cents"], (flag, r["ship_day"])


def test_clustering_coef_matches_brute_force_on_k4(spark):
    """K4 + a pendant: every K4 node has coef 1 among deg>=3 nodes."""
    from pyspark.sql import functions as F  # noqa: F811

    edges_py = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    edges = spark.createDataFrame(edges_py, ["u", "v"])
    # reuse the registry op's core by inlining the same math on a tiny graph
    from data_warehousing_assignment_spark.operators.graph import (
        triangle_count,
    )

    row = triangle_count(edges).first()
    assert row["n_triangles"] == 4  # C(4,3) triangles in K4

    from data_warehousing_assignment_spark.registry_sketch import (
        op_ext_clustering_coef,
    )

    out = op_ext_clustering_coef(spark, "/root/testdata/sf0.001").collect()
    for r in out:
        assert 0 <= r["coef_ppm"] <= 1_000_000
        assert r["degree"] >= 10


def test_percentile_cont_matches_numpy(spark):
    from data_warehousing_assignment_spark.registry_sketch import (
        op_ext_percentile_cont,
    )
    import numpy as np

    rows = {r["l_returnflag"]: r for r in
            op_ext_percentile_cont(spark, SF).collect()}
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select(
            "l_returnflag",
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)"
            ).alias("c"),
        )
        .collect()
    )
    series: dict = {}
    for r in li:
        series.setdefault(r["l_returnflag"], []).append(r["c"])
    for flag, vals in series.items():
        want = np.percentile(np.array(vals, dtype=np.float64), 90,
                             method="linear")
        got = rows[flag]["p90_cents_x10"] / 10.0
        assert abs(got - want) < 0.51, (flag, got, want)
        assert rows[flag]["n_rows"] == len(vals)


def test_kmv_union_merge_and_error_bound(spark):
    from data_warehousing_assignment_spark.registry_sketch import (
        op_ext_kmv_sketch,
    )

    rows = {r["seg"]: r for r in
            op_ext_kmv_sketch(spark, "/root/testdata/sf0.01").collect()}
    assert set(rows) == {"BUILDING", "MACHINERY", "UNION"}
    for seg, r in rows.items():
        # KMV relative error ~ 1/sqrt(k-1) = 12.6%; allow 4 sigma
        assert r["n_kept"] <= 64
        if r["n_kept"] < 64:
            assert r["kmv_est"] == r["true_distinct"]
        else:
            rel = abs(r["kmv_est"] - r["true_distinct"]) / r["true_distinct"]
            assert rel < 0.5, (seg, r)
    # union can't be smaller than either input's truth
    assert (
        rows["UNION"]["true_distinct"]
        >= max(rows["BUILDING"]["true_distinct"],
               rows["MACHINERY"]["true_distinct"])
    )


def test_bitmap_distinct_reaggregates_exactly(spark):
    """Month-level bitmaps OR-merge to the year level EXACTLY equal to
    a direct distinct count — the mergeability HLL only approximates.
    Never re-scans raw orders for the rollup."""
    from pyspark.sql import functions as F

    from data_warehousing_assignment_spark.registry import t

    orders = t(spark, "/root/testdata/sf0.01", "orders")
    per_bucket = (
        orders.select(
            F.date_format("o_orderdate", "yyyy").alias("y"),
            F.date_format("o_orderdate", "yyyy-MM").alias("m"),
            F.expr("bitmap_bucket_number(o_custkey)").alias("bk"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("y", "m", "bk")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    yearly = (
        per_bucket.groupBy("y", "bk")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))  # month -> year merge
        .groupBy("y")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n"))
    )
    truth = orders.groupBy(
        F.date_format("o_orderdate", "yyyy").alias("y")
    ).agg(F.countDistinct("o_custkey").alias("n"))
    got = {r["y"]: r["n"] for r in yearly.collect()}
    want = {r["y"]: r["n"] for r in truth.collect()}
    assert got == want


def test_bitmap_month_op_matches_exact_distinct(spark):
    from data_warehousing_assignment_spark.registry import t
    from data_warehousing_assignment_spark.registry_sketch import (
        op_ext_bitmap_distinct,
    )
    from pyspark.sql import functions as F

    got = {
        r["order_month"]: r["n_customers"]
        for r in op_ext_bitmap_distinct(spark, "/root/testdata/sf0.001").collect()
    }
    orders = t(spark, "/root/testdata/sf0.001", "orders")
    want = {
        r["m"]: r["n"]
        for r in orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("m")
        ).agg(F.countDistinct("o_custkey").alias("n")).collect()
    }
    assert got == want


def test_cms_join_size_is_one_sided_and_tight(spark):
    """est >= true (collisions only add cross terms), and with 256
    buckets against ~100 distinct users the estimate should be within
    the epsilon*N^2 CMS bound — use 2x true as a generous pin."""
    from data_warehousing_assignment_spark.registry_sketch import (
        op_ext_cms_join_size,
    )

    r = op_ext_cms_join_size(spark, "/root/testdata/sf0.01").collect()[0]
    assert r["est_join_size"] >= r["true_join_size"]
    assert r["est_join_size"] <= 2 * r["true_join_size"]


def test_table_digest_pinpoints_only_corrupted_buckets(spark):
    """Digest mismatch set == exactly the buckets holding a corrupted
    key (≡17 mod 5000); clean buckets never false-positive."""
    from data_warehousing_assignment_spark.registry import t
    from data_warehousing_assignment_spark.registry_sketch import (
        op_ext_table_digest,
    )
    from pyspark.sql import functions as F

    got = {
        r["bucket_start"]
        for r in op_ext_table_digest(spark, "/root/testdata/sf0.01").collect()
    }
    orders = t(spark, "/root/testdata/sf0.01", "orders")
    want = {
        r["b"]
        for r in orders.filter(F.col("o_orderkey") % 5000 == 17)
        .select(
            (F.col("o_orderkey") - F.col("o_orderkey") % 1000).alias("b")
        )
        .distinct()
        .collect()
    }
    assert got == want and got  # every corrupted bucket, nothing else


def test_table_digest_catches_whole_bucket_loss(spark):
    """A bucket present in only one replica (lost partition file) must
    surface as a mismatch — r8 review: the pre-fix inner join silently
    dropped exactly this, the severest corruption class."""
    from pyspark.sql import functions as F

    from data_warehousing_assignment_spark.operators.diff import (
        partition_digest,
    )

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(3000)], "k: long, v: string"
    )
    replica = base.filter(~F.col("k").between(1000, 1999))  # bucket gone
    da = partition_digest(base, "k", ["k", "v"]).select(
        "bucket_start",
        F.col("n_rows").alias("n_a"),
        F.col("digest").alias("digest_a"),
    )
    db = partition_digest(replica, "k", ["k", "v"]).select(
        "bucket_start",
        F.col("n_rows").alias("n_b"),
        F.col("digest").alias("digest_b"),
    )
    bad = (
        da.join(db, "bucket_start", "full_outer")
        .filter(
            ~F.col("digest_a").eqNullSafe(F.col("digest_b"))
            | ~F.col("n_a").eqNullSafe(F.col("n_b"))
        )
        .collect()
    )
    assert [r["bucket_start"] for r in bad] == [1000]
    assert bad[0]["n_b"] is None  # absent side surfaces as NULL


def test_partition_digest_null_columns_are_distinct(spark):
    """('x','F',NULL) vs ('x',NULL,'F') must digest differently — bare
    concat_ws would collide them (r8 review), hiding a value that
    moved between nullable columns."""
    from data_warehousing_assignment_spark.operators.diff import (
        partition_digest,
    )

    a = spark.createDataFrame([(1, "x", "F", None)],
                              "k: long, a: string, b: string, c: string")
    b = spark.createDataFrame([(1, "x", None, "F")],
                              "k: long, a: string, b: string, c: string")
    da = partition_digest(a, "k", ["a", "b", "c"]).collect()[0]
    db = partition_digest(b, "k", ["a", "b", "c"]).collect()[0]
    assert da["digest"] != db["digest"]


def test_partition_digest_rejects_non_integral_key(spark):
    """A string key would range-bucket to one NULL bucket — must raise,
    not silently degrade (r8 review)."""
    import pytest

    from data_warehousing_assignment_spark.operators.diff import (
        partition_digest,
    )

    df = spark.createDataFrame([("a", 1)], "k: string, v: long")
    with pytest.raises(TypeError, match="must be integral"):
        partition_digest(df, "k", ["v"])


def test_partition_digest_row_hash_width(spark):
    """Row hashes are 60-bit (15 md5 nibbles), not the r7 32-bit slice:
    across 2000 single-row buckets at least one digest must exceed
    2^32 (probability of failure if truly 60-bit: (2^-28)^2000 ≈ 0)."""
    import pyspark.sql.functions as F

    from data_warehousing_assignment_spark.operators.diff import (
        partition_digest,
    )

    df = spark.range(2000).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )
    d = partition_digest(df, "k", ["v"], bucket_size=1)
    assert d.filter(F.col("digest") > 2**32).count() > 0
    # and every digest stays inside int64 (the mod-2^63 fold)
    assert d.filter(F.col("digest") < 0).count() == 0


def test_kmv_intersect_error_bound(spark):
    """Relative error of the theta-intersection estimate is bounded by
    ~1/sqrt(n_common); allow 4 sigma. Exact iff theta == M, i.e. BOTH
    sketches un-full — one un-full sketch alone does NOT make the
    estimate exact (the asymmetric case the r7 rule got wrong)."""
    from data_warehousing_assignment_spark.registry_sketch import (
        _KMV_M,
        op_ext_kmv_intersect,
    )

    r = op_ext_kmv_intersect(spark, "/root/testdata/sf0.01").collect()[0]
    assert r["true_inter"] > 0
    if r["theta"] == _KMV_M:
        assert r["min_kept"] < 64  # theta==M implies an un-full sketch
        assert r["inter_est"] == r["true_inter"]
    else:
        rel = abs(r["inter_est"] - r["true_inter"]) / r["true_inter"]
        assert rel < 4 / max(r["n_common"], 1) ** 0.5, r


def test_kmv_intersect_asymmetric_unfull(spark):
    """The asymmetric case the advisor flagged: sketch A full (k=64),
    sketch B un-full, B ⊂ A's domain with common hashes ABOVE A's
    theta. Theta-sketch algebra must treat B's theta as M, take
    theta = A's k-th minimum, and scale n_common·M/theta — NOT return
    the truncated common count unscaled. Replays the exact Spark
    pipeline on a constructed frame where the flawed rule undercounts."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window
    from data_warehousing_assignment_spark.functions import exact as ex
    from data_warehousing_assignment_spark.registry_sketch import (
        _KMV_H,
        _KMV_K,
        _KMV_M,
    )

    # A: 500 members (full sketch, theta_A ≈ 64/500 = 12.8% of the
    # space). B: 60 members drawn from A (un-full, true_inter = 60).
    # md5 spreads them uniformly, so most of B's hashes land ABOVE
    # A's 64th minimum — the flawed rule drops them all and returns
    # only the ~60·0.128 ≈ 8 survivors unscaled.
    rows = [(1, i) for i in range(500)] + [(2, i * 7) for i in range(60)]
    src = spark.createDataFrame(rows, "yr: int, o_custkey: bigint")
    h = src.select("yr", F.expr(ex.hex_int(_KMV_H, 1, 15)).alias("hv"))
    wyr = Window.partitionBy("yr").orderBy("hv")
    sk = (
        h.withColumn("rn", F.row_number().over(wyr))
        .filter(F.col("rn") <= _KMV_K)
        .select("yr", "hv")
    )
    per = {
        r["yr"]: r
        for r in sk.groupBy("yr")
        .agg(F.max("hv").alias("mx"), F.count(F.lit(1)).alias("nk"))
        .collect()
    }
    assert per[1]["nk"] == _KMV_K and per[2]["nk"] == 60
    theta = min(
        per[yr]["mx"] if per[yr]["nk"] >= _KMV_K else _KMV_M for yr in per
    )
    assert theta == per[1]["mx"]  # the full sketch's k-th minimum
    common = [
        r["hv"]
        for r in sk.groupBy("hv").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") == 2).collect()
    ]
    n_common = sum(1 for hv in common if hv <= theta)
    est = n_common * _KMV_M // theta
    flawed = n_common  # what the r7 rule returned (unscaled)
    true_inter = 60
    # The corrected estimate is within 4/sqrt(n_common) of truth;
    # the flawed unscaled count is a massive undercount.
    assert n_common >= 1
    rel = abs(est - true_inter) / true_inter
    assert rel < 4 / n_common**0.5, (est, n_common, theta)
    assert flawed < true_inter / 2, flawed
