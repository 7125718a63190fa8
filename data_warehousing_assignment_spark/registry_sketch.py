"""Sketch & statistics registry: Count-Min frequency sketch, Bloom-filter
semi-join pre-filter, degree-oriented triangle counting, Markov
transition probabilities, chi-square independence, day-of-week seasonal
anomaly screening, deterministic weighted priority sampling, and an
EXACT windowed CUSUM control statistic (via the prefix-min identity
S_i = P_i − min(0, min_{j≤i} P_j), which turns the recurrence into two
running windows — no recursion, no pandas).

No reference counterpart (SURVEY.md §7.5 extension surface); methods
from the public literature (Cormode & Muthukrishnan 2005 CMS; Bloom
1970; Suri & Vassilvitskii 2011 oriented triangles; Page 1954 CUSUM).
All cross-engine surfaces are exact integers, md5-derived slots, or a
bounded chain of IEEE ops over exact integers (registry.py rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import exact as ex
from data_warehousing_assignment_spark.operators import analytics as an
from data_warehousing_assignment_spark.operators import sketch as sk
from data_warehousing_assignment_spark.operators.graph import (
    node_degrees,
    oriented_triangles,
    part_copurchase_edges,
    triangle_count,
)
from data_warehousing_assignment_spark.registry import query, t


# --------------------------------------------------------------------------
# Count-Min sketch
# --------------------------------------------------------------------------


@query(
    "op-ext-cms",
    oracle=f"""
    WITH src AS (SELECT o_custkey AS k FROM orders),
    f AS (SELECT k, j FROM src CROSS JOIN (SELECT unnest([0,1,2,3]) AS j)),
    cells AS (
      SELECT j, {ex.hex_int_oracle(sk.slot_md5('cms', 'k'), 1, 2)}
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM f GROUP BY 1, 2
    ),
    cand AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS true_count
             FROM src WHERE k % 50 = 0 GROUP BY 1),
    probe AS (
      SELECT k, true_count, j,
             {ex.hex_int_oracle(sk.slot_md5('cms', 'k'), 1, 2)}
               AS bucket
      FROM cand CROSS JOIN (SELECT unnest([0,1,2,3]) AS j)
    )
    SELECT p.k AS o_custkey, p.true_count,
           CAST(MIN(COALESCE(c.n, 0)) AS BIGINT) AS cms_est
    FROM probe p LEFT JOIN cells c ON p.j = c.j AND p.bucket = c.bucket
    GROUP BY 1, 2
    """,
)
def op_ext_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of per-customer
    order frequency: 4 md5-derived hash rows × 256 buckets — 1024 cells
    TOTAL regardless of input size — then point estimates (min over the
    4 addressed cells) for the %50 candidate keys next to their true
    counts. The one-sided guarantee est ≥ true is pinned in
    tests/test_sketch.py along with linear mergeability (sketch of a
    union = cell-wise sum of sketches), which is why a 1000-executor
    fleet can build it map-side and union 1024-row frames.
    Deterministic hashing (md5 slots) makes the sketch itself
    bit-identical in any engine — hence an EXACT oracle for an
    approximate structure."""
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    cells = sk.cms_build(orders, "k", depth=4, width_hex=2)
    cand = (
        orders.filter(F.col("k") % 50 == 0)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    est = sk.cms_estimate(cells, cand, "k", depth=4, width_hex=2)
    return cand.join(est, "k").select(
        F.col("k").alias("o_custkey"), "true_count", "cms_est"
    )


# --------------------------------------------------------------------------
# Bloom-filter semi-join pre-filter
# --------------------------------------------------------------------------


@query(
    "op-ext-bloom-semi",
    oracle=f"""
    WITH build AS (SELECT c_custkey AS k FROM customer
                   WHERE c_mktsegment = 'BUILDING'),
    bits AS (SELECT DISTINCT
               {ex.hex_int_oracle(sk.slot_md5('bf', 'k'), 1, 3)} AS pos
             FROM build CROSS JOIN (SELECT unnest([0,1,2]) AS j)),
    probe AS (SELECT DISTINCT o_custkey AS k FROM orders),
    fan AS (SELECT k,
              {ex.hex_int_oracle(sk.slot_md5('bf', 'k'), 1, 3)} AS pos
            FROM probe CROSS JOIN (SELECT unnest([0,1,2]) AS j)),
    hits AS (SELECT k FROM fan JOIN bits USING (pos)
             GROUP BY k HAVING COUNT(*) = 3),
    truth AS (SELECT k FROM probe WHERE k IN (SELECT k FROM build))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM build) AS n_build,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_passed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_members,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hits
            WHERE k NOT IN (SELECT k FROM truth)) AS n_false_pos
    """,
)
def op_ext_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pre-filter (Bloom 1970; the runtime-filter
    pattern Spark's own `spark.sql.optimizer.runtimeFilter.bloomFilter`
    automates): the BUILDING-segment customer keys set 3 md5-derived
    bits each in a 4096-bit filter; the order fact's distinct customers
    probe it, and only passers would reach the real join. Output is the
    audit row — build size, set bits, probed, passed, true members, and
    measured false positives (passers that the exact semi-join
    rejects). Deterministic bit positions ⇒ the false-positive count
    itself is engine-exact. At 100 TB the filter frame (≤4096 ints)
    broadcasts while the fact never shuffles for rejected keys — the
    entire point of the pattern. The 1-row metric crossJoins are
    degenerate (plan-audit sanctioned)."""
    cust = t(spark, sf_dir, "customer")
    build = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    probe = (
        t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bits = sk.bloom_bits(build, "k", n_hashes=3, bits_hex=3)
    passed = sk.bloom_filter_probe(probe, bits, "k", n_hashes=3, bits_hex=3)
    truth = probe.join(build.distinct(), "k", "semi")
    joined = passed.join(
        truth.withColumn("_true", F.lit(1)), "k", "left"
    )
    return (
        build.agg(F.count(F.lit(1)).alias("n_build"))
        .crossJoin(bits.agg(F.count(F.lit(1)).alias("n_bits_set")))
        .crossJoin(probe.agg(F.count(F.lit(1)).alias("n_probed")))
        .crossJoin(
            joined.agg(
                F.sum(F.when(F.col("passes"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_passed"),
                F.sum(F.when(F.col("_true") == 1, 1).otherwise(0))
                .cast("bigint")
                .alias("n_true_members"),
                F.sum(
                    F.when(F.col("passes") & F.col("_true").isNull(), 1)
                    .otherwise(0)
                )
                .cast("bigint")
                .alias("n_false_pos"),
            )
        )
    )


# --------------------------------------------------------------------------
# triangle counting
# --------------------------------------------------------------------------


@query(
    "op-ext-triangle-count",
    oracle="""
    WITH e AS (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                      greatest(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    n AS (SELECT u AS x FROM e UNION SELECT v FROM e),
    tri AS (
      SELECT COUNT(*) AS c
      FROM e e1 JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM n) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(c AS BIGINT) FROM tri) AS n_triangles
    """,
)
def op_ext_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the part co-purchase graph (parts sharing
    an order) via degree-ordered orientation (Suri & Vassilvitskii
    2011) — graph.triangle_count. The oracle counts the SAME triangles
    with the naive a<b<c three-way join (obviously correct, wedge-
    unbounded); the engine side orients edges low→high degree first so
    wedge count is O(m^1.5) even with celebrity nodes — at 100 TB the
    naive form dies on the first hub part, the oriented one doesn't.
    Equi-joins only; the orientation total order is one int64 key
    (deg·2³² + node)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = part_copurchase_edges(li)
    return triangle_count(edges).select("n_nodes", "n_edges", "n_triangles")


# --------------------------------------------------------------------------
# Markov transition probabilities
# --------------------------------------------------------------------------


@query(
    "op-ext-markov",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
               AS next_type
      FROM events
    ),
    cnt AS (SELECT event_type AS cur_state, next_type AS next_state,
                   CAST(COUNT(*) AS BIGINT) AS n_trans
            FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT cur_state, CAST(SUM(n_trans) AS BIGINT) AS row_total
            FROM cnt GROUP BY 1)
    SELECT c.cur_state, c.next_state, c.n_trans,
           CAST((1000000 * c.n_trans) // t.row_total AS BIGINT) AS p_ppm,
           CAST(ROW_NUMBER() OVER (PARTITION BY c.cur_state
                                   ORDER BY c.n_trans DESC, c.next_state)
                AS BIGINT) AS rk
    FROM cnt c JOIN tot t ON c.cur_state = t.cur_state
    """,
)
def op_ext_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov chain over user event sequences: the
    transition-count matrix (op-ext-transitions) normalized to
    fixed-point conditional probabilities P(next|cur) in ppm (integer
    floor division — exact in both engines) plus each state's ranked
    next states — the "what does a user do after X" model behind
    next-action prediction and funnel repair. The ranking window
    partitions by cur_state over the |states|² post-aggregate matrix,
    never the event fact."""
    ev = t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur_state"),
        F.lead("event_type").over(w).alias("next_state"),
    ).filter(F.col("next_state").isNotNull())
    cnt = seq.groupBy("cur_state", "next_state").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    tot = cnt.groupBy("cur_state").agg(F.sum("n_trans").alias("row_total"))
    wr = Window.partitionBy("cur_state").orderBy(
        F.desc("n_trans"), F.asc("next_state")
    )
    return (
        cnt.join(tot, "cur_state")
        .select(
            "cur_state",
            "next_state",
            "n_trans",
            F.expr("CAST((1000000 * n_trans) div row_total AS BIGINT)").alias(
                "p_ppm"
            ),
            F.row_number().over(wr).cast("bigint").alias("rk"),
        )
    )


# --------------------------------------------------------------------------
# chi-square independence
# --------------------------------------------------------------------------


@query(
    "op-ext-chisq",
    oracle="""
    WITH o AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
                      CAST(COUNT(*) AS BIGINT) AS obs
               FROM customer GROUP BY 1, 2),
    r AS (SELECT seg, CAST(SUM(obs) AS BIGINT) AS rt FROM o GROUP BY 1),
    c AS (SELECT nat, CAST(SUM(obs) AS BIGINT) AS ct FROM o GROUP BY 1),
    nn AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
    cells AS (
      SELECT o.obs * nn.n - r.rt * c.ct AS delta, r.rt, c.ct, nn.n
      FROM o JOIN r USING (seg) JOIN c USING (nat) CROSS JOIN nn
    )
    SELECT (SELECT n FROM nn) AS n_obs,
           (SELECT CAST((COUNT(DISTINCT seg) - 1)
                        * (COUNT(DISTINCT nat) - 1) AS BIGINT) FROM o)
             AS dof,
           CAST(SUM(CAST(floor(((CAST(delta AS DOUBLE) * CAST(delta AS DOUBLE))
                   / ((CAST(n AS DOUBLE) * CAST(rt AS DOUBLE))
                      * CAST(ct AS DOUBLE))) * 1000000.0) AS BIGINT))
                AS BIGINT) AS chi2_x1e6
    FROM cells
    """,
)
def op_ext_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between market segment and nation
    (the categorical-drift / association screen, same family as
    op-ext-abtest-ztest): χ²·10⁶ computed per cell as
    floor(((delta·delta)/((N·R)·C))·10⁶) where delta = O·N − R·C —
    exact int64 inputs, a FIXED parenthesized chain of IEEE ops
    (identical rounding in every engine), floored to int64 BEFORE the
    sum so the final aggregation is exact integer addition
    (order-independent). One groupBy over the dim + two marginal
    rollups of the |seg|×|nat| cell frame."""
    cust = t(spark, sf_dir, "customer")
    o = cust.groupBy(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    r = o.groupBy("seg").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("nat").agg(F.sum("obs").alias("ct"))
    nn = o.agg(F.sum("obs").alias("n"))
    cells = o.join(r, "seg").join(c, "nat").crossJoin(F.broadcast(nn))
    contrib = F.expr(
        "CAST(floor(((CAST(obs * n - rt * ct AS DOUBLE)"
        " * CAST(obs * n - rt * ct AS DOUBLE))"
        " / ((CAST(n AS DOUBLE) * CAST(rt AS DOUBLE))"
        " * CAST(ct AS DOUBLE))) * 1000000.0D) AS BIGINT)"
    )
    dims = o.agg(
        F.expr(
            "CAST((COUNT(DISTINCT seg) - 1) * (COUNT(DISTINCT nat) - 1)"
            " AS BIGINT)"
        ).alias("dof")
    )
    return (
        nn.select(F.col("n").alias("n_obs"))
        .crossJoin(dims)
        .crossJoin(
            cells.agg(F.sum(contrib).cast("bigint").alias("chi2_x1e6"))
        )
    )


#: V = sqrt((χ²) / (N · min(r−1, c−1))) over the exact-int χ²·10⁶ —
#: shared verbatim with the oracle (one divide + sqrt, IEEE-identical).
_CRAMERS_V = (
    "sqrt((CAST(chi2_x1e6 AS DOUBLE) / CAST(1000000 AS DOUBLE))"
    " / (CAST(n_obs AS DOUBLE) * CAST(minrc AS DOUBLE)))"
)


@query(
    "op-ext-cramers-v",
    oracle=f"""
    WITH o AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
                      CAST(COUNT(*) AS BIGINT) AS obs
               FROM customer GROUP BY 1, 2),
    r AS (SELECT seg, CAST(SUM(obs) AS BIGINT) AS rt FROM o GROUP BY 1),
    c AS (SELECT nat, CAST(SUM(obs) AS BIGINT) AS ct FROM o GROUP BY 1),
    nn AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
    cells AS (
      SELECT o.obs * nn.n - r.rt * c.ct AS delta, r.rt, c.ct, nn.n
      FROM o JOIN r USING (seg) JOIN c USING (nat) CROSS JOIN nn
    ),
    stat AS (
      SELECT (SELECT n FROM nn) AS n_obs,
             (SELECT CAST(LEAST(COUNT(DISTINCT seg) - 1,
                                COUNT(DISTINCT nat) - 1) AS BIGINT) FROM o)
               AS minrc,
             CAST(SUM(CAST(floor(((CAST(delta AS DOUBLE)
                     * CAST(delta AS DOUBLE))
                     / ((CAST(n AS DOUBLE) * CAST(rt AS DOUBLE))
                        * CAST(ct AS DOUBLE))) * 1000000.0) AS BIGINT))
                  AS BIGINT) AS chi2_x1e6
      FROM cells
    )
    SELECT n_obs, minrc, chi2_x1e6, {_CRAMERS_V} AS cramers_v
    FROM stat
    """,
)
def op_ext_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the segment×nation association —
    the [0, 1]-normalized companion to op-ext-chisq (a huge-N χ² is
    always "significant"; V says whether the association is MATERIAL,
    which is what a drift monitor should alert on). Same exact-int
    contingency machinery as chisq (per-cell contributions floored to
    int64 before the order-independent integer sum); the one new float
    step — divide by N·min(r−1, c−1), then sqrt — is shared verbatim
    with the oracle (_CRAMERS_V)."""
    cust = t(spark, sf_dir, "customer")
    o = cust.groupBy(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    r = o.groupBy("seg").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("nat").agg(F.sum("obs").alias("ct"))
    nn = o.agg(F.sum("obs").alias("n"))
    cells = o.join(r, "seg").join(c, "nat").crossJoin(F.broadcast(nn))
    contrib = F.expr(
        "CAST(floor(((CAST(obs * n - rt * ct AS DOUBLE)"
        " * CAST(obs * n - rt * ct AS DOUBLE))"
        " / ((CAST(n AS DOUBLE) * CAST(rt AS DOUBLE))"
        " * CAST(ct AS DOUBLE))) * 1000000.0D) AS BIGINT)"
    )
    dims = o.agg(
        F.expr(
            "CAST(LEAST(COUNT(DISTINCT seg) - 1, COUNT(DISTINCT nat) - 1)"
            " AS BIGINT)"
        ).alias("minrc")
    )
    return (
        nn.select(F.col("n").alias("n_obs"))
        .crossJoin(dims)
        .crossJoin(
            cells.agg(F.sum(contrib).cast("bigint").alias("chi2_x1e6"))
        )
        .selectExpr("n_obs", "minrc", "chi2_x1e6", f"{_CRAMERS_V} AS cramers_v")
    )


# --------------------------------------------------------------------------
# seasonal (day-of-week) anomaly screen
# --------------------------------------------------------------------------


@query(
    "op-ext-seasonal-anomaly",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM({ex.money('o_totalprice')} * 100) AS BIGINT)
               AS day_cents
      FROM orders GROUP BY 1
    ),
    dw AS (
      SELECT d, day_cents,
             date_diff('day', TIMESTAMP '1970-01-05', d) % 7 AS dow
      FROM daily
    ),
    m AS (
      SELECT d, day_cents, dow,
             CAST(SUM(day_cents) OVER (PARTITION BY dow) AS BIGINT)
               // CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT)
               AS dow_mean_cents
      FROM dw
    ),
    res AS (
      SELECT *, day_cents - dow_mean_cents AS residual_cents FROM m
    )
    SELECT strftime(d, '%Y-%m-%d') AS order_day, dow, day_cents,
           dow_mean_cents, residual_cents,
           abs(residual_cents)
             > 2 * (CAST(SUM(abs(residual_cents)) OVER (PARTITION BY dow)
                         AS BIGINT)
                    // CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT))
             AS is_anomaly
    FROM res
    """,
)
def op_ext_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly screen on daily revenue: the day-of-week profile
    is the baseline (mean cents per weekday, exact floor division), a
    day is anomalous when its |residual| exceeds 2× the weekday's mean
    absolute deviation — the additive-seasonality outlier rule, all in
    exact integer cents. Weekday derives from epoch-day arithmetic
    (days since Monday 1970-01-05, mod 7) — identical in every engine,
    no locale/DOW-convention trap (ref op-fn-extract's Postgres-DOW
    note). Two cascaded windows over the SAME dow partitioning — one
    shuffle of the |days| aggregate frame, never raw orders."""
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.expr(ex.sum_cents("o_totalprice")).alias("day_cents"))
    )
    dw = daily.withColumn(
        "dow",
        (F.datediff("d", F.lit("1970-01-05")) % 7).cast("bigint"),
    )
    wd = Window.partitionBy("dow")
    m = dw.select(
        "d",
        "day_cents",
        "dow",
        F.expr(
            "CAST(sum(day_cents) OVER (PARTITION BY dow) AS BIGINT)"
            " div CAST(count(1) OVER (PARTITION BY dow) AS BIGINT)"
        ).alias("dow_mean_cents"),
    ).withColumn(
        "residual_cents", F.col("day_cents") - F.col("dow_mean_cents")
    )
    return m.select(
        F.date_format("d", "yyyy-MM-dd").alias("order_day"),
        "dow",
        "day_cents",
        "dow_mean_cents",
        "residual_cents",
        (
            F.abs(F.col("residual_cents"))
            > 2
            * F.expr(
                "CAST(sum(abs(residual_cents)) OVER (PARTITION BY dow)"
                " AS BIGINT)"
                " div CAST(count(1) OVER (PARTITION BY dow) AS BIGINT)"
            )
        ).alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# deterministic weighted priority sample
# --------------------------------------------------------------------------

#: content-addressed uniform of the priority sample (first 8 hex digits)
_PS_H = ex.salted_md5("ps:", "c_custkey")


@query(
    "op-ext-priority-sample",
    oracle=f"""
    SELECT c_custkey,
           {ex.cents('c_acctbal')} + 100001
             AS weight_cents,
           CAST(({ex.hex_int_oracle(_PS_H, 1, 8)} * 1000000)
                // ({ex.cents('c_acctbal')} + 100001) AS BIGINT) AS priority
    FROM customer
    ORDER BY priority ASC, c_custkey ASC
    LIMIT 100
    """,
)
def op_ext_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sample, k=100 (the
    Efraimidis–Spirakis weighted-reservoir shape with an integer
    priority key: uniform32(md5(key))·10⁶ div weight — heavier rows
    draw systematically smaller priorities, so ascending top-k is a
    weight-biased sample that is a PURE FUNCTION of the key set:
    stable across reruns, engines, partitionings; the same property as
    op-ext-hash-split, extended to weighted selection). Plans as
    TakeOrderedAndProject — per-partition top-k, no global sort, no
    single-partition exchange; the reservoir merges associatively at
    100 TB exactly like any top-k."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.expr(ex.cents("c_acctbal")) + F.lit(100001)).alias("weight_cents"),
    )
    pri = cust.withColumn(
        "priority",
        F.expr(f"({ex.hex_int(_PS_H, 1, 8)} * 1000000) div weight_cents"),
    )
    return pri.orderBy(F.asc("priority"), F.asc("c_custkey")).limit(100)


# --------------------------------------------------------------------------
# exact CUSUM control statistic
# --------------------------------------------------------------------------


@query(
    "op-ext-cusum",
    oracle=f"""
    WITH daily AS (
      SELECT l_returnflag AS flag, l_shipdate AS d,
             CAST(SUM({ex.money('l_extendedprice')} * 100)
                  AS BIGINT) AS day_cents
      FROM lineitem GROUP BY 1, 2
    ),
    m AS (
      SELECT flag, d, day_cents,
             CAST(SUM(day_cents) OVER (PARTITION BY flag) AS BIGINT)
               // CAST(COUNT(*) OVER (PARTITION BY flag) AS BIGINT)
               AS mean_cents
      FROM daily
    ),
    p AS (
      SELECT flag, d, day_cents,
             SUM(day_cents - mean_cents)
               OVER (PARTITION BY flag ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pre
      FROM m
    )
    SELECT flag AS l_returnflag, strftime(d, '%Y-%m-%d') AS ship_day,
           day_cents,
           CAST(pre - LEAST(MIN(pre) OVER (PARTITION BY flag ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                AS BIGINT) AS cusum_cents
    FROM p
    """,
)
def op_ext_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT CUSUM control statistic (Page 1954) on daily revenue per
    return flag: S_i = max(0, S_{i-1} + (x_i − target)) with target =
    the series mean. The recurrence looks sequential (op-ext-ewma needs
    a pandas recurrence for its float chain) but over EXACT INTEGERS it
    has the closed form S_i = P_i − min(0, min_{j≤i} P_j) with P the
    running sum of deviations — so it windows: one running sum + one
    running min over the same (flag, date) ordering, incremental
    frames only (never the O(n²) UNBOUNDED FOLLOWING trap,
    BASELINE.md skyline note). Oracle-exact because every value is an
    integer cent. Spike detection = thresholding cusum_cents
    downstream."""
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_shipdate").alias("d"),
    ).agg(F.expr(ex.sum_cents("l_extendedprice")).alias("day_cents"))
    m = daily.select(
        "flag",
        "d",
        "day_cents",
        F.expr(
            "CAST(sum(day_cents) OVER (PARTITION BY flag) AS BIGINT)"
            " div CAST(count(1) OVER (PARTITION BY flag) AS BIGINT)"
        ).alias("mean_cents"),
    )
    wrun = (
        Window.partitionBy("flag")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = m.withColumn(
        "pre", F.sum(F.col("day_cents") - F.col("mean_cents")).over(wrun)
    )
    return p.select(
        F.col("flag").alias("l_returnflag"),
        F.date_format("d", "yyyy-MM-dd").alias("ship_day"),
        "day_cents",
        (
            F.col("pre")
            - F.least(F.min("pre").over(wrun), F.lit(0).cast("bigint"))
        )
        .cast("bigint")
        .alias("cusum_cents"),
    )


# --------------------------------------------------------------------------
# local clustering coefficient
# --------------------------------------------------------------------------


@query(
    "op-ext-clustering-coef",
    oracle="""
    WITH e AS (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                      greatest(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e)
            GROUP BY 1),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
    ),
    pertri AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM (SELECT a AS node FROM tri UNION ALL
            SELECT b FROM tri UNION ALL SELECT c FROM tri)
      GROUP BY 1
    )
    SELECT d.node AS part_key, d.d AS degree,
           COALESCE(p.n_tri, 0) AS n_triangles,
           CAST((2000000 * COALESCE(p.n_tri, 0)) // (d.d * (d.d - 1))
                AS BIGINT) AS coef_ppm
    FROM deg d LEFT JOIN pertri p ON d.node = p.node
    WHERE d.d >= 10
    ORDER BY coef_ppm DESC, part_key ASC
    LIMIT 20
    """,
)
def op_ext_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (Watts–Strogatz) of the part
    co-purchase graph: per node, triangles ÷ C(deg, 2) in fixed-point
    ppm — "how clique-ish is this part's neighborhood", the community
    screen that complements op-ext-triangle-count's global census.
    Per-node counts reuse graph.oriented_triangles (each triangle found
    once at its pivot, then credited to all 3 corners by one 3-way
    union over the PINNED triangle frame — no per-corner re-derivation,
    no second orientation pipeline), so the O(m^1.5) wedge bound holds
    here too. Top-20 by coefficient via TakeOrderedAndProject; degree
    floor 10 keeps C(deg,2) meaningful."""
    from data_warehousing_assignment_spark.operators.graph import (
        clustering_coefficient_top,
    )

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return clustering_coefficient_top(
        part_copurchase_edges(li), min_degree=10, k=20
    )


# --------------------------------------------------------------------------
# marketing attribution (first/last touch)
# --------------------------------------------------------------------------


@query(
    "op-ext-attribution",
    oracle="""
    WITH v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS v_us
               FROM events WHERE event_type = 'view'),
    p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
          FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT p.purchase_id, p.user_id, v.view_id, v.v_us,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY v.v_us ASC, v.view_id ASC) AS rnf,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY v.v_us DESC, v.view_id DESC) AS rnl
      FROM p JOIN v ON p.user_id = v.user_id
                   AND v.v_us < p.p_us
                   AND v.v_us >= p.p_us - 3600000000
    ),
    agg AS (
      SELECT purchase_id,
             MAX(CASE WHEN rnf = 1 THEN view_id END) AS first_touch_view,
             MAX(CASE WHEN rnl = 1 THEN view_id END) AS last_touch_view,
             CAST(COUNT(*) AS BIGINT) AS n_views_window
      FROM j GROUP BY 1
    )
    SELECT p.purchase_id, p.user_id,
           a.first_touch_view, a.last_touch_view,
           COALESCE(a.n_views_window, 0) AS n_views_window
    FROM p LEFT JOIN agg a ON p.purchase_id = a.purchase_id
    """,
)
def op_ext_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch marketing attribution: every purchase
    credits the FIRST and LAST view by the same user within the
    preceding hour — the two canonical attribution models, answered in
    one pass (the multi-touch generalization divides credit across the
    same joined frame). One user-keyed equi-join with the time window
    as a residual predicate (the op-ext-stream-join shape, so the
    streaming twin is watermark-bounded), then purchase-partitioned
    ranking windows; purchases with no qualifying view keep NULL
    touches rather than vanishing — the funnel's dark-traffic share.
    At 100 TB everything is partitioned by user/purchase — no global
    ordering anywhere."""
    ev = t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts_us").alias("v_us"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("p_us"),
    )
    j = p.join(
        v,
        (p["user_id"] == v["v_user"])
        & (v["v_us"] < p["p_us"])
        & (v["v_us"] >= p["p_us"] - 3600000000),
    )
    wf = Window.partitionBy("purchase_id").orderBy(
        F.asc("v_us"), F.asc("view_id")
    )
    wl = Window.partitionBy("purchase_id").orderBy(
        F.desc("v_us"), F.desc("view_id")
    )
    agg = (
        j.withColumn("rnf", F.row_number().over(wf))
        .withColumn("rnl", F.row_number().over(wl))
        .groupBy("purchase_id")
        .agg(
            F.max(F.when(F.col("rnf") == 1, F.col("view_id"))).alias(
                "first_touch_view"
            ),
            F.max(F.when(F.col("rnl") == 1, F.col("view_id"))).alias(
                "last_touch_view"
            ),
            F.count(F.lit(1)).alias("n_views_window"),
        )
    )
    return p.join(agg, "purchase_id", "left").select(
        "purchase_id",
        "user_id",
        "first_touch_view",
        "last_touch_view",
        F.coalesce("n_views_window", F.lit(0)).alias("n_views_window"),
    )


# --------------------------------------------------------------------------
# exact interpolated percentile (percentile_cont)
# --------------------------------------------------------------------------


@query(
    "op-ext-percentile-cont",
    oracle=f"""
    WITH c AS (
      SELECT l_returnflag AS flag,
             {ex.cents('l_extendedprice')}
               AS cents,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY {ex.cents('l_extendedprice')},
                                  l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    k AS (
      SELECT flag, n,
             (9 * (n - 1)) // 10 AS k0,
             (9 * (n - 1)) % 10 AS frac10
      FROM (SELECT DISTINCT flag, n FROM c)
    )
    SELECT c.flag AS l_returnflag, CAST(k.n AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN c.rn = k.k0 + 1
                         THEN (10 - k.frac10) * c.cents
                         WHEN c.rn = k.k0 + 2 AND k.frac10 > 0
                         THEN k.frac10 * c.cents
                         ELSE 0 END) AS BIGINT) AS p90_cents_x10
    FROM c JOIN k ON c.flag = k.flag
    WHERE c.rn BETWEEN k.k0 + 1 AND k.k0 + 2
    GROUP BY 1, 2
    """,
)
def op_ext_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ANSI percentile_cont(0.9) per return flag in fixed-point:
    the interpolated index 0.9·(n−1) splits into integer part k₀ and
    tenths remainder, so the interpolated value ×10 is
    (10−frac)·x[k₀] + frac·x[k₀+1] — pure int64 arithmetic, engine-
    exact, where float interpolation differs in the last ulp.
    op-ext-approx-quantile remains the sketch path, but this exact
    anchor is now DISTRIBUTED too: the order statistics come from the
    grouped two-level prefix sum over the distinct (flag, cents) frame
    (an.distributed_prefix with groups=[flag] — row index i falls in
    the tie group where cum−ct < i ≤ cum), so no per-flag sort ever
    serializes a flag's rows through one task. A tie group containing
    both x[k₀] and x[k₀+1] contributes (10−f)·c + f·c = 10c, matching
    the oracle's per-row formulation exactly."""
    from data_warehousing_assignment_spark.operators import analytics as an

    li = t(spark, sf_dir, "lineitem")
    cents = F.expr(ex.cents("l_extendedprice"))
    d = (
        li.select(F.col("l_returnflag").alias("flag"), cents.alias("cents"))
        .groupBy("flag", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    pre = an.distributed_prefix(d, "cents", ["ct"], groups=["flag"])
    k = (
        d.groupBy("flag")
        .agg(F.sum("ct").cast("bigint").alias("n"))
        .select(
            "flag",
            "n",
            F.expr("(9 * (n - 1)) div 10").alias("k0"),
            F.expr("(9 * (n - 1)) % 10").alias("frac10"),
        )
    )
    j = pre.join(F.broadcast(k), "flag")
    lo_hit = (F.col("cum_ct") - F.col("ct") < F.col("k0") + 1) & (
        F.col("k0") + 1 <= F.col("cum_ct")
    )
    hi_hit = (
        (F.col("frac10") > 0)
        & (F.col("cum_ct") - F.col("ct") < F.col("k0") + 2)
        & (F.col("k0") + 2 <= F.col("cum_ct"))
    )
    return (
        j.filter(lo_hit | hi_hit)
        .groupBy("flag", "n")
        .agg(
            F.sum(
                F.when(lo_hit, (10 - F.col("frac10")) * F.col("cents"))
                .otherwise(0)
                + F.when(hi_hit, F.col("frac10") * F.col("cents"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("p90_cents_x10")
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            F.col("n").cast("bigint").alias("n_rows"),
            "p90_cents_x10",
        )
    )


# --------------------------------------------------------------------------
# KMV distinct-count sketch with union merge
# --------------------------------------------------------------------------

_KMV_K = 64
_KMV_M = 16 ** 15  # hash space: 15 hex nibbles = 60 bits (stays in int64)
_KMV_H = ex.salted_md5("kmv:", "o_custkey")


@query(
    "op-ext-kmv-sketch",
    oracle=f"""
    WITH src AS (
      SELECT DISTINCT c.c_mktsegment AS seg, o.o_custkey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    h AS (SELECT seg, o_custkey, {ex.hex_int_oracle(_KMV_H, 1, 15)} AS hv FROM src),
    keep AS (
      SELECT seg, hv,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY hv) AS rn
      FROM h
    ),
    sk AS (SELECT seg, hv, rn FROM keep WHERE rn <= {_KMV_K}),
    uni AS (
      SELECT 'UNION' AS seg, hv,
             ROW_NUMBER() OVER (ORDER BY hv) AS rn
      FROM (SELECT DISTINCT hv FROM sk)
    ),
    allk AS (
      SELECT seg, hv, rn FROM sk
      UNION ALL
      SELECT seg, hv, rn FROM uni WHERE rn <= {_KMV_K}
    ),
    est AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(MAX(hv) AS BIGINT) AS theta
      FROM allk GROUP BY 1
    ),
    truth AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS true_distinct FROM src
      GROUP BY 1
      UNION ALL
      SELECT 'UNION', CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM src
    )
    SELECT e.seg, t.true_distinct, e.n_kept,
           CAST(CASE WHEN e.n_kept < {_KMV_K} THEN e.n_kept
                ELSE ((e.n_kept - 1) * CAST({_KMV_M} AS HUGEINT))
                     // e.theta END AS BIGINT) AS kmv_est
    FROM est e JOIN truth t ON e.seg = t.seg
    """,
)
def op_ext_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
    2002; the theta-sketch core): keep the k=64 smallest md5-derived
    60-bit hashes of each segment's customer set; estimate distincts as
    (k−1)·M/θ with θ = the k-th minimum. The crucial property next to
    op-ext-approx-count-distinct's opaque HLL: KMV sketches MERGE by
    set-union-then-retruncate — shown in-query by fusing the BUILDING
    and MACHINERY sketches into the UNION row WITHOUT rescanning the
    base data (DISTINCT over the two 64-hash sets) — and intersections
    follow the same algebra, which HLL cannot do. Deterministic md5
    slots ⇒ sketch AND estimate are engine-exact (an exact oracle for
    an approximate structure, same move as op-ext-cms); small sets
    (n_kept < k) return their exact count. Sketch frames are ≤ k rows
    per group — metadata-sized at any scale."""
    o = t(spark, sf_dir, "orders").select("o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    src = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .distinct()
    )
    h = src.select("seg", "o_custkey", F.expr(ex.hex_int(_KMV_H, 1, 15)).alias("hv"))
    wseg = Window.partitionBy("seg").orderBy("hv")
    sk = (
        h.withColumn("rn", F.row_number().over(wseg))
        .filter(F.col("rn") <= _KMV_K)
        .select("seg", "hv", "rn")
    )
    wuni = Window.orderBy("hv")
    uni = (
        sk.select("hv")
        .distinct()
        .withColumn("rn", F.row_number().over(wuni))
        .filter(F.col("rn") <= _KMV_K)
        .select(F.lit("UNION").alias("seg"), "hv", "rn")
    )
    allk = sk.unionByName(uni)
    est = allk.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("hv").alias("theta")
    )
    truth = (
        src.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("true_distinct"))
        .unionByName(
            src.agg(
                F.countDistinct("o_custkey").alias("true_distinct")
            ).select(F.lit("UNION").alias("seg"), "true_distinct")
        )
    )
    kmv = F.when(F.col("n_kept") < _KMV_K, F.col("n_kept")).otherwise(
        F.expr(
            f"CAST((CAST(n_kept - 1 AS DECIMAL(38,0))"
            f" * CAST({_KMV_M} AS DECIMAL(38,0))"
            f" - ((CAST(n_kept - 1 AS DECIMAL(38,0))"
            f"     * CAST({_KMV_M} AS DECIMAL(38,0))) % theta))"
            f" / theta AS BIGINT)"
        )
    )
    return est.join(truth, "seg").select(
        "seg", "true_distinct", "n_kept", kmv.cast("bigint").alias("kmv_est")
    )


# --------------------------------------------------------------------------
# decile lift / gains table
# --------------------------------------------------------------------------


@query(
    "op-ext-decile-lift",
    oracle=f"""
    WITH resp AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE year(o_orderdate) = 1997
    ),
    scored AS (
      SELECT c.c_custkey,
             CASE WHEN r.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS responded,
             NTILE(10) OVER (ORDER BY
               {ex.cents('c.c_acctbal')} DESC,
               c.c_custkey) AS decile
      FROM customer c LEFT JOIN resp r ON c.c_custkey = r.o_custkey
    ),
    d AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(responded) AS BIGINT) AS responders
      FROM scored GROUP BY 1
    ),
    cum AS (
      SELECT decile, n, responders,
             CAST(SUM(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
             CAST(SUM(responders) OVER (ORDER BY decile) AS BIGINT)
               AS cum_resp,
             CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
             CAST(SUM(responders) OVER () AS BIGINT) AS tot_resp
      FROM d
    )
    SELECT CAST(decile AS BIGINT) AS decile, n, responders,
           CAST((1000000 * responders) // n AS BIGINT) AS response_ppm,
           CAST((1000000 * cum_resp * tot_n) // (cum_n * tot_resp)
                AS BIGINT) AS cum_lift_ppm
    FROM cum
    """,
)
def op_ext_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains table — THE model-evaluation artifact a
    marketing warehouse produces (rank by score, bucket into deciles,
    read cumulative lift): customers scored by account balance,
    response = ordered in 1997. response rate and cumulative lift are
    fixed-point ppm over exact counts. The decile assignment is
    an.distributed_ntile (two-level prefix-sum rank + exact NTILE
    remainder arithmetic — no global window even at fact-scale scored
    populations); the cumulative windows run over the 10-row decile
    frame only."""
    resp = (
        t(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1997)
        .select("o_custkey")
        .distinct()
        .withColumn("_r", F.lit(1))
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(ex.cents("c_acctbal")).alias("bal"),
    )
    joined = cust.join(
        resp, cust["c_custkey"] == resp["o_custkey"], "left"
    ).select(
        "c_custkey",
        "bal",
        F.coalesce("_r", F.lit(0)).alias("responded"),
    )
    scored = an.distributed_ntile(
        joined, "bal", "c_custkey", 10, descending=True
    ).withColumnRenamed("ntile", "decile")
    d = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("responded").cast("bigint").alias("responders"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        d.withColumn("cum_n", F.sum("n").over(wcum))
        .withColumn("cum_resp", F.sum("responders").over(wcum))
        .withColumn("tot_n", F.sum("n").over(wall))
        .withColumn("tot_resp", F.sum("responders").over(wall))
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            "n",
            "responders",
            F.expr("CAST((1000000 * responders) div n AS BIGINT)").alias(
                "response_ppm"
            ),
            F.expr(
                "CAST((1000000 * cum_resp * tot_n) div (cum_n * tot_resp)"
                " AS BIGINT)"
            ).alias("cum_lift_ppm"),
        )
    )


# --------------------------------------------------------------------------
# life table (discrete-time survival)
# --------------------------------------------------------------------------


@query(
    "op-ext-lifetable",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
    cust AS (
      SELECT o_custkey,
             date_diff('month', MIN(o_orderdate), MAX(o_orderdate))
               AS tenure_m,
             date_diff('month', MAX(o_orderdate), (SELECT mxd FROM mx)) > 6
               AS churned
      FROM orders GROUP BY 1
    ),
    d AS (
      SELECT tenure_m,
             CAST(COUNT(*) AS BIGINT) AS n_ending,
             CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
               AS deaths
      FROM cust GROUP BY 1
    ),
    lt AS (
      SELECT tenure_m, n_ending, deaths,
             CAST(SUM(n_ending) OVER (ORDER BY tenure_m DESC) AS BIGINT)
               AS at_risk
      FROM d
    )
    SELECT CAST(tenure_m AS BIGINT) AS tenure_m, n_ending, deaths, at_risk,
           CAST((1000000 * deaths) // at_risk AS BIGINT) AS hazard_ppm
    FROM lt
    """,
)
def op_ext_lifetable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time life table (the actuarial/Kaplan-Meier counting
    layer, log-free): customer tenure in months from first to last
    order, "churn" = last order >6 months before the corpus horizon
    (later customers are right-CENSORED — counted at risk, never as
    deaths: the distinction every naive churn query gets wrong).
    at_risk(k) = Σ_{t≥k} ending(t) via one reverse running sum over the
    POST-AGGREGATE tenure frame (≤ months-span rows — the
    single-ordering window is dim-bounded, op-ext-ntile's sanction);
    hazard is fixed-point ppm. The KM survival curve is the running
    product of (1 − hazard) — a float fold done downstream, outside
    the engine-exact boundary."""
    o = t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("mxd"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("fo"),
            F.max("o_orderdate").alias("lo"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.months_between(
                F.date_trunc("month", "lo"), F.date_trunc("month", "fo")
            )
            .cast("bigint")
            .alias("tenure_m"),
            (
                F.months_between(
                    F.date_trunc("month", "mxd"), F.date_trunc("month", "lo")
                ).cast("bigint")
                > 6
            ).alias("churned"),
        )
    )
    d = cust.groupBy("tenure_m").agg(
        F.count(F.lit(1)).alias("n_ending"),
        F.sum(F.when(F.col("churned"), 1).otherwise(0))
        .cast("bigint")
        .alias("deaths"),
    )
    wrev = Window.orderBy(F.desc("tenure_m")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        d.withColumn("at_risk", F.sum("n_ending").over(wrev).cast("bigint"))
        .select(
            F.col("tenure_m").cast("bigint").alias("tenure_m"),
            "n_ending",
            "deaths",
            "at_risk",
            F.expr("CAST((1000000 * deaths) div at_risk AS BIGINT)").alias(
                "hazard_ppm"
            ),
        )
    )


# --------------------------------------------------------------------------
# item-item similarity ("people also bought")
# --------------------------------------------------------------------------


@query(
    "op-ext-item-sim",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cnt AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
            FROM li GROUP BY 1),
    co AS (
      SELECT a.l_partkey AS i, b.l_partkey AS j,
             CAST(COUNT(*) AS BIGINT) AS co_n
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT i, j, co_n FROM co
      UNION ALL
      SELECT j, i, co_n FROM co
    ),
    scored AS (
      SELECT s.i AS part_key, s.j AS similar_part, s.co_n,
             CAST((1000000 * s.co_n * s.co_n) // (ci.c * cj.c) AS BIGINT)
               AS cos2_ppm
      FROM sym s JOIN cnt ci ON s.i = ci.l_partkey
                 JOIN cnt cj ON s.j = cj.l_partkey
      WHERE ci.c >= 20 AND s.co_n >= 3
    )
    SELECT part_key, similar_part, co_n, cos2_ppm
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY part_key
                               ORDER BY cos2_ppm DESC, similar_part) <= 5
    """,
)
def op_ext_item_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering ("customers who bought X also
    bought…", Amazon's classic): parts scored by co-purchase cosine —
    ranked by the SQUARED cosine co²/(c_i·c_j) in exact fixed-point
    ppm, which orders identically to cosine (both sides nonneg) and
    needs no cross-engine sqrt. Support floors (anchor count ≥ 20,
    co-count ≥ 3) prune the long noise tail BEFORE the per-part top-5
    ranking window, which carries WindowGroupLimit pushdown. The
    co-occurrence build is the order-keyed pair join (fan-out per
    order is a data constant — op-ext-copurchase's scale argument);
    nothing is ever all-pairs over the catalog."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = li.alias("a")
    b = li.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("i"), F.col("b.l_partkey").alias("j")
        )
        .agg(F.count(F.lit(1)).alias("co_n"))
    )
    sym = co.unionByName(
        co.select(
            F.col("j").alias("i"), F.col("i").alias("j"), "co_n"
        )
    )
    ci = cnt.select(F.col("l_partkey").alias("i"), F.col("c").alias("ci"))
    cj = cnt.select(F.col("l_partkey").alias("j"), F.col("c").alias("cj"))
    scored = (
        sym.join(ci, "i")
        .join(cj, "j")
        .filter((F.col("ci") >= 20) & (F.col("co_n") >= 3))
        .select(
            F.col("i").alias("part_key"),
            F.col("j").alias("similar_part"),
            "co_n",
            F.expr(
                "CAST((1000000 * co_n * co_n) div (ci * cj) AS BIGINT)"
            ).alias("cos2_ppm"),
        )
    )
    w = Window.partitionBy("part_key").orderBy(
        F.desc("cos2_ppm"), F.asc("similar_part")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# k-core decomposition
# --------------------------------------------------------------------------


#: the k of op-ext-kcore, shared by its engine build and its oracle
_KCORE_K = 3


def _kcore_oracle() -> str:
    """Bounded-unroll DuckDB twin of the k-core peel: round i+1 keeps
    edges whose BOTH endpoints have induced degree ≥ k in round i's
    edge set. A shrinking fixpoint fits no recursive CTE (UNION ALL
    only grows), but a fixed unroll works because peeling is monotone
    and idempotent at the fixpoint — any unroll ≥ the convergence
    depth computes the exact core. 8 rounds carries 8× margin over the
    measured depth on this graph (the co-purchase graph is already a
    3-core at sf0.001/0.01/0.1 — the first peel removes nothing;
    k near the mean degree peels to empty in ≤7 rounds, r9 probe). A
    corpus needing deeper peeling would under-peel the oracle and
    hash-FAIL loudly against Spark's run-to-fixpoint loop — the safe
    failure direction."""
    # every CTE MATERIALIZED: each round references its predecessor 3×,
    # so inlining would expand e0 3^rounds times (observed as DuckDB
    # opening the parquet until fd exhaustion); materialization makes
    # the cascade linear — exactly like the Spark loop's localCheckpoint
    k, rounds = _KCORE_K, 8
    parts = ["""e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""]
    for i in range(rounds):
        parts.append(f"""n{i} AS MATERIALIZED (
      SELECT n FROM (SELECT u AS n FROM e{i} UNION ALL SELECT v FROM e{i})
      GROUP BY n HAVING COUNT(*) >= {k}
    )""")
        parts.append(f"""e{i + 1} AS MATERIALIZED (
      SELECT u, v FROM e{i}
      WHERE u IN (SELECT n FROM n{i}) AND v IN (SELECT n FROM n{i})
    )""")
    return f"""
    WITH {', '.join(parts)}
    SELECT n AS part_key, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT u AS n FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
    GROUP BY n HAVING COUNT(*) >= {k}
    """


@query("op-ext-kcore", oracle=_kcore_oracle())
def op_ext_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-purchase graph (Seidman 1983): the maximal
    subgraph where every part co-occurs with ≥3 other in-core parts —
    the density screen that separates structural community members
    from incidental co-purchases (coarser than op-ext-clustering-coef,
    linear instead of O(m^1.5)). graph.k_core peels by the standard
    degree fixpoint — one semi-join + one degree agg per round, rounds
    bounded by degeneracy depth. Oracle-backed since r9 (verdict #5):
    the peel unrolls to a bounded cascade of filter rounds in plain SQL
    (_kcore_oracle — exact because unroll depth ≥ convergence depth),
    so the full (node, in-core degree) frame is hash-provable;
    semantics additionally pinned in tests/test_graph.py by a python
    peel replay at sf0.001 (exact surviving-node-set equality)."""
    from data_warehousing_assignment_spark.operators.graph import (
        k_core,
        part_copurchase_edges,
    )

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = part_copurchase_edges(li)
    return k_core(edges, k=_KCORE_K).select(
        F.col("n").alias("part_key"), F.col("d").alias("core_degree")
    )


# --------------------------------------------------------------------------
# linear multi-touch attribution credit
# --------------------------------------------------------------------------


@query(
    "op-ext-multitouch",
    oracle="""
    WITH v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS v_us
               FROM events WHERE event_type = 'view'),
    p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us,
                 value FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT p.purchase_id, v.view_id,
             CAST(COUNT(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
               AS n_touches
      FROM p JOIN v ON p.user_id = v.user_id
                   AND v.v_us < p.p_us
                   AND v.v_us >= p.p_us - 3600000000
    )
    SELECT view_id,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM((1000000 // n_touches)) AS BIGINT) AS credit_ppm
    FROM j GROUP BY 1
    """,
)
def op_ext_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — each purchase splits one unit
    of credit EQUALLY across all views in its preceding hour
    (1e6 div n_touches ppm per touch, exact integers), aggregated per
    view: the fair-share complement to op-ext-attribution's
    first/last-touch extremes, and the degenerate (uniform-weight)
    case of Shapley-value attribution. Same user-keyed interval join;
    the per-purchase touch count is one purchase-partitioned window;
    credit rollup shuffles (view_id, int) pairs only."""
    ev = t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts_us").alias("v_us"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("p_us"),
    )
    j = p.join(
        v,
        (p["user_id"] == v["v_user"])
        & (v["v_us"] < p["p_us"])
        & (v["v_us"] >= p["p_us"] - 3600000000),
    ).select(
        "purchase_id",
        "view_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("purchase_id"))
        .cast("bigint")
        .alias("n_touches"),
    )
    return j.groupBy("view_id").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum(F.expr("1000000 div n_touches")).cast("bigint").alias(
            "credit_ppm"
        ),
    )


# --------------------------------------------------------------------------
# activity streaks (gaps-and-islands)
# --------------------------------------------------------------------------


@query(
    "op-ext-streaks",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    g AS (
      SELECT user_id, day,
             date_diff('day', DATE '1970-01-01', day)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM d
    ),
    s AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
             strftime(MIN(day), '%Y-%m-%d') AS streak_start
      FROM g GROUP BY 1, 2
    )
    SELECT user_id, len AS longest_streak_days, streak_start
    FROM s
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY len DESC, streak_start) = 1
    """,
)
def op_ext_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands pattern (epoch_day − row_number is constant
    within a consecutive run, so the difference IS the island key; no
    self-joins, no recursion): the engagement metric behind "7-day
    streak" product features and the dual of op-ext-event-gaps'
    silence measurement. Two user-partitioned windows over the
    DISTINCT (user, day) frame — never raw events — then one island
    rollup and a per-user argmax (WindowGroupLimit)."""
    ev = t(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.to_date(F.col("ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.select(
        "user_id",
        "day",
        (
            F.datediff("day", F.lit("1970-01-01"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    s = g.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("streak_start"),
    )
    wtop = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("streak_start")
    )
    return (
        s.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_streak_days"),
            "streak_start",
        )
    )


# --------------------------------------------------------------------------
# bitmap-exact distinct — the mergeable EXACT alternative to HLL
# --------------------------------------------------------------------------


@query(
    "op-ext-bitmap-distinct",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY 1
    """,
)
def op_ext_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct customers per order-month via bitmap aggregation
    (Spark's bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg — the roaring-style pattern): each
    (month, 32k-id bucket) group packs its present ids into one bitmap
    byte-array map-side, so the shuffle carries fixed-size bitmaps
    instead of the distinct-key set — HLL's mergeability with NONE of
    its error. Completes the distinct-counting ladder: exact groupBy
    (op-agg-count-distinct) / exact mergeable bitmaps (this) / HLL
    sketch (op-ext-approx-count-distinct) / KMV with set algebra
    (op-ext-kmv-sketch). Re-aggregation (month→year by bitmap_or_agg,
    never re-scanning raw orders) is pinned exact in
    tests/test_sketch.py. 100 TB: bitmap size is id-range/8 bits per
    bucket, data-independent; dense id spaces pack 32k ids into 4 KB."""
    orders = t(spark, sf_dir, "orders")
    per_bucket = (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            F.expr("bitmap_bucket_number(o_custkey)").alias("bk"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("order_month", "bk")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return per_bucket.groupBy("order_month").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_customers")
    )


@query(
    "op-ext-cms-join-size",
    oracle=f"""
    WITH src AS (SELECT user_id AS k FROM events),
    f AS (SELECT k, j FROM src CROSS JOIN (SELECT unnest([0,1,2,3]) AS j)),
    cells AS (
      SELECT j, {ex.hex_int_oracle(sk.slot_md5('cms', 'k'), 1, 2)}
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM f GROUP BY 1, 2
    ),
    dots AS (SELECT j, CAST(SUM(n * n) AS BIGINT) AS dot
             FROM cells GROUP BY 1),
    truth AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS true_join_size
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY k)
    )
    SELECT (SELECT CAST(MIN(dot) AS BIGINT) FROM dots) AS est_join_size,
           (SELECT true_join_size FROM truth) AS true_join_size
    """,
)
def op_ext_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation WITHOUT running the join (Cormode &
    Muthukrishnan 2005 §4.2 inner-product identity; the AMS
    second-moment special case): |events ⋈ events| on user_id =
    Σ_u f(u)², estimated as min over the CMS depth rows of the cell
    dot product Σ_b cell[j,b]² — the statistic a cost-based planner
    wants before committing to a shuffle strategy, computed from a
    1024-cell sketch instead of the fact table. One-sided (est ≥
    true: collisions only add cross terms), pinned with the exact
    size in the same row; md5 slots make both engines bit-identical —
    an exact oracle for an approximate structure, same move as
    op-ext-cms. 100 TB: the sketch builds map-side in one pass; the
    estimate itself costs a 1024-row self-join."""
    ev = t(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    cells = sk.cms_build(ev, "k", depth=4, width_hex=2)
    cells = cells.localCheckpoint(eager=False)  # reused by both sides
    est = sk.cms_join_size(cells, cells)
    truth = (
        ev.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias(
            "true_join_size"
        ))
    )
    return est.join(truth).select(
        F.col("est_join_size").cast("bigint").alias("est_join_size"),
        "true_join_size",
    )


# --------------------------------------------------------------------------
# Merkle-style table reconciliation digest
# --------------------------------------------------------------------------

# COALESCE-to-sentinel mirrors operators/diff.py:partition_digest —
# bare '||' would NULLify the whole row hash (SUM then silently drops
# the row), and concat-skip semantics would let values move between
# nullable columns undetected (r8 review).
_TD_ROW = " || '|' || ".join(
    f"COALESCE(CAST({c} AS VARCHAR), '<NULL>')"
    for c in ("o_orderkey", "o_custkey", "o_orderstatus", "price_c",
              "o_orderpriority")
)
# 15 hex nibbles = 60 bits — the same int64-safe md5 slice as the KMV
# hash; mirrors operators/diff.py:partition_digest (r8 review: the old
# 8-nibble/32-bit slice made offsetting-edit collisions plausible within
# a bucket).
_TD_HASH = ex.hex_int_oracle(f"md5({_TD_ROW})", 1, 15)


@query(
    "op-ext-table-digest",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             {ex.cents('o_totalprice')}
                 AS price_c,
             o_orderpriority
      FROM orders
    ),
    replica AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             price_c + CASE WHEN o_orderkey % 5000 = 17 THEN 1 ELSE 0 END
                 AS price_c,
             o_orderpriority
      FROM base
    ),
    da AS (SELECT o_orderkey - o_orderkey % 1000 AS bucket_start,
                  CAST(COUNT(*) AS BIGINT) AS n_a,
                  CAST(SUM(CAST({_TD_HASH} AS HUGEINT))
                       % 9223372036854775808 AS BIGINT) AS digest_a
           FROM base GROUP BY 1),
    db AS (SELECT o_orderkey - o_orderkey % 1000 AS bucket_start,
                  CAST(COUNT(*) AS BIGINT) AS n_b,
                  CAST(SUM(CAST({_TD_HASH} AS HUGEINT))
                       % 9223372036854775808 AS BIGINT) AS digest_b
           FROM replica GROUP BY 1)
    SELECT COALESCE(da.bucket_start, db.bucket_start) AS bucket_start,
           n_a, digest_a, n_b, digest_b
    FROM da FULL JOIN db ON da.bucket_start = db.bucket_start
    WHERE digest_a IS DISTINCT FROM digest_b
       OR n_a IS DISTINCT FROM n_b
    """,
)
def op_ext_table_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table reconciliation (the Dynamo/Cassandra Merkle
    repair shape, operators/diff.py:partition_digest): both "replicas"
    of orders reduce to one (n_rows, Σ row-hash64) digest per 1000-key
    range — order-insensitive, mergeable, exact — and only buckets
    whose digests disagree surface, pinpointing where the row-level
    snapshot_diff must run. The replica here carries a deterministic
    1-cent corruption on keys ≡17 (mod 5000), so exactly those buckets
    mismatch. Row bytes never cross replicas — at 100 TB the exchange
    is |key range|/1000 digest rows, and each side's digest is one
    map-side-combined pass. Hashed columns use exact-integer cents
    (raw double→string formatting is not cross-engine stable)."""
    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.expr(ex.cents("o_totalprice")))
        .alias("price_c"),
        "o_orderpriority",
    )
    replica = base.withColumn(
        "price_c",
        F.when(
            F.col("o_orderkey") % 5000 == 17, F.col("price_c") + 1
        ).otherwise(F.col("price_c")),
    )
    from data_warehousing_assignment_spark.operators.diff import (
        partition_digest,
    )

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "price_c",
            "o_orderpriority"]
    da = partition_digest(base, "o_orderkey", cols).select(
        "bucket_start",
        F.col("n_rows").alias("n_a"),
        F.col("digest").alias("digest_a"),
    )
    db = partition_digest(replica, "o_orderkey", cols).select(
        "bucket_start",
        F.col("n_rows").alias("n_b"),
        F.col("digest").alias("digest_b"),
    )
    # FULL OUTER: a bucket present in only one replica (whole-partition
    # loss/addition — the severest corruption the digest exists to
    # catch) must surface as a mismatch row, not vanish in an inner
    # join (r8 review). Null-safe inequality treats the absent side's
    # NULLs as differing.
    return da.join(db, "bucket_start", "full_outer").filter(
        ~F.col("digest_a").eqNullSafe(F.col("digest_b"))
        | ~F.col("n_a").eqNullSafe(F.col("n_b"))
    )


@query(
    "op-ext-kmv-intersect",
    oracle=f"""
    WITH src AS (
      SELECT DISTINCT year(o_orderdate) AS yr, o_custkey
      FROM orders WHERE year(o_orderdate) IN (1996, 1997)
    ),
    h AS (SELECT yr, o_custkey, {ex.hex_int_oracle(_KMV_H, 1, 15)} AS hv FROM src),
    keep AS (
      SELECT yr, hv,
             ROW_NUMBER() OVER (PARTITION BY yr ORDER BY hv) AS rn
      FROM h
    ),
    sk AS (SELECT yr, hv FROM keep WHERE rn <= {_KMV_K}),
    th AS (
      SELECT CAST(MIN(CASE WHEN nk < {_KMV_K} THEN {_KMV_M} ELSE mx END)
                  AS BIGINT) AS theta,
             CAST(MIN(nk) AS BIGINT) AS min_kept
      FROM (SELECT yr, MAX(hv) AS mx, COUNT(*) AS nk FROM sk GROUP BY 1)
    ),
    common AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_common
      FROM (SELECT hv FROM sk GROUP BY hv HAVING COUNT(*) = 2)
      CROSS JOIN th WHERE hv <= th.theta
    ),
    truth AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS true_inter
      FROM (SELECT o_custkey FROM src GROUP BY 1 HAVING COUNT(*) = 2)
    )
    SELECT c.n_common, th.min_kept, th.theta,
           CAST((c.n_common * CAST({_KMV_M} AS HUGEINT)) // th.theta
                AS BIGINT) AS inter_est,
           t.true_inter
    FROM common c CROSS JOIN th CROSS JOIN truth t
    """,
)
def op_ext_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-INTERSECTION estimate via standard theta-sketch algebra
    (Dasgupta et al., "Theta Sketch Framework"): each sketch's θᵢ is
    its k-th minimum hash if full, else the FULL hash space M (an
    un-full sketch has seen everything below M); θ = min(θ₁, θ₂);
    estimate = |common hashes ≤ θ|·M/θ, always scaled — exactness when
    both sketches are un-full falls out naturally (θ = M). This is the
    set algebra HLL cannot do, here sizing the 1996∩1997
    active-customer overlap from two 64-hash sketches without
    rescanning orders. The r7 rule ("if either sketch is un-full the
    common count is exact, θ = min kept maxima") was WRONG in the
    asymmetric case: the full side's θ could drop common hashes that
    the un-full side genuinely holds, undercounting unscaled. Same
    exact md5-slot determinism as the union op: sketch, θ, and
    estimate are bit-identical in both engines, so an approximate
    structure gets an exact oracle. Accuracy bound pinned in
    tests/test_sketch.py. 100 TB: the intersection touches ≤2k rows."""
    src = (
        t(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .select(F.year("o_orderdate").alias("yr"), "o_custkey")
        .distinct()
    )
    h = src.select("yr", "o_custkey", F.expr(ex.hex_int(_KMV_H, 1, 15)).alias("hv"))
    wyr = Window.partitionBy("yr").orderBy("hv")
    sk_ = (
        h.withColumn("rn", F.row_number().over(wyr))
        .filter(F.col("rn") <= _KMV_K)
        .select("yr", "hv")
    )
    th = (
        sk_.groupBy("yr")
        .agg(F.max("hv").alias("mx"), F.count(F.lit(1)).alias("nk"))
        .select(
            F.when(F.col("nk") < _KMV_K, F.lit(_KMV_M))
            .otherwise(F.col("mx"))
            .alias("theta_i"),
            "nk",
        )
        .agg(
            F.min("theta_i").cast("bigint").alias("theta"),
            F.min("nk").cast("bigint").alias("min_kept"),
        )
    )
    common = (
        sk_.groupBy("hv")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == 2)
        .join(F.broadcast(th))
        .filter(F.col("hv") <= F.col("theta"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    truth = (
        src.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == 2)
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_inter"))
    )
    # Always n_common·M/θ (floor division via the mod-subtraction
    # trick so Spark's DECIMAL divide matches DuckDB's integer //);
    # θ = M when both sketches are un-full, so exactness is the
    # degenerate case of the one scaling rule, not a branch.
    est = F.expr(
        f"CAST((CAST(n_common AS DECIMAL(38,0))"
        f" * CAST({_KMV_M} AS DECIMAL(38,0))"
        f" - ((CAST(n_common AS DECIMAL(38,0))"
        f"     * CAST({_KMV_M} AS DECIMAL(38,0))) % theta))"
        f" / theta AS BIGINT)"
    )
    return (
        common.join(F.broadcast(th))
        .join(F.broadcast(truth))
        .select(
            "n_common", "min_kept", "theta",
            est.cast("bigint").alias("inter_est"), "true_inter",
        )
    )
