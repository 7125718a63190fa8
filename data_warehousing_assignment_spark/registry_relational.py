"""Relational-surface extensions: the ANSI-SQL operators the reference
never uses (SURVEY.md §2.3/§2.4/§2.7 "not present" notes) plus the
product-analytics queries (cohorts, funnels, outliers, fuzzy matching)
a warehouse user expects once those operators exist.

No reference counterpart — the reference's SQL surface stops at
inner/left joins, UNION-distinct and plain GROUP BY (`KPIs.sql`,
`TL_combine.sql`); everything here is the §7.5 extension surface built
on the same tables.

Determinism rules follow registry.py: exact integer/decimal math inside
the engines, at most one final IEEE op per surfaced double, unique
tiebreakers on every window/top-k, dates as strings at the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.registry import (
    dec,
    query,
    sum_cents,
    t,
)

#: exact integer cents of the 2-dp price (same fragment as registry_analytics)
_CENTS = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"


def _price_cents() -> F.Column:
    return (dec("l_extendedprice") * 100).cast("bigint")


# --------------------------------------------------------------------------
# set operations beyond UNION-distinct
# --------------------------------------------------------------------------


@query(
    "op-ext-intersect",
    oracle="""
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def op_ext_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — customers active in both 1995 and 1996. Spark plans
    intersect as a left-semi join over distinct sets: two pruned scans,
    one key shuffle, no row explosion at any scale."""
    o = t(spark, sf_dir, "orders")
    k94 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    k95 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    return k94.intersect(k95)


@query(
    "op-ext-except",
    oracle="""
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def op_ext_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — customers who churned after 1995: active that
    year, silent the next. Plans as a left-anti join on the key — the
    same scale shape as op-pred-not-in."""
    o = t(spark, sf_dir, "orders")
    k94 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    k95 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    return k94.exceptAll(k95)


# --------------------------------------------------------------------------
# join types beyond inner/left
# --------------------------------------------------------------------------


@query(
    "op-join-full-outer",
    oracle="""
    WITH r94 AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS p94
      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
    ),
    r95 AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS p95
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
    )
    SELECT o_custkey,
           CAST(coalesce(p94, 0) AS DOUBLE) / 100.0 AS rev_1995,
           CAST(coalesce(p95, 0) AS DOUBLE) / 100.0 AS rev_1996,
           p94 IS NOT NULL AND p95 IS NOT NULL AS in_both
    FROM r94 FULL OUTER JOIN r95 USING (o_custkey)
    """,
)
def op_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — year-over-year revenue per customer keeping
    customers present in either year. Both sides are pre-aggregated
    (customer-sized, not order-sized) before the join, so the full-outer
    shuffle moves one row per customer-year at any scale; USING-style
    join(key) coalesces the key in both engines."""
    o = t(spark, sf_dir, "orders")

    def rev(year: int, alias: str) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(sum_cents("o_totalprice").alias(alias))
        )

    j = rev(1995, "_p94").join(rev(1996, "_p95"), "o_custkey", "full_outer")
    return j.select(
        "o_custkey",
        (F.coalesce(F.col("_p94"), F.lit(0)).cast("double") / 100.0).alias(
            "rev_1995"
        ),
        (F.coalesce(F.col("_p95"), F.lit(0)).cast("double") / 100.0).alias(
            "rev_1996"
        ),
        (F.col("_p94").isNotNull() & F.col("_p95").isNotNull()).alias(
            "in_both"
        ),
    )


@query(
    "op-join-semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'O')
    """,
)
def op_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit LEFT SEMI join — customers with at least one open order.
    The semi join keeps only the probe side (no duplicate customer rows
    however many orders match) and short-circuits per key — strictly
    cheaper than inner-join-then-distinct."""
    cust = t(spark, sf_dir, "customer")
    open_orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    return cust.join(
        open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


# --------------------------------------------------------------------------
# exact order statistics / positional aggregates
# --------------------------------------------------------------------------


@query(
    "op-ext-median",
    oracle=f"""
    WITH pc AS (SELECT l_returnflag, {_CENTS} AS c FROM lineitem)
    SELECT l_returnflag, COUNT(*) AS n_rows,
           quantile_cont(c, 0.25) / 100.0 AS p25,
           quantile_cont(c, 0.50) / 100.0 AS median_price,
           quantile_cont(c, 0.75) / 100.0 AS p75
    FROM pc GROUP BY 1
    """,
)
def op_ext_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / quartiles of price per flag. Percentiles run over
    integer cents so the linear interpolation lo + (hi-lo)·frac is the
    same exact IEEE value in both engines (frac ∈ {.25,.5,.75} makes the
    product exact for cent-scale ints); one division to dollars at the
    end. Exact percentile is a per-group sort — the approx_percentile
    sketch is the 100 TB path, anchored by this exact twin."""
    pc = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", _price_cents().alias("c")
    )
    return pc.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.expr("percentile(c, 0.25)") / 100.0).alias("p25"),
        (F.expr("percentile(c, 0.50)") / 100.0).alias("median_price"),
        (F.expr("percentile(c, 0.75)") / 100.0).alias("p75"),
    )


@query(
    "op-ext-mode",
    oracle="""
    WITH cnt AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag, qty AS mode_qty, n AS mode_count
    FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                      ORDER BY n DESC, qty) AS rn
          FROM cnt)
    WHERE rn = 1
    """,
)
def op_ext_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with a deterministic lowest-value
    tiebreak (engine-native mode() breaks ties arbitrarily — unusable
    across engines). Count-then-top1: the heavy groupBy is map-side
    combinable; the window sees one row per distinct value."""
    li = t(spark, sf_dir, "lineitem")
    cnt = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("qty")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("n"), F.asc("qty"))
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("qty").alias("mode_qty"),
            F.col("n").alias("mode_count"),
        )
    )


@query(
    "op-ext-minmax-by",
    oracle="""
    WITH keyed AS (
      SELECT n_name, s_name,
             CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * 1000000
               + s_suppkey AS k
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT n_name, COUNT(*) AS n_suppliers,
           arg_max(s_name, k) AS richest_supplier,
           arg_min(s_name, k) AS poorest_supplier
    FROM keyed GROUP BY 1
    """,
)
def op_ext_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (argmax as an AGGREGATE, not a window): richest
    and poorest supplier per nation in one combinable pass — no sort, no
    window state. Ties are broken by folding the unique suppkey into the
    ordering key (cents · 10⁶ + key), since engine-native max_by tie
    behavior is unspecified."""
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    keyed = sup.join(
        F.broadcast(nat), sup.s_nationkey == nat.n_nationkey
    ).select(
        "n_name",
        "s_name",
        (
            (dec("s_acctbal") * 100).cast("bigint") * 1000000
            + F.col("s_suppkey")
        ).alias("k"),
    )
    return keyed.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.expr("max_by(s_name, k)").alias("richest_supplier"),
        F.expr("min_by(s_name, k)").alias("poorest_supplier"),
    )


@query(
    "op-ext-percent-rank",
    oracle="""
    WITH pc AS (
      SELECT c_custkey,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM customer
    )
    SELECT c_custkey,
           percent_rank() OVER (ORDER BY c) AS pr,
           cume_dist() OVER (ORDER BY c) AS cd
    FROM pc
    """,
)
def op_ext_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist over account balance: both are exact
    rational functions of tie-aware ranks ((rank−1)/(n−1), #≤/n) — the
    one IEEE division lands identically in both engines. Ranked on
    integer cents so ties group identically. Computed from the
    two-level distributed prefix sum over the distinct-cent frame
    (an.distributed_prefix: rank = cum−ct+1, cume = cum) joined back —
    no global ORDER BY window serializes the population through one
    task, so the same plan survives fact-scale inputs."""
    from data_warehousing_assignment_spark.operators import analytics as an

    pc = t(spark, sf_dir, "customer").select(
        "c_custkey", (dec("c_acctbal") * 100).cast("bigint").alias("c")
    )
    g = pc.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    )
    pre = an.distributed_prefix(g, "c", ["ct"]).select(
        "c",
        (F.col("cum_ct") - F.col("ct") + 1).alias("rnk"),
        F.col("cum_ct").alias("cum"),
    )
    nrow = pc.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        pc.join(pre, "c")
        .crossJoin(F.broadcast(nrow))
        .select(
            "c_custkey",
            (
                (F.col("rnk") - 1).cast("double")
                / (F.col("n") - 1).cast("double")
            ).alias("pr"),
            (
                F.col("cum").cast("double") / F.col("n").cast("double")
            ).alias("cd"),
        )
    )


@query(
    "op-ext-lead-lag",
    oracle="""
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(date_diff('day',
                lag(o_orderdate) OVER w, o_orderdate) AS BIGINT)
             AS days_since_prev,
           CAST(date_diff('day',
                o_orderdate, lead(o_orderdate) OVER w) AS BIGINT)
             AS days_to_next
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def op_ext_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag — per-customer order timeline with day gaps to the
    previous and next order (NULL at the edges). Both offsets share ONE
    customer-partitioned sort; integer day arithmetic end to end."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("bigint")
        .alias("days_since_prev"),
        F.datediff(F.lead("o_orderdate").over(w), F.col("o_orderdate"))
        .cast("bigint")
        .alias("days_to_next"),
    )


# --------------------------------------------------------------------------
# text n-grams / JSON / fuzzy matching
# --------------------------------------------------------------------------


@query(
    "op-ext-bigrams",
    oracle=f"""
    WITH toks AS (SELECT {_TOKS} AS l FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(1, len(l)),
                                   i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM toks
    ),
    cnt AS (SELECT bigram, COUNT(*) AS n FROM bg GROUP BY 1)
    SELECT bigram, n,
           CAST(row_number() OVER (ORDER BY n DESC, bigram) AS BIGINT) AS rnk
    FROM cnt
    QUALIFY rnk <= 40
    """,
)
def op_ext_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-40 word bigrams: row-local n-gram construction
    (transform over an index sequence — no self-join, no posexplode
    pairing), one explode, one map-side-combined count, then the top-40
    cut as orderBy+limit (TakeOrderedAndProject — per-partition heaps,
    never a global sort of the distinct-bigram frame) with (count,
    bigram) tiebreak; only the 40 survivors see the ranking window.
    The explode fan-out is |tokens| per doc — linear, never quadratic."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    docs = t(spark, sf_dir, "documents").select(toks.alias("l"))
    bigrams = docs.select(
        F.explode(
            F.when(
                F.size("l") >= 2,
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> concat(element_at(l, i), ' ', "
                    "element_at(l, i + 1)))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    cnt = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    top = cnt.orderBy(F.desc("n"), F.asc("bigram")).limit(40)
    w = Window.orderBy(F.desc("n"), F.asc("bigram"))
    return top.select(
        "bigram", "n", F.row_number().over(w).cast("bigint").alias("rnk")
    )


@query(
    "op-ext-json-extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(k) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY 1
    """,
)
def op_ext_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``$.k`` out of the JSON props
    column and profile it per event type. get_json_object is a row-local
    JVM expression — the scan stays one combinable aggregate pass; at
    100 TB the same shape applies (or pre-parse once with from_json into
    a struct column when many keys are read repeatedly)."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@query(
    "op-ext-fuzzy-join",
    oracle="""
    SELECT c1.c_custkey AS custkey_a, c2.c_custkey AS custkey_b,
           CAST(levenshtein(c1.c_name, c2.c_name) AS BIGINT) AS dist
    FROM customer c1
    JOIN customer c2
      ON c1.c_nationkey = c2.c_nationkey
     AND c1.c_custkey < c2.c_custkey
     AND levenshtein(c1.c_name, c2.c_name) <= 1
    """,
)
def op_ext_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join: near-identical customer names (edit
    distance ≤ 1) within a nation block. The equi-key (nationkey) rides
    the hash join; levenshtein runs only inside blocks — O(Σ block²)
    like the LSH band join, never all-pairs. Real entity resolution
    swaps the block key for a cheap canopy (prefix, soundex, minhash
    band) — the plan shape is this one."""
    c1 = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ka"),
        F.col("c_nationkey").alias("na"),
        F.col("c_name").alias("name_a"),
    )
    c2 = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("kb"),
        F.col("c_nationkey").alias("nb"),
        F.col("c_name").alias("name_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        c1.join(
            c2,
            (F.col("na") == F.col("nb"))
            & (F.col("ka") < F.col("kb"))
            & (dist <= 1),
        )
        .select(
            F.col("ka").alias("custkey_a"),
            F.col("kb").alias("custkey_b"),
            dist.cast("bigint").alias("dist"),
        )
    )


# --------------------------------------------------------------------------
# product analytics: cohorts, funnels, outliers
# --------------------------------------------------------------------------


@query(
    "op-ext-cohort-retention",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    first AS (SELECT user_id, MIN(d) AS d0 FROM ev GROUP BY 1)
    SELECT strftime(f.d0, '%Y-%m-%d') AS cohort_day,
           CAST((e.d - f.d0) // 7 AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM ev e JOIN first f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def op_ext_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users cohorted by first-activity day,
    counted distinct in each subsequent week offset. The first-touch
    frame is user-sized; re-joining it to events is a key-partitioned
    equi-join (broadcast when the user dim fits); integer day/week
    arithmetic keeps the triangle exact."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("d0"))
    j = ev.join(first, "user_id")
    return j.groupBy(
        F.date_format("d0", "yyyy-MM-dd").alias("cohort_day"),
        (F.datediff("d", "d0") / 7)
        .cast("bigint")
        .alias("week_offset"),
    ).agg(F.count_distinct("user_id").alias("n_users"))


@query(
    "op-ext-funnel",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
             MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
      FROM events GROUP BY 1
    )
    SELECT CAST(COUNT(*) FILTER (WHERE s IS NOT NULL) AS BIGINT)
             AS n_signup,
           CAST(COUNT(*) FILTER (WHERE s IS NOT NULL AND v > s) AS BIGINT)
             AS n_viewed,
           CAST(COUNT(*) FILTER (WHERE s IS NOT NULL AND v > s AND c > v)
                AS BIGINT) AS n_clicked,
           CAST(COUNT(*) FILTER (WHERE s IS NOT NULL AND v > s AND c > v
                                   AND p > c) AS BIGINT) AS n_purchased
    FROM stages
    """,
)
def op_ext_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → view → click → purchase: one
    conditional-min aggregation per user (map-side combinable, single
    shuffle), then stage predicates on first-touch µs timestamps. NULL
    comparisons fail the predicate in both engines, so missing stages
    drop out identically."""
    ev = t(spark, sf_dir, "events").withColumn(
        "us", F.expr("ts_ns div 1000")
    )

    def first(et: str):
        return F.min(F.when(F.col("event_type") == et, F.col("us")))

    stages = ev.groupBy("user_id").agg(
        first("signup").alias("s"),
        first("view").alias("v"),
        first("click").alias("c"),
        first("purchase").alias("p"),
    )
    s_ok = F.col("s").isNotNull()
    v_ok = s_ok & (F.col("v") > F.col("s"))
    c_ok = v_ok & (F.col("c") > F.col("v"))
    p_ok = c_ok & (F.col("p") > F.col("c"))
    return stages.agg(
        F.count(F.when(s_ok, 1)).alias("n_signup"),
        F.count(F.when(v_ok, 1)).alias("n_viewed"),
        F.count(F.when(c_ok, 1)).alias("n_clicked"),
        F.count(F.when(p_ok, 1)).alias("n_purchased"),
    )


@query(
    "op-ext-zscore-outliers",
    oracle=f"""
    WITH pc AS (SELECT l_returnflag, {_CENTS} AS c, l_extendedprice
                FROM lineitem),
    s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(c) AS sx,
             SUM(CAST(c AS DECIMAL(38,0)) * c) AS sxx
      FROM pc GROUP BY 1
    ),
    b AS (
      SELECT l_returnflag, n,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx
                       - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
                  / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE))
               AS std
      FROM s
    )
    SELECT p.l_returnflag, b.n AS n_rows,
           CAST(COUNT(*) FILTER (
             WHERE abs(CAST(c AS DOUBLE) - mean) > 3.0 * std) AS BIGINT)
             AS n_outliers,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (
             WHERE abs(CAST(c AS DOUBLE) - mean) > 3.0 * std) AS DOUBLE)
             AS outlier_revenue
    FROM pc p JOIN b ON p.l_returnflag = b.l_returnflag
    GROUP BY 1, 2
    """,
)
def op_ext_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3σ outlier screen per group: exact integer power sums → per-group
    mean/std (groups-sized frame, broadcast back) → second pass counts
    and sums the outliers. Both engines derive mean/std from the SAME
    exact sums, so the |x−µ| > 3σ cut lands on identical doubles — the
    standard two-pass shape for anomaly screens at fact scale."""
    pc = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", _price_cents().alias("c"), "l_extendedprice"
    )
    s = pc.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sx"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("sxx"),
    )
    from data_warehousing_assignment_spark.operators import analytics as an

    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    mean = sx.cast("double") / n.cast("double")
    var = F.expr(an.exact_var_samp("n", "sx", "sxx"))
    b = s.select("l_returnflag", n.alias("n"), mean.alias("mean"),
                 F.sqrt(var).alias("std"))
    j = pc.join(F.broadcast(b), "l_returnflag")
    is_out = F.abs(F.col("c").cast("double") - F.col("mean")) > 3.0 * F.col(
        "std"
    )
    return j.groupBy("l_returnflag", F.col("n").alias("n_rows")).agg(
        F.count(F.when(is_out, 1)).alias("n_outliers"),
        F.sum(F.when(is_out, dec("l_extendedprice")))
        .cast("double")
        .alias("outlier_revenue"),
    )


@query(
    "op-ext-stream-enrich",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, e.value, n.n_name
    FROM events e
    LEFT JOIN nation n ON e.user_id % 25 = n.n_nationkey
    """,
)
def op_ext_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment (joins.enrich_with_dim): the
    state-free streaming join — each micro-batch left-joins the
    broadcast static dim, no watermark, no join state. Registered on
    static frames where the oracle is exact; stream mode ≡ batch is
    proven in tests/test_stream_join.py."""
    from data_warehousing_assignment_spark.streaming import joins as sj

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    nat = t(spark, sf_dir, "nation")
    return sj.enrich_with_dim(
        ev,
        nat.select("n_nationkey", "n_name"),
        F.col("user_id") % 25 == F.col("n_nationkey"),
        ["n_name"],
    )


@query(
    "op-union-all",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def op_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (duplicate-preserving — the reference only ever uses
    dedup'ing UNION, op-union-distinct): orders matching either filter,
    with the overlap appearing twice. unionByName with no distinct =
    zero-shuffle concatenation of the two pruned scans."""
    o = t(spark, sf_dir, "orders")
    open_o = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_custkey"
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_custkey"
    )
    return open_o.unionByName(urgent)


@query(
    "op-ext-string-agg",
    oracle="""
    SELECT r_name,
           COUNT(*) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def op_ext_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg/group_concat): nation names
    per region, sorted then joined — collect_list is order-nondeterministic
    under parallel merge, so the ORDER BY inside the aggregate (Spark:
    array_sort before array_join) is what makes the result well-defined
    at any partitioning. Keep it to group-bounded domains — the string
    is O(group size)."""
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region")
    j = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    return j.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
            "nations"
        ),
    )


@query(
    "op-ext-rolling-dau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    contrib AS (
      SELECT user_id, d + CAST(i AS INTEGER) AS wd
      FROM ud, unnest(generate_series(0, 6)) AS t(i)
    )
    SELECT strftime(day.d, '%Y-%m-%d') AS day,
           (SELECT COUNT(DISTINCT user_id) FROM ud WHERE ud.d = day.d)
             AS dau,
           (SELECT COUNT(DISTINCT user_id) FROM contrib c
             WHERE c.wd = day.d) AS wau_trailing7
    FROM days AS day
    """,
)
def op_ext_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily + trailing-7-day distinct active users. Rolling COUNT
    DISTINCT is not window-mergeable from daily distincts, so the scale
    shape is: dedup to user-days (the only fact-sized shuffle), fan each
    user-day out to the ≤7 trailing windows it feeds, then one distinct
    count per window day — linear in user-days, never a per-day rescan."""
    ev = t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    dau = ud.groupBy("d").agg(F.count_distinct("user_id").alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("wd"),
    )
    wau = contrib.groupBy(F.col("wd").alias("d")).agg(
        F.count_distinct("user_id").alias("wau_trailing7")
    )
    return (
        dau.join(wau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau_trailing7",
        )
    )


@query(
    "op-ext-range-frame",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day_no,
             strftime(o_orderdate, '%Y-%m-%d') AS order_date,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
      FROM orders
    )
    SELECT o_orderkey, o_custkey, order_date,
           CAST(SUM(pc) OVER (PARTITION BY o_custkey ORDER BY day_no
                              RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 100.0 AS trailing90_revenue,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day_no
                          RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
             AS trailing90_orders
    FROM o
    """,
)
def op_ext_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (value-based frame, not row-based — §2.5
    lists no frame specs in the reference): each order's trailing-90-day
    revenue and order count for its customer. The frame is defined on
    integer epoch days, so the boundary arithmetic is exact in both
    engines and ties (same-day orders) fall in or out identically —
    date-typed RANGE frames with interval bounds are engine-specific;
    integer day numbers are the portable form. One customer-partitioned
    sort serves both window aggregates."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).alias("day_no"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        (dec("o_totalprice") * 100).cast("bigint").alias("pc"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_no")
        .rangeBetween(-89, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "order_date",
        (F.sum("pc").over(w).cast("double") / 100.0).alias(
            "trailing90_revenue"
        ),
        F.count(F.lit(1)).over(w).alias("trailing90_orders"),
    )


@query(
    "op-ext-first-last",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             strftime(o_orderdate, '%Y-%m-%d') AS od,
             o_totalprice
      FROM orders
    )
    SELECT DISTINCT o_custkey,
           first_value(o_totalprice) OVER w AS first_order_price,
           last_value(o_totalprice) OVER w AS latest_order_price,
           nth_value(o_totalprice, 2) OVER w AS second_order_price
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def op_ext_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over each customer's order
    history (earliest, latest, and second order price). The frame is
    pinned to the FULL partition — last_value over the default frame is
    the current row, the classic window trap — and the ordering carries
    the unique orderkey tiebreak so all three picks are deterministic."""
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
        "o_totalprice",
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("od", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_order_price"),
        F.last("o_totalprice").over(w).alias("latest_order_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_order_price"),
    ).distinct()


@query(
    "op-ext-regex-extract-all",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
             AS n_numbers,
           CAST(len(list_distinct(regexp_extract_all(text, '[0-9]+')))
                AS BIGINT) AS n_distinct_numbers,
           -- array_to_string([]) is NULL in DuckDB but '' in Spark
           coalesce(array_to_string(list_sort(list_distinct(
             regexp_extract_all(text, '[0-9]+'))), '|'), '') AS numbers
    FROM documents
    """,
)
def op_ext_regex_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all — pull every digit run out of each document
    (the PII/artifact-mining primitive behind the redaction op): total
    and distinct counts plus the sorted distinct set, stringified at the
    boundary per the array rule. Row-local, zero shuffle; the regex
    stays in the safe cross-engine subset (character classes only)."""
    nums = F.expr(r"regexp_extract_all(text, '[0-9]+', 0)")
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(nums).cast("bigint").alias("n_numbers"),
        F.size(F.array_distinct(nums)).cast("bigint").alias(
            "n_distinct_numbers"
        ),
        F.array_join(F.array_sort(F.array_distinct(nums)), "|").alias(
            "numbers"
        ),
    )


@query(
    "op-ext-cdc-apply",
    oracle="""
    WITH cdc AS (
      SELECT user_id, event_id, epoch_us(ts) AS seq, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events
    ),
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                  ORDER BY seq DESC, event_id DESC) AS rn
      FROM cdc
    )
    SELECT user_id, event_id AS last_event_id, seq AS last_seq, value
    FROM latest WHERE rn = 1 AND op = 'U'
    """,
)
def op_ext_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply — materialize the final state of a change stream:
    latest change per key wins (sequence + unique change-id tiebreak),
    delete tombstones drop the key (events stand in as the change log;
    'error' = delete). The standard Debezium→warehouse compaction: ONE
    key shuffle, and the rn=1 window plans with WindowGroupLimit so only
    each key's top row survives the partial sort — never a full history
    sort. Incremental form = same operator over (base ∪ new batch)."""
    from data_warehousing_assignment_spark.operators import analytics as an

    cdc = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("seq"),
        "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    latest = an.top_k_per_group(
        cdc, ["user_id"], [F.desc("seq"), F.desc("event_id")], k=1
    )
    return latest.filter(F.col("op") == "U").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("seq").alias("last_seq"),
        "value",
    )


@query(
    "op-ext-interval-overlap",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us
      FROM events WHERE user_id < 25
    ),
    lagd AS (
      SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                  AS prev
      FROM ev
    ),
    marked AS (
      SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
                     THEN 1 ELSE 0 END AS is_new
      FROM lagd
    ),
    sess0 AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    sessions AS (
      SELECT user_id, CAST(sid AS BIGINT) AS session_seq,
             MIN(us) AS s_start, MAX(us) AS s_end
      FROM sess0 GROUP BY user_id, sid
    ),
    incidents AS (
      SELECT event_id AS incident_id,
             epoch_us(ts) - 300000000 AS i_start,
             epoch_us(ts) + 300000000 AS i_end
      FROM events WHERE event_type = 'error' AND user_id >= 200
    )
    SELECT s.user_id, s.session_seq, i.incident_id,
           CAST((least(s.s_end, i.i_end) - greatest(s.s_start, i.i_start))
                // 1000000 AS BIGINT) AS overlap_s
    FROM sessions s JOIN incidents i
      ON s.s_start <= i.i_end AND i.i_start <= s.s_end
    """,
)
def op_ext_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join: user sessions (30-min gap
    sessionization) against global incident windows (error events of an
    unrelated user population, ±5 min) — "which sessions ran during an
    incident", the correlation every ops/analytics pipeline needs. The
    oracle states the naive inequality join; the Spark plan is hour-
    bucket expansion on BOTH sides + hash equi-join + residual predicate
    + first-shared-bucket emission (timeseries.interval_overlap_join,
    exactly-once without a distinct) — O(per-bucket
    work), never all-pairs. Population filters bound the gate's output;
    the operator itself is unbounded."""
    from data_warehousing_assignment_spark.operators import analytics as an
    from data_warehousing_assignment_spark.operators import timeseries as ts

    ev = t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    sessions = (
        an.sessionize(ev.filter(F.col("user_id") < 25), gap_minutes=30)
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts_us").alias("s_start"), F.max("ts_us").alias("s_end"))
    )
    incidents = (
        ev.filter((F.col("event_type") == "error") & (F.col("user_id") >= 200))
        .select(
            F.col("event_id").alias("incident_id"),
            (F.col("ts_us") - 300_000_000).alias("i_start"),
            (F.col("ts_us") + 300_000_000).alias("i_end"),
        )
    )
    j = ts.interval_overlap_join(
        sessions, incidents, "s_start", "s_end", "i_start", "i_end"
    )
    return j.select(
        "user_id",
        "session_seq",
        "incident_id",
        F.expr(
            "(least(s_end, i_end) - greatest(s_start, i_start)) div 1000000"
        )
        .cast("bigint")
        .alias("overlap_s"),
    )


@query(
    "op-ext-weighted-avg",
    oracle=f"""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(SUM({_CENTS} * CAST(l_quantity AS BIGINT)) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS BIGINT)) * 100 AS DOUBLE)
             AS wavg_price
    FROM lineitem GROUP BY 1
    """,
)
def op_ext_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per flag: Σ(price·qty)/Σ(qty)
    over exact integer cents — plain AVG over a weighted expansion would
    be wrong (and float-accumulated); ratio-of-exact-sums is the
    map-side-combinable form with ONE IEEE division at the end."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        _price_cents().alias("pc"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    return li.groupBy("l_returnflag").agg(
        F.sum("q").alias("total_qty"),
        (
            F.sum(F.col("pc") * F.col("q")).cast("double")
            / (F.sum("q") * 100).cast("double")
        ).alias("wavg_price"),
    )


@query(
    "op-ext-asof-tolerance",
    oracle="""
    SELECT l.event_id, l.user_id, l.ts_us,
           CASE WHEN l.ts_us - r.ts_us <= 3600000000
                THEN r.value END AS value_recent,
           CASE WHEN l.ts_us - r.ts_us <= 3600000000
                THEN (l.ts_us - r.ts_us) // 1000000 END AS staleness_s
    FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
          WHERE event_type = 'view') l
    ASOF LEFT JOIN
         (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
          WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
    """,
)
def op_ext_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness tolerance (merge_asof
    tolerance= / ASOF JOIN + staleness guard): the carried value is
    nulled when the latest match is older than 1 h — feature-store
    semantics where stale features must read as missing, not as the
    last value forever. Same single-shuffle window formulation as
    op-ext-asof-join, carrying the match timestamp alongside the value
    so the guard is a row-local filter."""
    from data_warehousing_assignment_spark.operators import asof as ao

    ev = t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts_us", "value")
        .withColumn("r_ts", F.col("ts_us"))
    )
    j = ao.asof_join(views, purchases, "ts_us", ["user_id"], ["value", "r_ts"])
    within = (F.col("ts_us") - F.col("r_ts_asof")) <= 3_600_000_000
    return j.select(
        "event_id",
        "user_id",
        "ts_us",
        F.when(within, F.col("value_asof")).alias("value_recent"),
        F.when(
            within,
            F.expr("(ts_us - r_ts_asof) div 1000000"),
        )
        .cast("bigint")
        .alias("staleness_s"),
    )


@query(
    "op-ext-copurchase",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    cnt AS (
      SELECT part_a, part_b, COUNT(*) AS n_orders
      FROM pairs GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_orders,
           CAST(row_number() OVER (ORDER BY n_orders DESC, part_a, part_b)
                AS BIGINT) AS rnk
    FROM cnt
    QUALIFY rnk <= 30
    """,
)
def op_ext_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought in the same order,
    top-30 by support. The self-join is keyed on the ORDER — fan-out per
    order is lines-per-order², a data constant (~7² for TPC-H-shaped
    carts), so candidate volume is linear in orders at any scale; the
    a<b guard halves it and canonicalizes the pair. One combinable count,
    then the top-30 cut runs as orderBy+limit — TakeOrderedAndProject:
    per-partition heaps forward ≤30 rows each, no global sort of the
    distinct-pair frame — and only the 30 surviving rows see the ranking
    window (r7; was a global row_number window over the full pair
    frame)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = a.join(b, "ok").filter(F.col("part_a") < F.col("part_b"))
    cnt = pairs.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    top = cnt.orderBy(
        F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")
    ).limit(30)
    w = Window.orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


@query(
    "op-ext-share-of-total",
    oracle="""
    WITH nrev AS (
      SELECT n_name,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS pc
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1
    )
    SELECT n_name,
           CAST(pc AS DOUBLE) / 100.0 AS revenue,
           CAST(pc AS DOUBLE) / CAST(SUM(pc) OVER () AS DOUBLE) AS share
    FROM nrev
    """,
)
def op_ext_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio-to-report): each nation's share of global
    order revenue via an unpartitioned window sum OVER the post-
    aggregate frame — the global window touches 25 rows, never the fact
    table (the only safe place for a partitionless window). Shares are
    one IEEE division of exact cent sums."""
    o = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    nrev = (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(sum_cents("o_totalprice").alias("pc"))
    )
    w = Window.partitionBy()
    return nrev.select(
        "n_name",
        (F.col("pc").cast("double") / 100.0).alias("revenue"),
        (
            F.col("pc").cast("double") / F.sum("pc").over(w).cast("double")
        ).alias("share"),
    )


@query(
    "op-ext-transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
               AS next_type
      FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def op_ext_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov counts over each
    user's event sequence): lead() over one user-partitioned sort, then
    a combinable pair count — the sequence-mining primitive behind
    next-action models and funnel-drop diagnostics."""
    ev = t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@query(
    "op-ext-assoc-rules",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM lineitem),
    pc AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_part
           FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    top AS (SELECT * FROM pairs ORDER BY n_ab DESC, part_a, part_b LIMIT 30)
    SELECT t.part_a, t.part_b, t.n_ab,
           pa.n_part AS n_a, pb.n_part AS n_b,
           CAST(t.n_ab AS DOUBLE) / CAST(pa.n_part AS DOUBLE) AS conf_a_b,
           CAST(t.n_ab * n.n_orders AS DOUBLE)
             / CAST(pa.n_part * pb.n_part AS DOUBLE) AS lift
    FROM top t
    JOIN pc pa ON t.part_a = pa.l_partkey
    JOIN pc pb ON t.part_b = pb.l_partkey, n
    """,
)
def op_ext_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over market baskets: the top-30 co-purchased
    part pairs by support, annotated with confidence(a→b) and lift —
    the classic a-priori output layer (op-ext-copurchase gives raw
    support only). Baskets are DISTINCT (order, part) so a part listed
    twice in one order (different suppliers) counts once.

    Scale shape: the pair self-join is keyed on the ORDER (per-order
    fan-out is a data constant), pair counts combine map-side, the
    top-30 cut is TakeOrderedAndProject, and the per-part counts join
    back against the 30-row survivor frame (broadcast). The 1-row
    corpus count joins in via broadcast cross join (same sanctioned
    shape as op-ext-tfidf's N). All counts are exact int64; conf/lift
    are each ONE IEEE division of exact integer products — engine-
    identical bits."""
    items = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    pc = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    top = pairs.orderBy(F.desc("n_ab"), "part_a", "part_b").limit(30)
    pa = pc.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a"))
    pb = pc.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b"))
    return (
        top.join(pa, "part_a")
        .join(pb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            (F.col("n_ab").cast("double") / F.col("n_a").cast("double")).alias(
                "conf_a_b"
            ),
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


@query(
    "op-ext-rfm",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
    base AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(o_orderdate), mx.maxd) AS BIGINT)
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS monetary_cents
      FROM orders, mx GROUP BY o_custkey, mx.maxd
    )
    SELECT o_custkey, recency_days, frequency, monetary_cents,
           CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey) AS BIGINT)
             AS r_score,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)
             AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, o_custkey)
                AS BIGINT) AS m_score
    FROM base
    """,
)
def op_ext_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency/frequency/monetary quartiles per
    customer, the standard marketing-analytics cut. Aggregates are exact
    (days as integers, money as cents); each score is an independent
    an.distributed_ntile over a 2-column projection of the
    post-aggregate customer frame, joined back on custkey — the three
    stacked GLOBAL sorts the F.ntile formulation needed are gone, so
    the plan survives a 100M-customer population. The shared base
    aggregate is caching.pin-ned (scoped persist — the four consumers
    would otherwise each re-derive it from the orders scan, and column
    pruning gives each branch a DIFFERENT aggregate plan, so exchange
    reuse cannot dedup them); the global max(o_orderdate) anchor joins
    in as a 1-row broadcast. Each ntile order carries a unique
    (metric, custkey) total order so quartile boundaries are
    deterministic."""
    from data_warehousing_assignment_spark import caching
    from data_warehousing_assignment_spark.operators import analytics as an

    o = t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("maxd"))
    base = caching.pin(
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("maxd"), F.max("o_orderdate"))
            .cast("bigint")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            sum_cents("o_totalprice").alias("monetary_cents"),
        )
    )
    out = base
    for score, metric, desc in (
        ("r_score", "recency_days", False),
        ("f_score", "frequency", True),
        ("m_score", "monetary_cents", True),
    ):
        # ntile's tiebreak column doubles as the join-back key, so each
        # score frame is exactly (o_custkey, <score>)
        nt = (
            an.distributed_ntile(
                base.select("o_custkey", metric),
                metric,
                "o_custkey",
                4,
                descending=desc,
            )
            .select("o_custkey", F.col("ntile").alias(score))
        )
        out = out.join(nt, "o_custkey")
    return out.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
    )


@query(
    "op-ext-ngram-lm",
    oracle=f"""
    WITH toks AS (SELECT {_TOKS} AS l FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(1, len(l)),
                                   i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM toks
    ),
    p AS (SELECT split_part(bigram, ' ', 1) AS w1,
                 split_part(bigram, ' ', 2) AS w2 FROM bg),
    cnt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM p GROUP BY 1, 2),
    lft AS (SELECT w1, CAST(SUM(n_ab) AS BIGINT) AS n_left FROM cnt
            GROUP BY 1),
    cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_cont FROM cnt
             GROUP BY 1),
    top AS (SELECT * FROM cnt ORDER BY n_ab DESC, w1, w2 LIMIT 30)
    SELECT t.w1, t.w2, t.n_ab, l.n_left, c.n_cont,
           CAST(t.n_ab AS DOUBLE) / CAST(l.n_left AS DOUBLE) AS p_ml
    FROM top t
    JOIN lft l ON t.w1 = l.w1
    JOIN cont c ON t.w2 = c.w2
    """,
)
def op_ext_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model statistics — the count table a KenLM-style
    estimator ingests: for the corpus's top-30 bigrams (support,
    (w1, w2) tiebreak) surface n(w1w2), the left-context total n(w1·),
    the continuation count N1+(·w2) (distinct left contexts — the
    Kneser-Ney continuation ingredient), and the ML conditional
    P(w2|w1) as ONE IEEE division of exact counts.

    Scale shape: bigrams build row-locally (transform over an index
    sequence), one explode + one map-side-combined (w1, w2) count; the
    three derived frames (left totals, continuation counts, top-30 cut
    via TakeOrderedAndProject) all aggregate the BIGRAM VOCAB, not the
    corpus, and join back against the 30-row survivor frame."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    docs = t(spark, sf_dir, "documents").select(toks.alias("l"))
    pairs = docs.select(
        F.explode(
            F.when(
                F.size("l") >= 2,
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    ).select(
        F.expr("split_part(bigram, ' ', 1)").alias("w1"),
        F.expr("split_part(bigram, ' ', 2)").alias("w2"),
    )
    cnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    lft = cnt.groupBy("w1").agg(F.sum("n_ab").alias("n_left"))
    cont = cnt.groupBy("w2").agg(F.count(F.lit(1)).alias("n_cont"))
    top = cnt.orderBy(F.desc("n_ab"), "w1", "w2").limit(30)
    return (
        top.join(lft, "w1")
        .join(cont, "w2")
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_left",
            "n_cont",
            (F.col("n_ab").cast("double") / F.col("n_left").cast("double")).alias(
                "p_ml"
            ),
        )
    )


@query(
    "op-ext-except-all",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def op_ext_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag difference WITH multiplicity (a customer with 3
    orders in 1995 and 1 in 1996 keeps 2 rows), the ANSI set op the
    DISTINCT-flavored op-ext-except can't express (auditing "how many
    more" rather than "whether"). Spark plans exceptAll as one
    count-and-replicate aggregation per side + a join — single shuffle
    on the key, no sort."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    b = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return a.exceptAll(b)


@query(
    "op-ext-intersect-all",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def op_ext_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag intersection with min-multiplicity (the
    overlap COUNTED, completing the ALL-flavored set-op family next to
    op-ext-except-all / op-ext-union-all). Same single-shuffle
    count-based plan as exceptAll."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    b = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return a.intersectAll(b)


@query(
    "op-ext-tpch-q3",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)
                    * (100 - CAST(CAST(l.l_discount AS DECIMAL(5,2)) * 100
                              AS BIGINT))) AS BIGINT) AS revenue_c4,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1996-03-15'
      AND l.l_shipdate > DATE '1996-03-15'
    GROUP BY 1, 3, 4
    ORDER BY revenue_c4 DESC, l.l_orderkey
    LIMIT 10
    """,
)
def op_ext_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (Shipping Priority), adapted to the testdata's columns
    (o_orderpriority for the missing shippriority): top-10 unshipped
    BUILDING-segment orders by outstanding revenue as of 1996-03-15.
    The canonical selective-join + aggregate + top-k macro shape:
    both date filters push into the scans, the customer dim broadcast-
    joins, revenue aggregates in exact integer centi-cents
    (price_cents·(100−disc_pct) — the star-join formulation,
    BASELINE.md r7 bisect), and the cut plans as TakeOrderedAndProject
    — per-partition top-10, never a global sort."""
    c = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1996-03-15"
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1996-03-15"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = (
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        * (
            100
            - F.expr("CAST(CAST(l_discount AS DECIMAL(5,2)) * 100 AS BIGINT)")
        )
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("bigint").alias("revenue_c4"))
        .select("l_orderkey", "revenue_c4", "order_day", "o_orderpriority")
        .orderBy(F.desc("revenue_c4"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "op-ext-tpch-q5",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)
                    * (100 - CAST(CAST(l.l_discount AS DECIMAL(5,2)) * 100
                              AS BIGINT))) AS BIGINT) AS revenue_c4
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND year(o.o_orderdate) = 1996
    GROUP BY 1
    """,
)
def op_ext_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (Local Supplier Volume): revenue per ASIA nation from
    1996 orders where the SUPPLIER shares the customer's nation — the
    classic 6-table snowflake with a non-FK equality (s_nationkey =
    c_nationkey) that forces join-order care. All four dims broadcast;
    the only shuffles are fact⋈fact keyed on order/supplier keys and
    the 5-row final aggregate. Exact centi-cents revenue, same
    formulation as op-ext-tpch-q3."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = t(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1996
    ).select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    rev = (
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        * (
            100
            - F.expr("CAST(CAST(l_discount AS DECIMAL(5,2)) * 100 AS BIGINT)")
        )
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(rev).cast("bigint").alias("revenue_c4"))
    )


# --------------------------------------------------------------------------
# recursive CTE — Spark 4.1's WITH RECURSIVE surface
# --------------------------------------------------------------------------


@query(
    "op-ext-recursive-spine",
    oracle="""
    WITH RECURSIVE m(mo) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT CAST(mo + INTERVAL 1 MONTH AS DATE) FROM m
      WHERE mo < DATE '2001-08-01'
    ),
    a AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_custkey % 97 = 0
      GROUP BY 1
    )
    SELECT strftime(m.mo, '%Y-%m') AS month,
           CAST(COALESCE(a.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(a.rev_c, 0) AS BIGINT) AS rev_c
    FROM m LEFT JOIN a ON a.mo = m.mo
    """,
)
def op_ext_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense monthly revenue spine via WITH RECURSIVE (Spark 4.1's
    recursive-CTE surface, UNION ALL + monotone bound — the standard
    SQL formulation of a calendar spine, next to op-fn-generate-series'
    sequence() formulation): 80 months from 1995-01, LEFT-joined to a
    sparse order subgroup so zero months surface explicitly as 0 rows
    — the gap-visible revenue report. The recursion is acyclic and
    driver-free (80 fixed iterations over 1-row frames); the aggregate
    side is one scan + month-keyed combine. Cyclic-graph recursion is
    deliberately NOT expressed this way (UNION ALL recursion enumerates
    paths, which explodes on dense graphs) — BFS stays in
    op-ext-khop's per-hop distinct joins."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("_rspine_orders")
    return spark.sql(
        """
        WITH RECURSIVE m(mo) AS (
          SELECT DATE '1995-01-01' AS mo
          UNION ALL
          SELECT add_months(mo, 1) FROM m WHERE mo < DATE '2001-08-01'
        ),
        a AS (
          SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS mo,
                 COUNT(*) AS n_orders,
                 CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                               AS BIGINT)) AS BIGINT) AS rev_c
          FROM _rspine_orders
          WHERE o_orderpriority = '1-URGENT' AND o_custkey % 97 = 0
          GROUP BY 1
        )
        SELECT date_format(m.mo, 'yyyy-MM') AS month,
               CAST(COALESCE(a.n_orders, 0) AS BIGINT) AS n_orders,
               CAST(COALESCE(a.rev_c, 0) AS BIGINT) AS rev_c
        FROM m LEFT JOIN a ON a.mo = m.mo
        """
    )


@query(
    "op-ext-offset-page",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS acctbal_c
    FROM customer
    ORDER BY acctbal_c DESC, c_custkey ASC
    LIMIT 25 OFFSET 50
    """,
)
def op_ext_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination page 3 (rows 51-75) of the balance leaderboard via
    ORDER BY … LIMIT/OFFSET — Spark's DataFrame ``offset()`` surface,
    with the mandatory unique tiebreaker that makes pages stable.
    Plans as a global-limit over per-partition top-(offset+limit)
    heaps; cost grows with page DEPTH, so deep pagination at 100 TB
    should switch to keyset pagination (WHERE (bal, key) < last-seen
    ORDER BY … LIMIT n — same result, O(page) cost; pinned equivalent
    in tests/test_relational_extras.py)."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        (dec("c_acctbal") * 100).cast("bigint").alias("acctbal_c"),
    )
    return (
        c.orderBy(F.desc("acctbal_c"), F.asc("c_custkey"))
        .offset(50)
        .limit(25)
    )


@query(
    "op-ext-variant-json",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events GROUP BY 1
    """,
)
def op_ext_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured aggregation through the VARIANT type (Spark 4):
    ``try_parse_json`` converts the events props string ONCE into Spark's
    binary variant encoding, and every extraction afterwards is a
    ``variant_get`` path read on the encoded form — the parse-once /
    extract-many contract that replaces op-ext-json-extract's
    string-reparse-per-path ``get_json_object`` when several fields
    leave the same document. 100 TB: variant encoding happens in the
    scan projection; the aggregate is an ordinary map-side-combined
    groupBy on the extracted int64."""
    ev = t(spark, sf_dir, "events").withColumn(
        # try_ variant: one malformed props row must contribute NULL,
        # not abort the aggregate — per-row lenient like the
        # get_json_object op this replaces (r8 review)
        "_v", F.try_parse_json(F.col("props"))
    )
    k = F.expr("variant_get(_v, '$.k', 'bigint')")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "op-ext-pandas-api",
    oracle="""
    SELECT user_id,
           (CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
               AS mean_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def op_ext_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's pandas ETL (``C2_ops_etl.py:63-70`` groupby-mean)
    re-expressed through pandas-on-Spark (``pyspark.pandas``) — the
    migration bridge for a pandas user: ``.pandas_api()`` →
    ``groupby().agg()`` → ``.to_spark()``, with the SAME lazy
    distributed plan underneath (one map-side-combined shuffle; the
    pandas surface is plan sugar, not a driver-side collect). Money
    stays exact: the grouped sums run on integer cents, and the mean
    is one decimal division cast to double — identical to
    op-agg-groupby-mean's contract. 100 TB: the traced plan is the
    same hash aggregate the native op produces."""
    sdf = t(spark, sf_dir, "events").select(
        "user_id", (dec("value") * 100).cast("bigint").alias("v_c")
    )
    psdf = sdf.pandas_api()
    g = psdf.groupby("user_id", as_index=False).agg(
        sum_c=("v_c", "sum"), n_events=("v_c", "count")
    )
    out = g.to_spark()
    return out.select(
        "user_id",
        (
            (F.col("sum_c").cast("decimal(38,2)") / 100).cast("double")
            / F.col("n_events")
        ).alias("mean_value"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


@query(
    "op-ext-seq-match",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY epoch_us(ts), event_id) AS s
      FROM events GROUP BY 1
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS seq_len,
           md5(s) AS seq_md5,
           CAST(length(regexp_replace(s, 'v[cs]*p', '#', 'g'))
                - length(regexp_replace(s, 'v[cs]*p', '', 'g'))
                AS BIGINT) AS n_conversions
    FROM seq
    """,
)
def op_ext_seq_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-sequence pattern matching (the MATCH_RECOGNIZE
    pattern class, which Spark SQL lacks): each user's event history
    becomes a character string in exact (ts, event_id) order — v/c/p/s/e
    initials — and conversions are leftmost non-overlapping matches of
    ``v[cs]*p`` (view, then only clicks/signups, then purchase; an
    error or second view breaks the run). Both engines count matches by
    the same replace-and-measure identity, so the greedy-scan
    semantics are pinned identically; the full sequence crosses the
    boundary only as md5 + length. 100 TB: one (user)-keyed shuffle;
    per-user state is the event-initial string — events-per-user
    bounded, the same assumption every sessionizer here makes."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.expr("ts_ns div 1000").alias("ts_us"),
            F.col("event_id"),
            F.substring("event_type", 1, 1).alias("c"),
        ).alias("e"),
    )
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("e")), lambda x: x["c"]
            ),
            "",
        ).alias("s")
    )
    pat = "v[cs]*p"
    return seq.select(
        "user_id",
        F.length("s").cast("bigint").alias("seq_len"),
        F.md5("s").alias("seq_md5"),
        (
            F.length(F.regexp_replace("s", pat, "#"))
            - F.length(F.regexp_replace("s", pat, ""))
        ).cast("bigint").alias("n_conversions"),
    )


@query(
    "op-ext-try-arith",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0.0 THEN NULL
                ELSE CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                               AS BIGINT)
                          // CAST(CAST(l_discount AS DECIMAL(5,2)) * 100
                                  AS BIGINT) AS BIGINT)
           END AS price_per_disc_pct,
           TRY_CAST(l_returnflag AS BIGINT) AS flag_as_num,
           TRY_CAST('1e' || CAST(l_linenumber * 100 AS VARCHAR) AS DOUBLE)
               AS overflow_probe
    FROM lineitem
    WHERE l_orderkey % 500 = 0
    """,
)
def op_ext_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic surface (try_divide / try_cast — the
    error-as-NULL family next to op-fn-date-safe's try_to_date): the
    engine runs with ANSI enabled, where 1/0 and bad casts THROW, so
    pipelines over dirty data reach for the try_* forms — division by
    a zero discount → NULL (not a crash), a non-numeric cast → NULL,
    and a deliberately overflowing 1e100/1e700 parse → the IEEE value
    or NULL past double range. Integer division keeps the quotient
    cross-engine exact (DuckDB ``//`` truncates like Spark ``div`` on
    nonnegatives). All row-local, pushdown-friendly — the safety
    wrappers cost nothing at scale."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 500 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "CAST(try_divide(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100"
            " AS BIGINT), CAST(CAST(l_discount AS DECIMAL(5,2)) * 100 AS"
            " BIGINT)) AS BIGINT)"
        ).alias("price_per_disc_pct"),
        F.expr("try_cast(l_returnflag AS BIGINT)").alias("flag_as_num"),
        F.expr(
            "try_cast(concat('1e', CAST(l_linenumber * 100 AS STRING)) AS DOUBLE)"
        ).alias("overflow_probe"),
    )


@query(
    "op-ext-stream-cep",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY epoch_us(ts), event_id) AS s
      FROM events GROUP BY 1
    )
    SELECT user_id, n_events,
           CAST(length(regexp_replace(s, 'v[cs]*p', '#', 'g'))
                - length(regexp_replace(s, 'v[cs]*p', '', 'g'))
                AS BIGINT) AS n_conversions,
           CAST(0 AS BIGINT) AS n_late
    FROM seq
    """,
)
def op_ext_stream_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP: op-ext-seq-match's v[cs]*p conversion pattern as
    an incremental stateful operator (streaming/cep.py — a 2-state DFA
    with O(1) state per user, applyInPandasWithState on streams, its
    applyInPandas twin here). The oracle is the REGEX formulation on
    the full history: the DFA must count exactly what leftmost
    non-overlapping regex matching counts — pinned per-user here and
    replayed across micro-batches in tests/test_cep.py. n_late counts
    events that arrived below the key's consumed high-watermark (the
    cross-batch ordering contract made observable; always 0 for the
    batch twin — one fully-sorted batch — which the oracle pins). This
    is the CEP trade: the batch op materializes the sequence string,
    the stream op carries 5 integers per user forever."""
    from data_warehousing_assignment_spark.streaming.cep import conversion_cep

    ev = t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    return conversion_cep(ev)
