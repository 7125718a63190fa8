"""Core operator registry: one (PySpark, DuckDB-oracle) pair per SURVEY.md §2
scan/filter/join/agg/window/sort/setop/scalar-fn row, exercised on the
driver's TPC-H-ish testdata.

Every query follows the cross-engine determinism rules in ``registry.py``:
money math in exact decimals surfaced as DOUBLE, dates/timestamps as
formatted strings, counts as BIGINT, identical aliases on both sides.

Scale notes are inline per query: dims (region/nation/segment maps) are
explicitly broadcast; aggregations are expressed so Catalyst plans partial
(map-side) aggregation; no collect() except the one legitimate watermark
scalar (op-agg-scalar-max).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import exact as ex
from data_warehousing_assignment_spark.registry import (
    ROUND2_MEAN_EXPR,
    _ds,
    dec,
    o_round2_mean,
    query,
    t,
)
from data_warehousing_assignment_spark.functions.cleaning import (
    lenient_decimal,
    normalize_upper_trim,
    parse_date_multi,
    remap_values,
    strip_float_suffix,
    title_case,
    whitelist,
)
from data_warehousing_assignment_spark.functions.dates import date_safe_dispatch
from data_warehousing_assignment_spark.operators import analytics as an
from data_warehousing_assignment_spark.plans.kpi import _month_key, _month_label
from data_warehousing_assignment_spark.operators.joins import (
    anti_join,
    case_insensitive_join,
    scalar_subquery,
)


# --------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# --------------------------------------------------------------------------


@query(
    "op-project",
    oracle="""
    SELECT p_partkey AS part_id, p_name AS part_name,
           p_retailprice AS retail_price
    FROM part
    """,
)
def op_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection + rename (ref B2_finance_etl.py:69,
    C2_ops_etl.py:106-109). Column pruning reaches the parquet scan —
    ReadSchema carries only the 3 projected columns."""
    return t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_name").alias("part_name"),
        F.col("p_retailprice").alias("retail_price"),
    )


@query(
    "op-derive",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           l_discount > 0.05 AS is_discounted,
           CAST({ex.money('l_extendedprice')}
                * (1 - {ex.money('l_discount')}) AS DOUBLE) AS net_price
    FROM lineitem
    """,
)
def op_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived columns (ref B2_finance_etl.py:27 is_refund). Net price is
    computed in exact decimal so both engines agree bit-for-bit."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_discount") > 0.05).alias("is_discounted"),
        (dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("double")
        .alias("net_price"),
    )


@query(
    "op-filter-eq",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def op_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality filter (ref KPIs.sql:11 WHERE status='Active'). Pushed to
    the parquet scan as PushedFilters: [EqualTo(o_orderstatus,F)]."""
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@query(
    "op-filter-bool",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM (
      SELECT o_orderkey, o_totalprice, o_totalprice > 200000 AS is_big
      FROM orders
    ) WHERE NOT is_big
    """,
)
def op_filter_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-column filter (ref KPIs.sql:55 WHERE is_refund = FALSE)."""
    o = t(spark, sf_dir, "orders").withColumn(
        "is_big", F.col("o_totalprice") > 200000
    )
    return o.filter(~F.col("is_big")).select("o_orderkey", "o_totalprice")


@query(
    "op-filter-null",
    oracle="""
    SELECT event_id, user_id FROM (
      SELECT event_id, user_id, NULLIF(event_type, 'error') AS et
      FROM events
    ) WHERE et IS NULL
    """,
)
def op_filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL filter (ref fact_employee_snapshot.sql:11 where
    dbt_valid_to is null)."""
    e = t(spark, sf_dir, "events").withColumn(
        "et", F.nullif(F.col("event_type"), F.lit("error"))
    )
    return e.filter(F.col("et").isNull()).select("event_id", "user_id")


@query(
    "op-pred-not-in",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_nationkey NOT IN (
      SELECT n_nationkey FROM nation
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    """,
)
def op_pred_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN anti-semi (ref A3_load_dim_emp.sql:17-19). left_anti against
    the broadcast 25-row nation list — no shuffle of the customer side."""
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    eu = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select(F.col("n_nationkey").alias("c_nationkey"))
    )
    cust = t(spark, sf_dir, "customer")
    return anti_join(cust, F.broadcast(eu), ["c_nationkey"]).select(
        "c_custkey", "c_name"
    )


@query(
    "op-pred-not-exists",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00')
    """,
)
def op_pred_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS (ref B3_load_fin_facts.sql:84-94) → left_anti.

    The right side is restricted to a date window so the anti result is
    non-empty on the testdata (every customer has SOME order, so the
    unrestricted form compared 0 = 0 rows — trivially green, r10 verdict).
    1995-07-01 splits customers ~1:1 at every SF (68/150 at sf0.001,
    723/1500 at sf0.01, 7132/15000 at sf0.1)."""
    cust = t(spark, sf_dir, "customer")
    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.to_timestamp(F.lit("1995-07-01")))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return anti_join(cust, orders, ["c_custkey"]).select("c_custkey", "c_name")


@query(
    "op-pred-distinct-from",
    oracle="""
    SELECT l_returnflag, l_linenumber, COUNT(*) AS n_rows
    FROM lineitem
    WHERE NULLIF(l_returnflag, 'N') IS DISTINCT FROM NULLIF(l_linestatus, 'F')
    GROUP BY l_returnflag, l_linenumber
    """,
)
def op_pred_distinct_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS DISTINCT FROM: null-safe inequality (ref A3_load_dim_emp.sql:48,61
    SCD2 hash change detection) = ``~eqNullSafe``.

    Grouped by (returnflag, linenumber) so the oracle compares ~14 rows —
    the returnflag-only grouping compared 3, a low-discrimination check
    (r11 verdict #5). The predicate under test is unchanged."""
    li = t(spark, sf_dir, "lineitem")
    a = F.nullif(F.col("l_returnflag"), F.lit("N"))
    b = F.nullif(F.col("l_linestatus"), F.lit("F"))
    return (
        li.filter(~a.eqNullSafe(b))
        .groupBy("l_returnflag", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "op-pred-left-null",
    oracle="""
    SELECT p.p_partkey, p.p_name
    FROM part p
    LEFT JOIN (SELECT DISTINCT l_partkey FROM lineitem
               WHERE l_shipdate < TIMESTAMP '1995-07-01 00:00:00') l
      ON p.p_partkey = l.l_partkey
    WHERE l.l_partkey IS NULL
    """,
)
def op_pred_left_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN ... IS NULL anti idiom (ref B3_load_fin_facts.sql:42-45),
    kept as a literal left join + null filter (Catalyst rewrites it to an
    anti join anyway — same physical plan as op-pred-not-exists).

    The lineitem side is restricted to early shipments so the result is
    non-empty (every part ships at least once, so the unrestricted form
    compared 0 = 0 — trivially green, r10 verdict): 32/200 parts at
    sf0.001, 243/2000 at sf0.01, 2222/20000 at sf0.1."""
    part = t(spark, sf_dir, "part")
    ordered = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") < F.to_timestamp(F.lit("1995-07-01")))
        .select("l_partkey")
        .distinct()
    )
    return (
        part.join(ordered, part.p_partkey == ordered.l_partkey, "left")
        .filter(F.col("l_partkey").isNull())
        .select("p_partkey", "p_name")
    )


@query(
    "op-pred-regex",
    oracle=r"""
    SELECT doc_id, n_chars FROM documents
    WHERE regexp_matches(text, '^(key|agg) .*table')
    """,
)
def op_pred_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex predicate (ref stg_finance_expense.sql:32 float-string guard)."""
    return (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").rlike(r"^(key|agg) .*table"))
        .select("doc_id", "n_chars")
    )


@query(
    "op-pred-in",
    oracle="""
    SELECT o_orderpriority, EXTRACT(YEAR FROM o_orderdate) AS order_year,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority, EXTRACT(YEAR FROM o_orderdate)
    """,
)
def op_pred_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list membership (ref A2_hr_etl.py:22 sentinel list).

    Grouped by (priority, order year) so the oracle compares ~14 rows —
    the priority-only grouping compared 2 (r11 verdict #5). The IN-list
    predicate under test is unchanged."""
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(
            "o_orderpriority",
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --------------------------------------------------------------------------
# §2.3 joins
# --------------------------------------------------------------------------


@query(
    "op-join-inner-fk",
    oracle="""
    SELECT o_orderkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def op_join_inner_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner FK-resolution join (ref B3_load_fin_facts.sql:76-80). At scale
    both sides shuffle on the key unless the dim side broadcasts; customer
    here is the dim side and AQE picks broadcast under threshold."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@query(
    "op-join-inner-star",
    oracle=f"""
    SELECT n_name, strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(SUM({ex.cents('l_extendedprice')}
                    * (100 - {ex.cents('l_discount')})) AS DOUBLE) / 10000.0
             AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name, strftime(o_orderdate, '%Y-%m')
    """,
)
def op_join_inner_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (ref KPIs.sql:50-54): fact ⋈ 4 dims, grouped
    monthly revenue. nation/region are broadcast explicitly — the fact
    table never shuffles for the dim joins, only for the final groupBy
    (map-side partial agg first).

    r14 MEASURED NEGATIVE, reverted (kept as the round's join-order
    note): pre-filtering ORDERS through the selective dim chain
    (region='ASIA' → nation → customer, ~1/5 of customers) before the
    fact join is the textbook §2.3 move, but the join-OUTPUT size
    estimate (no CBO stats) blows past the broadcast threshold, so the
    planner turned the statically-broadcastable orders side into a
    SortMergeJoin — sf0.1 0.645→1.036 s, sf10 5.2→7.7 s, measured
    both with and without a dim-side hint. The written left-deep order
    keeps every join's build side a RAW SCAN the planner can size, so
    sf0.1 plans all-BHJ (zero fact exchanges) and sf10 pays exactly one
    fact SMJ then prunes through pipelined broadcast probes.

    Revenue runs in exact integer ten-thousandths-of-a-cent:
    price_cents · (100 − discount_cents) summed into decimal(38,0) (no
    int64 overflow at any sf), one final cast→divide in IEEE — the same
    exactness as the decimal-multiply formulation it replaces, ~16%
    faster per the r7 decomposition (decimal-product aggregation was the
    single most expensive scalar path in the suite)."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    pc = (dec("l_extendedprice") * 100).cast("bigint")
    dc = (dec("l_discount") * 100).cast("bigint")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        # group on the int yyyy·100+MM key, format the handful of
        # post-agg groups (plans/kpi._month_key rationale — bijective
        # key, label value-identical to date_format 'yyyy-MM')
        .groupBy("n_name", _month_key("o_orderdate"))
        .agg(
            (
                F.sum((pc * (F.lit(100) - dc)).cast("decimal(38,0)")).cast(
                    "double"
                )
                / 10000.0
            ).alias("revenue")
        )
        .select("n_name", _month_label(), "revenue")
    )


@query(
    "op-join-left",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def op_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping unmatched rows (ref fact_expenses.sql:30-35);
    COUNT(col) skips the NULLs from unmatched customers."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "op-join-caseinsensitive",
    oracle="""
    SELECT c_custkey, d.c_mktsegment AS segment
    FROM (SELECT c_custkey,
                 ' ' || lower(c_mktsegment) || ' ' AS seg_raw
          FROM customer) m
    JOIN (SELECT DISTINCT c_mktsegment FROM customer) d
      ON upper(trim(m.seg_raw)) = upper(trim(d.c_mktsegment))
    """,
)
def op_join_caseinsensitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case/trim-normalized equi-join (ref A3_load_dim_emp.sql:39). Still a
    hash join — the normalization is a projected join key, not a theta
    condition."""
    cust = t(spark, sf_dir, "customer")
    messy = cust.select(
        "c_custkey",
        F.concat(F.lit(" "), F.lower("c_mktsegment"), F.lit(" ")).alias("seg_raw"),
    )
    dim = cust.select("c_mktsegment").distinct()
    joined = case_insensitive_join(messy, F.broadcast(dim), "seg_raw", "c_mktsegment")
    return joined.select("c_custkey", F.col("c_mktsegment").alias("segment"))


@query(
    "op-join-degenerate",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    JOIN (SELECT date_trunc('month', max(o_orderdate)) - INTERVAL 1 MONTH AS d
          FROM orders) m
      ON date_trunc('month', o_orderdate) = m.d
    """,
)
def op_join_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join against a 1-row relation (ref A3_load_dim_emp.sql:94-95
    ``JOIN dim_time ON full_date = CURRENT_DATE``): broadcast the scalar
    side; the fact side streams through with no shuffle.

    The join key is the last COMPLETE month before the max order date so
    the oracle compares a dense month of orders (~200 rows at sf0.01)
    instead of the 2 rows an exact-max-date match yields — the testdata's
    date tail is sparse (r11 verdict #5); still an equi-join against a
    broadcast 1-row relation."""
    orders = t(spark, sf_dir, "orders")
    maxd = orders.agg(
        F.add_months(F.date_trunc("month", F.max("o_orderdate")), -1)
        .cast("date")
        .alias("d")
    )
    return (
        orders.join(
            F.broadcast(maxd),
            F.date_trunc("month", orders.o_orderdate).cast("date") == F.col("d"),
        )
        .select("o_orderkey", _ds("o_orderdate").alias("order_date"))
    )


# --------------------------------------------------------------------------
# §2.4 aggregations
# --------------------------------------------------------------------------


@query(
    "op-agg-count-distinct",
    oracle="""
    SELECT n_name, COUNT(DISTINCT c_custkey) AS n_customers
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def op_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped COUNT(DISTINCT) (ref KPIs.sql:8-12 headcount). Exact distinct
    — Spark expands to a two-stage agg keyed on (n_name, c_custkey); at
    100 TB switch to approx_count_distinct when ±2% is acceptable."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.countDistinct("c_custkey").alias("n_customers"))
    )


@query(
    "op-agg-sum-round",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {ex.dsum('l_quantity')} AS sum_qty,
           {ex.dsum('l_extendedprice')} AS sum_base_price,
           CAST(ROUND(SUM({ex.money('l_extendedprice')}
                          * (1 - {ex.money('l_discount')})), 2) AS DOUBLE)
             AS sum_disc_price,
           CAST(ROUND(SUM({ex.money('l_extendedprice')}
                          * (1 - {ex.money('l_discount')})
                          * (1 + {ex.money('l_tax')})), 2) AS DOUBLE)
             AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def op_agg_sum_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUND(SUM(x),2) grouped — TPC-H Q1 shape (ref KPIs.sql:49 monthly
    totals). All arithmetic in exact decimal; ROUND applied in the decimal
    domain (HALF_UP in both engines) before the final DOUBLE cast.

    Small-result note (r11 verdict #5): the output is the canonical Q1
    group domain (returnflag × linestatus = 4–6 rows at every SF) — kept
    because discrimination comes from the 5 wide exact-decimal aggregates
    over the full lineitem table, not from row count."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    charge = disc_price * (F.lit(1) + dec("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr(ex.dsum("l_quantity")).alias("sum_qty"),
        F.expr(ex.dsum("l_extendedprice")).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
        F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "op-agg-avg-round",
    oracle=f"""
    WITH s AS (
      SELECT c_mktsegment, c_nationkey, {ex.sum_cents('c_acctbal')} AS _p,
             COUNT(*) AS _c
      FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment, c_nationkey, {o_round2_mean('_p', '_c')} AS avg_acctbal,
           _c AS n_customers
    FROM s
    """,
)
def op_agg_avg_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUND(AVG(x),2) grouped (ref KPIs.sql:34 avg salary by gender).
    The rounded mean is computed entirely in exact int64 cents
    (registry.ROUND2_MEAN_EXPR) — engines disagree on rounding doubles
    near 2-dp ties in both directions, so no double is ever rounded.

    Grouped by (segment, nation) so the oracle compares ~125 rounded
    means — segment-only compared 5 (r11 verdict #5)."""
    cust = t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.expr(ex.sum_cents("c_acctbal")).alias("_p"),
            F.count(F.lit(1)).alias("_c"),
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            F.expr(ROUND2_MEAN_EXPR).alias("avg_acctbal"),
            F.col("_c").alias("n_customers"),
        )
    )


@query(
    "op-agg-groupby-mean",
    oracle=f"""
    SELECT user_id,
           {ex.davg("value")} AS mean_value
    FROM events
    GROUP BY user_id
    """,
)
def op_agg_groupby_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas-style grouped mean (ref C2_ops_etl.py:63-70) as a hash agg
    with map-side partials — one shuffle on the group key."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.expr(ex.davg("value")).alias("mean_value"))
    )


@query(
    "op-agg-count-star",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_rows
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def op_agg_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) audit metric (ref A3_load_dim_emp.sql:65-69).

    Grouped by (status, priority) so the oracle compares 15 counts —
    status-only compared 3 (r11 verdict #5)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "op-agg-scalar-max",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    WHERE o_orderdate > (SELECT max(o_orderdate) - INTERVAL 90 DAY FROM orders)
    """,
)
def op_agg_scalar_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar watermark subquery (ref dbt fact_expenses.sql:39-45): the one
    legitimate driver-side collect — the watermark value must be known
    before the scan so the filter prunes partitions."""
    orders = t(spark, sf_dir, "orders")
    wm = scalar_subquery(orders, F.max("o_orderdate"))
    cutoff = wm - dt.timedelta(days=90)
    return orders.filter(F.col("o_orderdate") > F.lit(cutoff)).select(
        "o_orderkey", _ds("o_orderdate").alias("order_date")
    )


@query(
    "op-distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus, l_linenumber FROM lineitem",
)
def op_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT (ref A2_hr_etl.py:92). Partial distinct runs
    map-side, so the shuffle carries only unique combos per partition.

    Includes l_linenumber so the oracle compares ~28 combos — the
    2-column domain compared 6 (r11 verdict #5)."""
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_linenumber")
        .distinct()
    )


@query(
    "op-dup-capture",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_rows
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    HAVING COUNT(*) > 1
    """,
)
def op_dup_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-row capture before dropping (ref ET_combined.py:118-132
    ``df[df.duplicated()]``): groupBy-all-columns + count>1 — a single
    shuffle, vs the reference's O(n) pandas pass."""
    proj = t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    return (
        proj.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


# --------------------------------------------------------------------------
# §2.5 windows, §2.6 sort/limit, §2.7 set ops
# --------------------------------------------------------------------------


@query(
    "op-win-rownumber-key",
    oracle="""
    SELECT p_brand AS brand_name,
           ROW_NUMBER() OVER (ORDER BY p_brand) AS brand_id
    FROM (SELECT DISTINCT p_brand FROM part)
    """,
)
def op_win_rownumber_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate keys via row_number (ref dbt
    dim_department.sql:4). The unpartitioned window forces a
    single-partition exchange — acceptable ONLY for dim-sized input (the
    distinct collapses part to ~25 brands first); fact-sized keys use the
    md5 hash surrogate instead (plans/dims.py)."""
    brands = t(spark, sf_dir, "part").select("p_brand").distinct()
    return brands.select(
        F.col("p_brand").alias("brand_name"),
        F.row_number().over(Window.orderBy("p_brand")).alias("brand_id"),
    )


@query(
    "op-win-rownumber-unordered",
    oracle="""
    SELECT doc_id,
           COALESCE(NULLIF(CASE WHEN doc_id % 7 = 0 THEN ''
                                ELSE 'DOC_' || CAST(doc_id AS VARCHAR) END, ''),
                    'TEMP_' || CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS VARCHAR))
             AS doc_key
    FROM documents
    """,
)
def op_win_rownumber_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fallback TEMP_<n> ids for missing natural keys (ref
    stg_hr_employee.sql:42). Ordered by the stable doc_id so numbering is
    deterministic — never ``row_number() over ()`` on an unstable order.
    doc_id is unique, so its inclusive running count is its row number:
    the distributed prefix sum numbers the rows without a single-task
    window over every document."""
    docs = t(spark, sf_dir, "documents").selectExpr("doc_id", "1 AS _one")
    return an.distributed_prefix(docs, "doc_id", ["_one"]).selectExpr(
        "doc_id",
        "coalesce(nullif(CASE WHEN doc_id % 7 = 0 THEN ''"
        " ELSE concat('DOC_', CAST(doc_id AS STRING)) END, ''),"
        " concat('TEMP_', CAST(cum__one AS STRING)),"
        # never reached (the count is never NULL); keeps doc_key
        # non-nullable, as row_number's numbering made it
        " '') AS doc_key",
    )


@query(
    "op-sort",
    oracle="""
    SELECT strftime(o_orderdate, '%Y') AS order_year,
           strftime(o_orderdate, '%m') AS order_month,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    ORDER BY order_year, order_month
    """,
)
def op_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key ORDER BY (ref KPIs.sql:13). Total sort = range-partitioned
    exchange; output order survives into collect."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format("o_orderdate", "yyyy").alias("order_year"),
            F.date_format("o_orderdate", "MM").alias("order_month"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("order_year", "order_month")
    )


@query(
    "op-sort-desc",
    oracle=f"""
    SELECT n_name,
           {ex.dsum('o_totalprice')} AS total_sales
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY total_sales DESC
    """,
)
def op_sort_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY x DESC (ref KPIs.sql:99)."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.expr(ex.dsum("o_totalprice")).alias("total_sales"))
        .orderBy(F.desc("total_sales"))
    )


@query(
    "op-limit",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def op_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT top-k (ref A3_load_dim_emp.sql:6 LIMIT 1 probe).
    o_orderkey tiebreak keeps the k-set deterministic; Spark plans this as
    TakeOrderedAndProject — per-partition top-k then a k-row merge, never a
    full sort."""
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "op-union-distinct",
    oracle="""
    SELECT strftime(d, '%Y-%m-%d') AS full_date
    FROM generate_series(DATE '2020-01-01', DATE '2030-12-31',
                         INTERVAL 1 DAY) t(d)
    UNION
    SELECT '1957-01-01' AS full_date
    """,
)
def op_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UNION (distinct) — date spine ∪ fallback row (ref dbt
    dim_time.sql:28-41). Spark union is UNION ALL, so distinct() restores
    SQL semantics."""
    from data_warehousing_assignment_spark.functions.dates import date_spine

    spine = date_spine(spark)  # includes the 1957 fallback + distinct
    return spine.select(_ds("full_date").alias("full_date"))


# --------------------------------------------------------------------------
# §2.8 scalar functions
# --------------------------------------------------------------------------


@query(
    "op-fn-upper-trim",
    oracle="""
    SELECT c_custkey, upper(trim(' ' || c_name || ' ')) AS name_norm
    FROM customer
    """,
)
def op_fn_upper_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPPER(TRIM(x)) (ref A3_load_dim_emp.sql:16)."""
    cust = t(spark, sf_dir, "customer")
    messy = "concat(' ', c_name, ' ')"
    return cust.select("c_custkey", F.expr(normalize_upper_trim(messy)).alias("name_norm"))


@query(
    "op-fn-initcap",
    oracle="""
    SELECT c_custkey,
           upper(substr(lower(c_mktsegment), 1, 1))
             || substr(lower(c_mktsegment), 2) AS segment_title
    FROM customer
    """,
)
def op_fn_initcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """initcap / .str.title() (ref B2_finance_etl.py:17). DuckDB has no
    initcap; the oracle titles the single-word segment manually."""
    cust = t(spark, sf_dir, "customer")
    return cust.select("c_custkey", F.expr(title_case("c_mktsegment")).alias("segment_title"))


@query(
    "op-fn-concat",
    oracle="""
    SELECT 'EMP_' || CAST(c_custkey AS VARCHAR) AS emp_id, c_name
    FROM customer
    """,
)
def op_fn_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concat('EMP_', id) fallback keys (ref stg_hr_employee.sql:39)."""
    cust = t(spark, sf_dir, "customer")
    return cust.select(
        F.concat(F.lit("EMP_"), F.col("c_custkey").cast("string")).alias("emp_id"),
        "c_name",
    )


@query(
    "op-fn-concat-ws",
    oracle="""
    SELECT c_custkey,
           concat_ws('::', c_name, c_mktsegment,
                     CAST(c_nationkey AS VARCHAR)) AS row_key
    FROM customer
    """,
)
def op_fn_concat_ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concat_ws('::', ...) row-hash input (ref A3_load_dim_emp.sql:28)."""
    cust = t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.concat_ws(
            "::", "c_name", "c_mktsegment", F.col("c_nationkey").cast("string")
        ).alias("row_key"),
    )


@query(
    "op-fn-md5",
    oracle="""
    SELECT c_custkey,
           md5(concat_ws('::', c_name, c_mktsegment,
                         CAST(c_nationkey AS VARCHAR))) AS row_hash
    FROM customer
    """,
)
def op_fn_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 row hash for SCD2 change detection (ref A3_load_dim_emp.sql:28,
    dbt generate_surrogate_key). Lower-hex in both engines."""
    cust = t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.md5(
            F.concat_ws(
                "::", "c_name", "c_mktsegment", F.col("c_nationkey").cast("string")
            )
        ).alias("row_hash"),
    )


@query(
    "op-fn-split-part",
    oracle=r"""
    SELECT p_partkey,
           CASE WHEN regexp_matches(raw, '^\d+\.0$')
                THEN split_part(raw, '.', 1) ELSE raw END AS size_clean
    FROM (SELECT p_partkey,
                 CASE WHEN p_partkey % 2 = 0
                      THEN CAST(p_size AS VARCHAR) || '.0'
                      ELSE CAST(p_size AS VARCHAR) || '.5' END AS raw
          FROM part)
    """,
)
def op_fn_split_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split_part float-string repair '2002.0'→'2002' (ref
    stg_finance_expense.sql:32-33); non-matching strings pass through."""
    part = t(spark, sf_dir, "part")
    raw = (
        "CASE WHEN p_partkey % 2 = 0 THEN concat(CAST(p_size AS STRING), '.0')"
        " ELSE concat(CAST(p_size AS STRING), '.5') END"
    )
    return part.select("p_partkey", F.expr(strip_float_suffix(raw)).alias("size_clean"))


@query(
    "op-fn-nullif-coalesce",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(TRIM(CASE WHEN c_custkey % 5 = 0 THEN '  '
                                     ELSE c_mktsegment END), ''),
                    'UNASSIGNED') AS segment_clean
    FROM customer
    """,
)
def op_fn_nullif_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce(nullif(trim(x),''), default) (ref stg_hr_employee.sql:13)."""
    cust = t(spark, sf_dir, "customer")
    dirty = F.when(F.col("c_custkey") % 5 == 0, F.lit("  ")).otherwise(
        F.col("c_mktsegment")
    )
    return cust.select(
        "c_custkey",
        F.coalesce(F.nullif(F.trim(dirty), F.lit("")), F.lit("UNASSIGNED")).alias(
            "segment_clean"
        ),
    )


@query(
    "op-fn-replace-map",
    oracle="""
    SELECT c_custkey,
           CASE WHEN upper(trim(c_mktsegment)) = 'BUILDING' THEN 'Bldg'
                WHEN upper(trim(c_mktsegment)) = 'AUTOMOBILE' THEN 'Auto'
                ELSE c_mktsegment END AS segment_short
    FROM customer
    """,
)
def op_fn_replace_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value remap via when/otherwise chain (ref A2_hr_etl.py:28-30 gender
    map) — case-insensitive match side, passthrough default."""
    cust = t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.expr(
            remap_values("c_mktsegment", {"BUILDING": "Bldg", "AUTOMOBILE": "Auto"})
        ).alias("segment_short"),
    )


@query(
    "op-fn-case",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN upper(trim(o_orderstatus)) = 'F' THEN 'Finished'
                WHEN upper(trim(o_orderstatus)) = 'O' THEN 'Open'
                WHEN upper(trim(o_orderstatus)) = 'P' THEN 'Pending'
                ELSE 'Unknown' END AS status_label
    FROM orders
    """,
)
def op_fn_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitelist CASE normalization (ref A2_hr_etl.py:66-68, Q10: non-listed
    values become the fallback, NOT passthrough)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr(
            whitelist(
                "o_orderstatus",
                {"F": "Finished", "O": "Open", "P": "Pending"},
                "Unknown",
            )
        ).alias("status_label"),
    )


@query(
    "op-fn-format",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           printf('Attempted: %d rows (%s)', CAST(COUNT(*) AS BIGINT),
                  o_orderstatus) AS audit_msg
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def op_fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORMAT audit message (ref B3_load_fin_facts.sql:121-126).

    Grouped by (status, priority) so the oracle compares 15 formatted
    rows — status-only compared 3 (r11 verdict #5)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "o_orderstatus",
            "o_orderpriority",
            F.format_string(
                "Attempted: %d rows (%s)", F.col("n"), F.col("o_orderstatus")
            ).alias("audit_msg"),
        )
    )


@query(
    "op-fn-date-parse-multi",
    oracle="""
    SELECT o_orderkey,
           strftime(COALESCE(CAST(TRY_STRPTIME(raw, '%Y-%m-%d') AS DATE),
                             CAST(TRY_STRPTIME(raw, '%d-%m-%Y') AS DATE)),
                    '%Y-%m-%d') AS parsed_date
    FROM (SELECT o_orderkey,
                 CASE WHEN o_orderkey % 3 = 0
                        THEN strftime(o_orderdate, '%d-%m-%Y')
                      WHEN o_orderkey % 3 = 1
                        THEN strftime(o_orderdate, '%Y-%m-%d')
                      ELSE 'not-a-date' END AS raw
          FROM orders)
    """,
)
def op_fn_date_parse_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format tolerant date parse, unparseable → NULL (ref
    A2_hr_etl.py:39-51 HR/Finance semantics)."""
    o = t(spark, sf_dir, "orders")
    raw = (
        "CASE WHEN o_orderkey % 3 = 0 THEN date_format(o_orderdate, 'dd-MM-yyyy')"
        " WHEN o_orderkey % 3 = 1 THEN date_format(o_orderdate, 'yyyy-MM-dd')"
        " ELSE 'not-a-date' END"
    )
    return o.select("o_orderkey", _ds(F.expr(parse_date_multi(raw))).alias("parsed_date"))


@query(
    "op-fn-date-safe",
    oracle=r"""
    SELECT o_orderkey,
           strftime(CASE WHEN regexp_matches(raw, '^\d{4}-\d{2}-\d{2}$')
                           THEN CAST(TRY_STRPTIME(raw, '%Y-%m-%d') AS DATE)
                         WHEN regexp_matches(raw, '^\d{2}-\d{2}-\d{4}$')
                           THEN CAST(TRY_STRPTIME(raw, '%d-%m-%Y') AS DATE)
                         ELSE DATE '1957-01-01' END,
                    '%Y-%m-%d') AS safe_date
    FROM (SELECT o_orderkey,
                 CASE WHEN o_orderkey % 3 = 0
                        THEN strftime(o_orderdate, '%d-%m-%Y')
                      WHEN o_orderkey % 3 = 1
                        THEN strftime(o_orderdate, '%Y-%m-%d')
                      ELSE 'not-a-date' END AS raw
          FROM orders)
    """,
)
def op_fn_date_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-dispatch date_safe macro (ref macros/utils/date_safe.sql:1-7):
    format chosen by string *shape*, unparseable → '1957-01-01'."""
    o = t(spark, sf_dir, "orders")
    raw = (
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "dd-MM-yyyy"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .otherwise(F.lit("not-a-date"))
    )
    return o.select("o_orderkey", _ds(date_safe_dispatch(raw)).alias("safe_date"))


@query(
    "op-fn-extract",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(DAY FROM o_orderdate) AS INTEGER) AS day,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS month,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INTEGER) AS quarter,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS year,
           CAST(EXTRACT(DOW FROM o_orderdate) AS INTEGER) AS dow,
           EXTRACT(DOW FROM o_orderdate) IN (0, 6) AS is_weekend
    FROM orders
    """,
)
def op_fn_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTRACT(DAY/MONTH/QUARTER/YEAR/DOW) + weekend flag (ref
    combined_dw_schema.sql:42-46). DOW translated to Postgres semantics
    (0=Sunday): Spark dayofweek −1."""
    o = t(spark, sf_dir, "orders")
    dow = F.dayofweek("o_orderdate") - F.lit(1)
    return o.select(
        "o_orderkey",
        F.dayofmonth("o_orderdate").alias("day"),
        F.month("o_orderdate").alias("month"),
        F.quarter("o_orderdate").alias("quarter"),
        F.year("o_orderdate").alias("year"),
        dow.alias("dow"),
        dow.isin(0, 6).alias("is_weekend"),
    )


@query(
    "op-fn-generate-series",
    oracle="""
    SELECT strftime(d, '%Y-%m-%d') AS month_start
    FROM generate_series(DATE '1995-01-01', DATE '2001-08-01',
                         INTERVAL 1 MONTH) t(d)
    """,
)
def op_fn_generate_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generate_series date spine, monthly step (ref
    combined_dw_schema.sql:47). sequence+explode materializes on one row —
    fine for calendar-sized spines; see dates.date_spine scale note."""
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit("1995-01-01")),
                F.to_date(F.lit("2001-08-01")),
                F.expr("interval 1 month"),
            )
        ).alias("d")
    ).select(_ds("d").alias("month_start"))


@query(
    "op-fn-current-date",
    oracle="""
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS n_rows,
           '2024-06-01' AS load_date
    FROM customer GROUP BY c_mktsegment, c_nationkey
    """,
)
def op_fn_current_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRENT_DATE stamping with injectable value for reproducibility
    (ref A3_load_dim_emp.sql:43,57,95; see functions.dates.fixed_today).

    Grouped by (segment, nation) so the oracle compares ~125 stamped
    rows — segment-only compared 5 (r11 verdict #5)."""
    from data_warehousing_assignment_spark.functions.dates import fixed_today

    cust = t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("load_date", _ds(fixed_today("2024-06-01")))
    )


@query(
    "op-fn-date-cast",
    oracle="""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date_fmt
    FROM orders
    """,
)
def op_fn_date_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """::DATE cast + strftime formatting (ref A3_load_dim_emp.sql:56,
    A2_hr_etl.py:41)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        _ds(F.col("o_orderdate").cast("date")).alias("order_date"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_fmt"),
    )


@query(
    "op-fn-abs",
    oracle="""
    SELECT c_custkey,
           abs(CASE WHEN c_custkey % 4 = 0 THEN -c_acctbal
                    ELSE c_acctbal END) AS acctbal_repaired
    FROM customer
    """,
)
def op_fn_abs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs() negative-value repair (ref A2_hr_etl.py:63)."""
    cust = t(spark, sf_dir, "customer")
    dirty = F.when(F.col("c_custkey") % 4 == 0, -F.col("c_acctbal")).otherwise(
        F.col("c_acctbal")
    )
    return cust.select("c_custkey", F.abs(dirty).alias("acctbal_repaired"))


@query(
    "op-fn-round",
    oracle=f"""
    SELECT c_custkey,
           CAST(ROUND({ex.money('c_acctbal')}, 1) AS DOUBLE)
             AS acctbal_rounded
    FROM customer
    """,
)
def op_fn_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUND(x, n) (ref KPIs.sql:34) in the exact-decimal domain so
    HALF_UP agrees across engines."""
    cust = t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey", F.round(dec("c_acctbal"), 1).cast("double").alias("acctbal_rounded")
    )


@query(
    "op-fn-tonumeric",
    oracle="""
    SELECT p_partkey,
           CAST(TRY_CAST(CASE WHEN p_partkey % 3 = 0 THEN 'abc'
                              WHEN p_partkey % 3 = 1 THEN '123.45'
                              ELSE '-7.1' END AS DECIMAL(12,2)) AS DOUBLE)
             AS amount
    FROM part
    """,
)
def op_fn_tonumeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lenient numeric cast: unparseable → NULL (ref A2_hr_etl.py:57
    pd.to_numeric(errors='coerce'))."""
    part = t(spark, sf_dir, "part")
    raw = (
        "CASE WHEN p_partkey % 3 = 0 THEN 'abc'"
        " WHEN p_partkey % 3 = 1 THEN '123.45' ELSE '-7.1' END"
    )
    return part.select(
        "p_partkey", F.expr(lenient_decimal(raw)).cast("double").alias("amount")
    )


@query(
    "op-fn-fillna",
    oracle="""
    SELECT event_id,
           COALESCE(CASE WHEN event_type = 'error' THEN NULL
                         ELSE value END, 0.0) AS value_filled
    FROM events
    """,
)
def op_fn_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """null→constant fill (ref A2_hr_etl.py:23, C2_ops_etl.py:74)."""
    e = t(spark, sf_dir, "events")
    nulled = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    return e.select("event_id", F.coalesce(nulled, F.lit(0.0)).alias("value_filled"))


@query(
    "op-fn-uuid",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(*) AS n_distinct,
           COUNT(*) AS n_len36,
           COUNT(*) AS n_rfc4122
    FROM documents
    """,
)
def op_fn_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uuid() job ids (ref combined_dw_schema.sql:122, A2_hr_etl.py:11).

    The VALUES are nondeterministic, but the STRUCTURE is not (r10
    verdict #6): every generated id must be 36 chars, RFC-4122 version 4
    with variant bits 10 (char 20 ∈ [89ab]), and per-row unique. The op
    generates one uuid() per document and returns the structural summary,
    which the oracle predicts exactly from COUNT(*) — so a broken
    generator (dupes, wrong version/variant, wrong shape) hash-fails
    instead of riding a rows-only check."""
    docs = t(spark, sf_dir, "documents")
    ids = docs.select(F.expr("uuid()").alias("job_id"))
    v4 = (
        r"^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}"
        r"-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
    )
    return ids.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("job_id").alias("n_distinct"),
        F.sum((F.length("job_id") == 36).cast("bigint")).alias("n_len36"),
        F.sum(F.col("job_id").rlike(v4).cast("bigint")).alias("n_rfc4122"),
    )


@query(
    "op-fn-bool-expr",
    oracle="""
    SELECT event_id,
           event_type = 'error' AS is_error,
           value < 5.0 AS is_small
    FROM events
    """,
)
def op_fn_bool_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison → boolean column (ref B2_finance_etl.py:27 is_refund,
    combined_dw_schema.sql:46 is_weekend)."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        (F.col("event_type") == "error").alias("is_error"),
        (F.col("value") < 5.0).alias("is_small"),
    )
