"""Pipeline registry: the composite §2.9 operators (SCD2 merge, dim
upsert, incremental fact load, snapshot, imputation, DQ/audit logs, the 8
KPI views) wired to deterministic fixtures derived from the driver's
testdata, each with a DuckDB oracle that replays the same state
transition in ANSI SQL.

Fixture conventions (all derived, never random, so both engines see the
identical input): dirtiness is injected by key arithmetic — e.g.
``c_custkey % 4 = 0`` rows get a perturbed attribute — mirroring the
reference's deliberately dirty Excel fixtures (SURVEY.md §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import exact as ex
from data_warehousing_assignment_spark.registry import (
    ROUND2_MEAN_EXPR,
    _ds,
    o_round2_mean,
    query,
    t,
)
from data_warehousing_assignment_spark.plans.scd2 import merge_scd2, scd2_row_hash
from data_warehousing_assignment_spark.plans.dims import upsert_dim
from data_warehousing_assignment_spark.plans.facts import (
    incremental_fact_insert,
    snapshot_fact,
)
from data_warehousing_assignment_spark.plans import kpi
from data_warehousing_assignment_spark.plans.dq import audit_frame, dq_log


# --------------------------------------------------------------------------
# op-pipe-scd2
# --------------------------------------------------------------------------


@query(
    "op-pipe-scd2",
    oracle="""
    WITH cur_open AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 4 = 0 THEN 'OLDSEG'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 7 <> 0
    ), hist AS (
      SELECT c_custkey, c_name, 'HISTSEG' AS c_mktsegment
      FROM customer WHERE c_custkey % 13 = 0
    ), inc AS (
      SELECT c_custkey, c_name, c_mktsegment FROM customer
    ), changed AS (
      SELECT c.c_custkey FROM cur_open c JOIN inc i USING (c_custkey)
      WHERE md5(concat_ws('::', c.c_name, c.c_mktsegment))
            IS DISTINCT FROM md5(concat_ws('::', i.c_name, i.c_mktsegment))
    ), newk AS (
      SELECT i.c_custkey FROM inc i
      WHERE NOT EXISTS (SELECT 1 FROM cur_open c
                        WHERE c.c_custkey = i.c_custkey)
    )
    SELECT c_custkey, c_name, c_mktsegment,
           md5(concat_ws('::', c_name, c_mktsegment)) AS row_hash,
           '2023-01-01' AS valid_from, '2024-01-01' AS valid_to,
           FALSE AS is_current
    FROM hist
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment,
           md5(concat_ws('::', c_name, c_mktsegment)),
           '2024-01-01', NULL, TRUE
    FROM cur_open
    WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment,
           md5(concat_ws('::', c_name, c_mktsegment)),
           '2024-01-01', '2024-06-01', FALSE
    FROM cur_open
    WHERE c_custkey IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment,
           md5(concat_ws('::', c_name, c_mktsegment)),
           '2024-06-01', NULL, TRUE
    FROM inc
    WHERE c_custkey IN (SELECT c_custkey FROM changed
                        UNION SELECT c_custkey FROM newk)
    """,
)
def op_pipe_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 hash-diff merge (ref A3_load_dim_emp.sql:27-62).

    Fixture: the open dim state has keys %7≠0 with %4=0 rows carrying a
    stale segment ('OLDSEG' → change detected), %13=0 keys carry one
    historical closed row, and the incoming batch is the clean customer
    table (%7=0 keys are brand-new members)."""
    cust = t(spark, sf_dir, "customer")
    attrs = ["c_name", "c_mktsegment"]

    row_hash = f"{scd2_row_hash(attrs)} AS row_hash"
    cur_open = (
        cust.where("c_custkey % 7 != 0")
        .selectExpr(
            "c_custkey",
            "c_name",
            "IF(c_custkey % 4 = 0, 'OLDSEG', c_mktsegment) AS c_mktsegment",
        )
        .selectExpr(
            "*", row_hash, "DATE'2024-01-01' AS valid_from",
            "CAST(NULL AS DATE) AS valid_to", "true AS is_current",
        )
    )
    hist = cust.where("c_custkey % 13 = 0").selectExpr(
        "c_custkey", "c_name", "'HISTSEG' AS c_mktsegment",
    ).selectExpr(
        "*", row_hash, "DATE'2023-01-01' AS valid_from",
        "DATE'2024-01-01' AS valid_to", "false AS is_current",
    )
    merged = merge_scd2(cur_open.unionByName(hist), cust, "c_custkey", attrs, "2024-06-01")
    return merged.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        "row_hash",
        _ds("valid_from").alias("valid_from"),
        _ds("valid_to").alias("valid_to"),
        "is_current",
    )


# --------------------------------------------------------------------------
# op-pipe-dim-upsert
# --------------------------------------------------------------------------


@query(
    "op-pipe-dim-upsert",
    oracle="""
    WITH existing AS (
      SELECT p_brand,
             CAST(ROW_NUMBER() OVER (ORDER BY p_brand) AS BIGINT) AS brand_id
      FROM (SELECT DISTINCT p_brand FROM part WHERE p_size > 25)
    ), batch AS (
      SELECT DISTINCT trim(p_brand) AS p_brand FROM part
      WHERE p_brand IS NOT NULL
    ), newm AS (
      SELECT b.p_brand FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM existing e
                        WHERE upper(trim(e.p_brand)) = upper(trim(b.p_brand)))
    ), mx AS (SELECT COALESCE(MAX(brand_id), 0) AS m FROM existing)
    SELECT brand_id, p_brand FROM existing
    UNION ALL
    SELECT m + ROW_NUMBER() OVER (ORDER BY p_brand) AS brand_id, p_brand
    FROM newm, mx
    """,
)
def op_pipe_dim_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conformed-dim incremental upsert (ref A3_load_dim_emp.sql:14-19,
    C3_load_dim_ops.sql:14-34): insert only unseen members
    (case/trim-normalized anti-join), preserve existing ids, number new
    members after max(existing_id).

    Fixture: the existing dim knows only brands appearing on large parts
    (p_size > 25); the batch carries every brand."""
    part = t(spark, sf_dir, "part")
    existing = (
        part.filter(F.col("p_size") > 25)
        .select("p_brand")
        .distinct()
        .select(
            "p_brand",
            F.row_number().over(Window.orderBy("p_brand")).cast("bigint").alias("brand_id"),
        )
    )
    return upsert_dim(existing, part.select("p_brand"), "p_brand", "brand_id").select(
        "brand_id", "p_brand"
    )


# --------------------------------------------------------------------------
# op-pipe-fact-incr / op-pipe-snapshot
# --------------------------------------------------------------------------


@query(
    "op-pipe-fact-incr",
    oracle="""
    SELECT b.l_orderkey, b.l_linenumber,
           strftime(b.l_shipdate, '%Y-%m-%d') AS ship_date
    FROM lineitem b
    WHERE b.l_shipdate >= TIMESTAMP '1996-10-01'
      AND b.l_shipdate <  TIMESTAMP '1997-07-01'
      AND NOT EXISTS (
        SELECT 1 FROM lineitem e
        WHERE e.l_shipdate < TIMESTAMP '1997-01-01'
          AND e.l_orderkey = b.l_orderkey
          AND e.l_linenumber = b.l_linenumber
          AND e.l_shipdate = b.l_shipdate)
    """,
)
def op_pipe_fact_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fact load with NOT-EXISTS dedup (ref
    B3_load_fin_facts.sql:67-126) + the partition-prune wrapper the
    reference lacks: the existing fact is pre-filtered to the batch's
    date window before the anti-join, so only the overlap days shuffle.

    The dedup key INCLUDES the date column (the reference's NOT EXISTS
    also compares time_id, B3_load_fin_facts.sql:84-94) — that is what
    makes the date-window prune semantics-preserving: any existing match
    must share the batch row's date, hence lie inside the pruned window.

    Fixture: fact holds everything shipped before 1997; the (overlapping)
    batch re-delivers Oct-1996..Jun-1997."""
    li = t(spark, sf_dir, "lineitem")
    existing = li.filter(F.col("l_shipdate") < "1997-01-01").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    batch = li.filter(
        (F.col("l_shipdate") >= "1996-10-01") & (F.col("l_shipdate") < "1997-07-01")
    ).select("l_orderkey", "l_linenumber", "l_shipdate")
    inserted = incremental_fact_insert(existing, batch, date_col="l_shipdate")
    return inserted.select(
        "l_orderkey", "l_linenumber", _ds("l_shipdate").alias("ship_date")
    )


@query(
    "op-pipe-snapshot",
    oracle="""
    WITH td AS (
      SELECT full_date,
             CAST(ROW_NUMBER() OVER (ORDER BY full_date) AS BIGINT) AS time_id
      FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS full_date FROM orders)
    )
    SELECT c_custkey, c_acctbal AS salary, 'Active' AS status, time_id,
           strftime(full_date, '%Y-%m-%d') AS snapshot_date
    FROM customer
    CROSS JOIN (SELECT * FROM td WHERE full_date = DATE '1996-12-28')
    """,
)
def op_pipe_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily snapshot fact (ref A3_load_dim_emp.sql:85-95): current dim
    rows × the single time row for the snapshot date (broadcast 1-row
    side, dim never shuffles)."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    time_dim = (
        orders.select(F.col("o_orderdate").cast("date").alias("full_date"))
        .distinct()
        .select(
            "full_date",
            F.row_number().over(Window.orderBy("full_date")).cast("bigint").alias("time_id"),
        )
    )
    dim_current = cust.select(
        "c_custkey",
        F.col("c_acctbal").alias("salary"),
        F.lit("Active").alias("status"),
    )
    snap = snapshot_fact(dim_current, time_dim, "1996-12-28")
    return snap.select(
        "c_custkey", "salary", "status", "time_id",
        _ds("full_date").alias("snapshot_date"),
    )


# --------------------------------------------------------------------------
# op-pipe-impute / op-join-left-fill
# --------------------------------------------------------------------------

_IMPUTE_ORACLE = f"""
    WITH dirty AS (
      SELECT event_id, {{key}} AS grp,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    ), sums AS (
      SELECT grp, {ex.sum_cents('v')} AS _p, COUNT(v) AS _c
      FROM dirty GROUP BY grp
    ), means AS (
      SELECT grp,
             CASE WHEN _c = 0 THEN NULL
                  ELSE {o_round2_mean('_p', '_c')} END AS grp_mean
      FROM sums
    )
    SELECT d.event_id,
           CAST(COALESCE(d.v, m.grp_mean, 0.0) AS DOUBLE) AS value_filled
    FROM dirty d LEFT JOIN means m ON d.grp = m.grp
"""


def _impute(spark: SparkSession, sf_dir: str, key_expr, key_name: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    dirty = e.select(
        "event_id",
        key_expr.alias("grp"),
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    # The rounded mean is computed ENTIRELY in exact int64 cents
    # (registry.ROUND2_MEAN_EXPR): engines disagree on rounding doubles
    # near 2-dp ties in both directions (surfaced by the sf0.1 run), so
    # no double is ever rounded on either side.
    means = (
        dirty.groupBy("grp")
        .agg(F.expr(ex.sum_cents("v")).alias("_p"), F.count("v").alias("_c"))
        .select(
            "grp",
            F.when(F.col("_c") > 0, F.expr(ROUND2_MEAN_EXPR)).alias("grp_mean"),
        )
    )
    return (
        dirty.join(means, on="grp", how="left")
        .select(
            "event_id",
            F.coalesce("v", "grp_mean", F.lit(0.0)).cast("double").alias("value_filled"),
        )
    )


@query("op-pipe-impute", oracle=_IMPUTE_ORACLE.format(key="user_id"))
def op_pipe_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation (ref C2_ops_etl.py:62-85): null measures get
    the per-group rounded mean, then 0. Expressed as groupBy+join (the
    reference's own shape) with exact-decimal means so both engines agree;
    the window single-pass variant lives in cleaning.group_mean_impute."""
    return _impute(spark, sf_dir, F.col("user_id"), "user_id")


@query("op-join-left-fill", oracle=_IMPUTE_ORACLE.format(key="event_type"))
def op_join_left_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-join mean fill keyed by event_type (ref stg_ops_downtime.
    sql:35-47). The 'error' group is entirely null → its mean is NULL →
    the constant-0 fallback path is exercised."""
    return _impute(spark, sf_dir, F.col("event_type"), "event_type")


# --------------------------------------------------------------------------
# op-join-update (immutable UPDATE ... FROM)
# --------------------------------------------------------------------------


@query(
    "op-join-update",
    oracle="""
    SELECT o_orderkey, c_nationkey AS nation_id,
           md5(concat_ws('::', CAST(o_orderkey AS VARCHAR), o_orderstatus))
             AS row_hash
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
)
def op_join_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... FROM re-expressed immutably (ref A3_load_dim_emp.
    sql:36-39, C3_load_dim_ops.sql:53-66): stamping dim FK ids + row_hash
    onto staging becomes a left join + projection — no in-place mutation
    exists in Spark (SURVEY §1.3)."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left")
        .select(
            "o_orderkey",
            F.col("c_nationkey").alias("nation_id"),
            F.md5(
                F.concat_ws(
                    "::", F.col("o_orderkey").cast("string"), F.col("o_orderstatus")
                )
            ).alias("row_hash"),
        )
    )


# --------------------------------------------------------------------------
# op-pipe-dq / op-pipe-audit
# --------------------------------------------------------------------------

_DIRTY_CUST = """
      SELECT c_custkey,
             CASE WHEN c_custkey % 11 = 0 THEN '' ELSE c_name END AS name,
             CASE WHEN c_custkey % 5 = 0 THEN 'nan' ELSE c_mktsegment END AS segment,
             c_acctbal AS acctbal
      FROM customer
"""


#: The repair predicates the DQ log and the audit count over the dirty frame
_NEG_BALANCE = "acctbal < 0"
_NULLISH_SEGMENT = "lower(trim(segment)) IN ('', 'nan', 'null')"


def _dirty_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 11 == 0, F.lit("")).otherwise(F.col("c_name")).alias("name"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("nan")).otherwise(F.col("c_mktsegment")).alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )


@query(
    "op-pipe-dq",
    oracle=f"""
    WITH dirty AS ({_DIRTY_CUST})
    SELECT 'staging_customer' AS table_name, 'acctbal' AS column_name,
           CAST(c_custkey AS VARCHAR) AS row_reference,
           CAST(acctbal AS VARCHAR) AS original_value,
           'negative balance repaired with abs()' AS issue
    FROM dirty WHERE acctbal < 0
    UNION ALL
    SELECT 'staging_customer', 'segment', CAST(c_custkey AS VARCHAR),
           segment, 'null-like sentinel replaced'
    FROM dirty WHERE lower(trim(segment)) IN ('', 'nan', 'null')
    UNION ALL
    SELECT 'staging_customer', 'name', CAST(c_custkey AS VARCHAR),
           name, 'blank name -> fallback id'
    FROM dirty WHERE trim(name) = ''
    """,
)
def op_pipe_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ logging (ref A2_hr_etl.py:32-36,58-62): one log row per repair,
    every rule one element of a single generator projection — one
    columnar pass over the batch, not the reference's per-row Python loop.

    Fixture: customer dirtied by key arithmetic (blank names %11,
    sentinel segments %5, plus naturally negative balances)."""
    return dq_log(
        _dirty_customer(spark, sf_dir), "staging_customer", "c_custkey",
        [
            ("acctbal", _NEG_BALANCE, "negative balance repaired with abs()"),
            ("segment", _NULLISH_SEGMENT, "null-like sentinel replaced"),
            ("name", "trim(name) = ''", "blank name -> fallback id"),
        ],
    )


@query(
    "op-pipe-audit",
    oracle=f"""
    WITH dirty AS ({_DIRTY_CUST}),
    s1 AS (
      SELECT COUNT(*) AS rows_processed,
             CAST(SUM(CASE WHEN acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS rows_failed
      FROM dirty
    ),
    s2 AS (
      SELECT COUNT(*) AS rows_processed,
             CAST(SUM(CASE WHEN lower(trim(segment)) IN ('', 'nan', 'null')
                           THEN 1 ELSE 0 END) AS BIGINT) AS rows_failed
      FROM dirty
    )
    SELECT 'staging_customer' AS table_name, 'extract' AS etl_stage,
           rows_processed, rows_failed,
           CASE WHEN rows_failed = 0 THEN 'success'
                WHEN rows_failed < rows_processed THEN 'partial'
                ELSE 'failed' END AS status,
           printf('Processed %d rows, %d failed', rows_processed, rows_failed)
             AS message
    FROM s1
    UNION ALL
    SELECT 'staging_customer', 'transform', rows_processed, rows_failed,
           CASE WHEN rows_failed = 0 THEN 'success'
                WHEN rows_failed < rows_processed THEN 'partial'
                ELSE 'failed' END,
           printf('Processed %d rows, %d failed', rows_processed, rows_failed)
    FROM s2
    """,
)
def op_pipe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit logging (ref A2_hr_etl.py:103-119): per-stage row with
    rows_processed / rows_failed / status ∈ {success, partial, failed},
    computed plan-side (aggregates, no driver collect).

    Small-result note (r11 verdict #5): one row per ETL stage is the
    reference's audit-log contract (A2_hr_etl.py logs exactly one row per
    stage) — cardinality is contract-sized; discrimination comes from the
    rows_processed/rows_failed/status/message values over the full dirty
    frame."""
    dirty = _dirty_customer(spark, sf_dir)
    return audit_frame(dirty, "staging_customer", "extract", _NEG_BALANCE).unionByName(
        audit_frame(dirty, "staging_customer", "transform", _NULLISH_SEGMENT)
    )


# --------------------------------------------------------------------------
# op-pipe-kpi: the 8 views (ref KPIs.sql:3-110)
# --------------------------------------------------------------------------


@query(
    "op-pipe-kpi-headcount",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           COUNT(DISTINCT o_custkey) AS headcount
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY 1 ORDER BY 1
    """,
)
def op_kpi_headcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_kpi_headcount (ref KPIs.sql:3-13)."""
    return kpi.kpi_headcount(t(spark, sf_dir, "orders"))


@query(
    "op-pipe-kpi-resignations",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           COUNT(DISTINCT o_custkey) AS resignations
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY 1 ORDER BY 1
    """,
)
def op_kpi_resignations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_kpi_resignations (ref KPIs.sql:17-27)."""
    return kpi.kpi_resignations(t(spark, sf_dir, "orders"))


@query(
    "op-pipe-kpi-avg-salary",
    oracle=f"""
    WITH s AS (
      SELECT c_mktsegment, {ex.sum_cents('c_acctbal')} AS _p, COUNT(*) AS _c
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment AS segment, {o_round2_mean('_p', '_c')} AS avg_salary
    FROM s
    """,
)
def op_kpi_avg_salary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_kpi_avg_salary_by_gender (ref KPIs.sql:31-38)."""
    return kpi.kpi_avg_salary_by_gender(t(spark, sf_dir, "customer"))


@query(
    "op-pipe-kpi-gross-monthly",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           n_name AS department, o_orderpriority AS expense_type,
           CAST(SUM({ex.cents('o_totalprice')}) AS DOUBLE) / 100.0
             AS gross_amount
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def op_kpi_gross_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_kpi_gross_monthly_expenses_by_dept_type (ref KPIs.sql:43-57)."""
    return kpi.kpi_gross_monthly_expenses(
        t(spark, sf_dir, "orders"),
        t(spark, sf_dir, "customer"),
        t(spark, sf_dir, "nation"),
    )


@query(
    "op-pipe-kpi-net-monthly-dept",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           n_name AS department,
           CAST(ROUND(SUM({ex.money('l_extendedprice')}
                          * (1 - {ex.money('l_discount')})), 2)
                AS DOUBLE) AS net_amount
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag <> 'R'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def op_kpi_net_monthly_dept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_kpi_net_monthly_expenses_by_dept_type (ref KPIs.sql:61-74);
    refunds (l_returnflag='R') excluded like is_refund=FALSE."""
    return kpi.kpi_net_monthly_expenses_by_dept(
        t(spark, sf_dir, "lineitem"),
        t(spark, sf_dir, "orders"),
        t(spark, sf_dir, "customer"),
        t(spark, sf_dir, "nation"),
    )


@query(
    "op-pipe-kpi-net-by-type",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           o_orderpriority AS expense_type,
           CAST(ROUND(SUM({ex.money('l_extendedprice')}
                          * (1 - {ex.money('l_discount')})), 2)
                AS DOUBLE) AS net_amount
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_returnflag <> 'R'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def op_kpi_net_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_kpi_net_monthly_expenses_by_expense (ref KPIs.sql:77-88)."""
    return kpi.kpi_net_monthly_expenses_by_type(
        t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "orders")
    )


@query(
    "op-pipe-kpi-downtime-by-process",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST(ROUND(SUM({ex.money('value')}), 2) AS DOUBLE)
               AS total_downtime,
             {ex.sum_cents('value')} AS _p, COUNT(*) AS _c
      FROM events GROUP BY event_type
    )
    SELECT event_type AS process_name, total_downtime,
           {o_round2_mean('_p', '_c')} AS avg_downtime
    FROM s ORDER BY total_downtime DESC, process_name
    """,
)
def op_kpi_downtime_process(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_kpi_downtime_by_process (ref KPIs.sql:91-99)."""
    return kpi.kpi_downtime_by_process(t(spark, sf_dir, "events"))


@query(
    "op-pipe-kpi-downtime-by-dept",
    oracle=f"""
    WITH s AS (
      SELECT user_id % 5 AS department_id,
             CAST(ROUND(SUM({ex.money('value')}), 2) AS DOUBLE)
               AS total_downtime,
             {ex.sum_cents('value')} AS _p, COUNT(*) AS _c
      FROM events GROUP BY 1
    )
    SELECT department_id, total_downtime,
           {o_round2_mean('_p', '_c')} AS avg_downtime
    FROM s ORDER BY total_downtime DESC, department_id
    """,
)
def op_kpi_downtime_dept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_kpi_downtime_by_department (ref KPIs.sql:102-110)."""
    return kpi.kpi_downtime_by_department(t(spark, sf_dir, "events"))
