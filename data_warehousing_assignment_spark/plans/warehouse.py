"""End-to-end warehouse ETL: the reference's three pipelines (HR,
Finance, Operations) as one orchestrated Spark job over the dirty
fixtures — extract/clean with DQ logging, conformed-dim upserts, SCD2
employee dim, time spine, snapshot + incremental facts, audit rows.

Reference entry points re-expressed (SURVEY.md §3):
* ``python ET_combined.py`` (pandas clean → staging, ref
  ``ET_combined.py:435-439``) → :func:`clean_hr` / :func:`clean_finance`
  / :func:`clean_ops`.
* ``psql \\i TL_combine.sql`` (dims + SCD2 + facts + audit, ref
  ``TL_combine.sql``) → :func:`load_warehouse`.

Staging is materialized once per load, as the reference cleans each
batch into staging once and loads every dim and fact from it. Each frame
that more than one output reads is checkpointed as it is built (an eager
``localCheckpoint``, :func:`~..caching.checkpoint`): the three raw
batches (read by the clean step, the DQ log and HR's duplicate report),
the three cleaned batches (the dims, SCD2, the facts), each conformed
dim after its upserts and the SCD2-merged ``dim_employee`` (their own
writes and the fact lookups), and a freshly built ``dim_time`` (the
three facts' time lookup). The returned facts and DQ log stay lazy, each
written once, and plan over those small lineage-free frames instead of
the raw files. A checkpoint, not a persist: Spark's CacheManager matches
a later read of the same path to a persisted plan, so a batch that the
feed rewrites in place and that is loaded again in the same session
would load the old rows; nothing matches a checkpoint, and all outputs
of a load see one snapshot of its batch. Inside a caller's
``cache_scope()`` the checkpoints are released when the scope exits;
outside one, Spark's ContextCleaner frees them once the returned state
is dropped.

The reference's in-place staging mutation (ALTER/UPDATE ... FROM, ref
``A3_load_dim_emp.sql:22-39``) becomes immutable joins, and its
INSERT...RETURNING count bookkeeping becomes ``Observation`` counts on
the cleaned batches' checkpoints, so the audit rows cost no job of their
own.

Semantics choices (SURVEY.md §8 quirks): Q3 duplicates ARE dropped (the
standalone-script behavior, not the combined script's bug); Q4 the
snapshot fact IS dedup-guarded; Q5 HR/Finance dates fall back to NULL,
Ops to 1957-01-01; Q7 gender keeps the full 'UNKNOWN' string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.caching import checkpoint
from data_warehousing_assignment_spark.functions import cleaning as cl
from data_warehousing_assignment_spark.functions.dates import build_dim_time
from data_warehousing_assignment_spark.operators.dedup import duplicate_rows
from data_warehousing_assignment_spark.operators.joins import case_insensitive_join
from data_warehousing_assignment_spark.plans.dq import AUDIT_STATUS, dq_log
from data_warehousing_assignment_spark.plans.dims import upsert_dim
from data_warehousing_assignment_spark.plans.facts import (
    incremental_fact_insert,
    snapshot_fact,
)
from data_warehousing_assignment_spark.plans.scd2 import merge_scd2

GENDER_MAP = {"M": "M", "MALE": "M", "F": "F", "FEMALE": "F"}
STATUS_MAP = {"ACTIVE": "Active", "RESIGNED": "Resigned"}
EMP_ATTRS = ["name", "gender", "date_of_joining", "manager_id", "department"]


# --------------------------------------------------------------------------
# Extract + Transform (ref ET_combined.py / A2+B2+C2)
# --------------------------------------------------------------------------

#: One rule per cleaned column: (column, SQL over the raw batch, the DQ
#: entry its repair logs or None). A DQ entry is (raw column, predicate
#: SQL, issue), as :func:`~.dq.dq_log` takes it. Each parse is one named
#: SQL fragment that the cleaned column and its predicate share, so a
#: repair and its log entry cannot drift apart.
Rule = tuple[str, str, tuple[str, str, str] | None]

# Fabricated employee ids use the hash path (TEMP_<md5 of attributes>) —
# no single-partition exchange, and the SAME id on a re-load of the same
# batch, which keeps SCD2 and the snapshot fact idempotent even for rows
# whose natural key was missing.
_EMP_ID = cl.fallback_id_hash(
    "EmployeeID", "TEMP_",
    ["Name", "Department", "Gender", "DateOfJoining", "ManagerID", "Salary", "Status"],
)
_DEPARTMENT = cl.dedup_sentinels(cl.normalize_upper_trim("Department"), "UNASSIGNED_DEPT")
_JOINED = cl.parse_date_multi("DateOfJoining")
_SALARY = cl.lenient_decimal("Salary")
_MANAGER = cl.blank_to_null(cl.strip_float_suffix("ManagerID"))
_GENDERS = ", ".join(cl.sql_str(k) for k in GENDER_MAP)

HR_RULES: tuple[Rule, ...] = (
    ("employee_id", _EMP_ID, None),
    ("name", f"coalesce({cl.blank_to_null('Name')}, concat('EMP_', {_EMP_ID}))", None),
    ("department", _DEPARTMENT, None),
    ("gender", cl.whitelist("Gender", GENDER_MAP, "UNKNOWN"),
     ("Gender", f"{cl.normalize_upper_trim('Gender')} NOT IN ({_GENDERS})",
      "invalid gender set to UNKNOWN")),
    ("date_of_joining", _JOINED,
     ("DateOfJoining", f"{_JOINED} IS NULL AND {cl.blank_to_null('DateOfJoining')} IS NOT NULL",
      "unparseable date set to NULL")),
    ("manager_id", f"coalesce({_MANAGER}, 'UNKNOWN')",
     ("ManagerID", f"{_MANAGER} IS NULL", "missing manager set to UNKNOWN")),
    ("salary", f"abs({_SALARY})",
     ("Salary", f"{_SALARY} < 0", "negative salary repaired with abs()")),
    ("status", cl.whitelist("Status", STATUS_MAP, "Unknown"), None),
)

_AMOUNT = cl.lenient_decimal("ExpenseAmount")
_APPROVER = cl.blank_to_null(cl.strip_float_suffix("ApprovedBy"))

FINANCE_RULES: tuple[Rule, ...] = (
    ("employee_id", "trim(EmployeeID)", None),
    ("expense_type", cl.title_case(cl.remap_values(
        cl.dedup_sentinels("ExpenseType", "Unknown"), {"Travell": "Travel"})), None),
    ("expense_amount", _AMOUNT, None),
    ("is_refund", f"{_AMOUNT} < 0",
     ("ExpenseAmount", f"{_AMOUNT} < 0", "negative amount flagged as refund")),
    ("expense_date", cl.parse_date_multi("ExpenseDate"), None),
    ("approved_by", f"coalesce({_APPROVER}, 'UNKNOWN')",
     ("ApprovedBy", f"{_APPROVER} IS NULL", "missing approver set to UNKNOWN")),
)

_HOURS = cl.lenient_decimal("DowntimeHours", 10, 2)
_PROCESSED = cl.parse_date_multi("ProcessDate")

OPS_RULES: tuple[Rule, ...] = (
    ("department", _DEPARTMENT, None),
    ("process_name", cl.dedup_sentinels("ProcessName", "UNKNOWN_PROCESS"), None),
    ("location", "trim(Location)", None),
    # NULL here is imputed by clean_ops from its group mean
    ("downtime_hours", f"CAST({_HOURS} AS DOUBLE)",
     ("DowntimeHours", f"{_HOURS} IS NULL", "missing downtime imputed")),
    ("process_date", cl.parse_date_multi("ProcessDate", fallback="1957-01-01"),
     ("ProcessDate", f"{_PROCESSED} IS NULL", "invalid date set to 1957-01-01")),
)


def apply_rules(
    raw: DataFrame, table_name: str, row_ref: str, rules: tuple[Rule, ...]
) -> tuple[DataFrame, DataFrame]:
    """(clean, dq_log) of one raw batch from its rule table: the clean
    frame is the deduplicated batch in one projection of every rule, the
    log one projection of every rule's DQ entry over the raw batch (so a
    duplicated dirty row logs once per copy)."""
    clean = raw.dropDuplicates().selectExpr(*(f"{sql} AS {col}" for col, sql, _ in rules))
    return clean, dq_log(raw, table_name, row_ref, [dq for _, _, dq in rules if dq])


def clean_hr(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """HR cleaning (ref ``A2_hr_etl.py:14-93``): returns (clean, dq_log);
    the log also reports each set of exact duplicate rows dropped."""
    clean, dq = apply_rules(raw, "staging_employee", "EmployeeID", HR_RULES)
    duplicates = duplicate_rows(raw).select(
        F.lit("staging_employee").alias("table_name"),
        F.lit("*").alias("column_name"),
        F.col("EmployeeID").cast("string").alias("row_reference"),
        F.col("n_rows").cast("string").alias("original_value"),
        F.lit("exact duplicate rows dropped").alias("issue"),
    )
    return clean, dq.unionByName(duplicates)


def clean_finance(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Finance cleaning (ref ``B2_finance_etl.py:12-76``)."""
    return apply_rules(raw, "staging_finance", "EmployeeID", FINANCE_RULES)


def clean_ops(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Operations cleaning (ref ``C2_ops_etl.py:12-113``): group-mean
    imputation for missing downtime, 1957 date fallback."""
    staged, dq = apply_rules(raw, "staging_operations", "ProcessName", OPS_RULES)
    clean = cl.group_mean_impute(
        staged, "downtime_hours", ["department", "process_name", "location"]
    )
    return clean, dq


# --------------------------------------------------------------------------
# Transform + Load (ref TL_combine.sql)
# --------------------------------------------------------------------------

#: Schema of each incremental state table, for the empty prior of a key
#: an initial load has no prior for.
STATE_SCHEMAS = {
    "dim_department": "department_id int, department_name string",
    "dim_expense_type": "expense_type_id int, expense_type_name string",
    "dim_process": "process_id int, process_name string",
    "dim_location": "location_id int, location_name string",
    "dim_employee": (
        "employee_id string, name string, gender string, date_of_joining date, "
        "manager_id string, department string, row_hash string, "
        "valid_from date, valid_to date, is_current boolean"
    ),
    "fact_employee": "employee_id string, time_id int, salary decimal(12,2), status string",
    "fact_expenses": (
        "employee_id string, expense_type_id int, expense_amount decimal(12,2), "
        "approved_by string, time_id int, is_refund boolean"
    ),
    "fact_downtime": (
        "department_id int, process_id int, location_id int, time_id int, "
        "downtime_hours decimal(10,2)"
    ),
}


#: The conformed dims: table -> (id column, member column, the cleaned
#: (domain, column) pairs its members are upserted from, in order).
DIMS = {
    "dim_department": (
        "department_id", "department_name", (("hr", "department"), ("ops", "department")),
    ),
    "dim_expense_type": ("expense_type_id", "expense_type_name", (("fin", "expense_type"),)),
    "dim_process": ("process_id", "process_name", (("ops", "process_name"),)),
    "dim_location": ("location_id", "location_name", (("ops", "location"),)),
}


#: The audit row of each cleaned domain: (domain, audited table, SQL
#: predicate of a failed row), counted as the domain is materialized.
AUDITS = (
    ("hr", "dim_employee", "date_of_joining IS NULL"),
    ("fin", "fact_expenses", "expense_date IS NULL OR expense_amount IS NULL"),
    ("ops", "fact_downtime", "downtime_hours IS NULL"),
)
#: The audit counts' schema: non-null, as the count aggregates are.
AUDIT_COUNTS = (
    "table_name string not null, etl_stage string not null, "
    "rows_processed bigint not null, rows_failed bigint not null"
)


def load_warehouse(
    spark: SparkSession,
    hr_clean: DataFrame,
    fin_clean: DataFrame,
    ops_clean: DataFrame,
    load_date: str,
    prior: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Phase-3 load: dims (upsert + SCD2) → facts (snapshot + incremental)
    → audit. ``prior`` carries the previous warehouse state (same keys as
    the returned dict) so incremental semantics are first-class; omit it
    for an initial load. Returns the new state.

    The cleaned batches, the dims and a freshly built ``dim_time`` are
    checkpointed here (see the module docstring); the audit is a 3-row
    local relation of the counts observed on the cleaned batches'
    checkpoints.
    """
    prior = prior or {}

    def prior_of(key: str) -> DataFrame:
        # an empty frame only for a key the prior lacks: a default
        # argument to prior.get would be built on every load
        if key in prior:
            return prior[key]
        return spark.createDataFrame([], STATE_SCHEMAS[key])

    clean = {"hr": hr_clean, "fin": fin_clean, "ops": ops_clean}
    observed = {}
    for domain, _, failed in AUDITS:
        observed[domain] = Observation()
        clean[domain] = checkpoint(clean[domain].observe(
            observed[domain],
            F.expr("count(1) AS rows_processed"), F.expr(f"count_if({failed}) AS rows_failed"),
        ))
    hr_clean, fin_clean, ops_clean = clean["hr"], clean["fin"], clean["ops"]

    state: dict[str, DataFrame] = {}
    for table, (id_col, member, sources) in DIMS.items():
        dim = prior_of(table)
        for domain, col in sources:
            dim = upsert_dim(dim, clean[domain].selectExpr(f"{col} AS {member}"), member, id_col)
        state[table] = checkpoint(dim)

    state["dim_employee"] = checkpoint(merge_scd2(
        prior_of("dim_employee"),
        hr_clean.selectExpr("employee_id", *EMP_ATTRS),
        "employee_id", EMP_ATTRS, load_date,
    ))
    dim_time = prior.get("dim_time")
    state["dim_time"] = checkpoint(build_dim_time(spark)) if dim_time is None else dim_time

    # --- facts ------------------------------------------------------------
    emp_current = state["dim_employee"].where("is_current").selectExpr("employee_id")
    time_ids = F.broadcast(state["dim_time"].selectExpr("time_id", "full_date"))

    def lookup(facts: DataFrame, table: str, col: str) -> DataFrame:
        # on the normalized member key, which upsert_dim keeps unique
        return case_insensitive_join(facts, F.broadcast(state[table]), col, DIMS[table][1])

    # Snapshot fact (ref A3_load_dim_emp.sql:85-95) + Q4 dedup guard
    snapshot_batch = snapshot_fact(
        hr_clean.join(emp_current, on="employee_id", how="left_semi"),
        state["dim_time"], load_date,
    ).selectExpr("employee_id", "time_id", "salary", "status")

    # Expense fact (ref B3_load_fin_facts.sql:67-126): orphan FKs DQ'd and
    # dropped by the inner dim join; full-row NOT EXISTS dedup.
    state["fk_dq"] = dq_log(
        fin_clean.join(emp_current, on="employee_id", how="left_anti"),
        "fact_expenses", "employee_id",
        [("employee_id", "true", "unmatched employee FK dropped")],
    )
    expense_batch = (
        lookup(fin_clean.join(emp_current, on="employee_id"), "dim_expense_type", "expense_type")
        .join(time_ids, F.expr("expense_date = full_date"))
        .selectExpr(
            "employee_id", "expense_type_id", "expense_amount",
            "approved_by", "time_id", "is_refund",
        )
    )

    # Downtime fact (ref C3_load_dim_ops.sql:71-122)
    downtime = ops_clean
    for table, col in (
        ("dim_department", "department"),
        ("dim_process", "process_name"),
        ("dim_location", "location"),
    ):
        downtime = lookup(downtime, table, col)
    downtime_batch = downtime.join(time_ids, F.expr("process_date = full_date")).selectExpr(
        "department_id", "process_id", "location_id", "time_id",
        "CAST(downtime_hours AS decimal(10,2)) AS downtime_hours",
    )

    for table, batch in (
        ("fact_employee", snapshot_batch),
        ("fact_expenses", expense_batch),
        ("fact_downtime", downtime_batch),
    ):
        loaded = prior_of(table)
        state[table] = loaded.unionByName(incremental_fact_insert(loaded, batch))

    counts = []
    for domain, table, _ in AUDITS:
        got = observed[domain].get
        counts.append((table, "load", got["rows_processed"], got["rows_failed"]))
    state["audit"] = spark.createDataFrame(counts, AUDIT_COUNTS).selectExpr(*AUDIT_STATUS)
    return state


def run_etl(
    spark: SparkSession,
    hr_raw: DataFrame,
    fin_raw: DataFrame,
    ops_raw: DataFrame,
    load_date: str,
    prior: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """The full ``ET_combined.py`` + ``TL_combine.sql`` flow in one call:
    clean all three domains (collecting DQ), load the warehouse, and
    return state + logs. The raw batches are checkpointed first: the
    clean step, the DQ log and HR's duplicate report each read them."""
    hr_raw, fin_raw, ops_raw = (checkpoint(raw) for raw in (hr_raw, fin_raw, ops_raw))
    hr, hr_dq = clean_hr(hr_raw)
    fin, fin_dq = clean_finance(fin_raw)
    ops, ops_dq = clean_ops(ops_raw)
    state = load_warehouse(spark, hr, fin, ops, load_date, prior)
    state["dq"] = hr_dq.unionByName(fin_dq).unionByName(ops_dq).unionByName(state.pop("fk_dq"))
    return state
