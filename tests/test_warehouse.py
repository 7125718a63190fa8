"""Golden end-to-end warehouse test on dirty-fixture replicas
(FIXTURES.md): every dirt pattern the reference's fixtures exercise, the
SCD2 day-2 batch, and incremental idempotency."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.plans import warehouse as wh

HR_COLS = "EmployeeID string, Name string, Department string, Gender string, DateOfJoining string, ManagerID string, Salary string, Status string"
HR_ROWS = [
    ("1001", "Alice", "IT", "F", "2018-01-15", "2001", "55000", "Active"),
    ("1001", "Alice", "IT", "F", "2018-01-15", "2001", "55000", "Active"),  # exact dup
    ("1002", "Bob", "It", "m", "15-01-2018", "2003.0", "-10000", "Active"),  # case/dayfirst/float-str/negative
    ("1003", "", "", "MALE", "2019-03-01", "", "61000", "resigned"),  # blanks
    ("", "Dana", "HR", "x", "not-a-date", "2001", "oops", "whatever"),  # missing id, junk
]
FIN_COLS = "EmployeeID string, ExpenseType string, ExpenseAmount string, ExpenseDate string, ApprovedBy string"
FIN_ROWS = [
    ("1001", "Travell", "120.50", "2024-01-10", "2001"),
    ("1002", "meals", "-50.75", "2024-01-11", "2002.0"),  # refund + float-str approver
    ("9999", "Supplies", "10.00", "2024-01-12", "2001"),  # orphan FK
    ("1003", "", "30.00", "2025-12-31", ""),  # blank type, future date, blank approver
]
OPS_COLS = "Department string, ProcessName string, DowntimeHours string, ProcessDate string, Location string"
OPS_ROWS = [
    ("IT", "Backup", "2.5", "2024-01-10", "HQ"),
    ("IT", "Backup", "", "2024-01-11", "HQ"),  # missing hours → group mean 2.5
    ("Legal", "Audit", "4.0", "bad-date", "Remot Site A"),  # 1957 fallback + typo location kept
    ("", "", "1.0", "2024-01-12", "Warehouse"),  # blank dept/process
]

LOAD_DATE = "2024-02-01"


@pytest.fixture(scope="module")
def state(spark):
    hr = spark.createDataFrame(HR_ROWS, HR_COLS)
    fin = spark.createDataFrame(FIN_ROWS, FIN_COLS)
    ops = spark.createDataFrame(OPS_ROWS, OPS_COLS)
    return wh.run_etl(spark, hr, fin, ops, LOAD_DATE)


def test_hr_cleaning_golden(spark, state):
    emp = {r.employee_id: r for r in state["dim_employee"].collect()}
    assert len(emp) == 4  # dup dropped, TEMP id fabricated
    assert emp["1001"].department == "IT"
    assert emp["1002"].department == "IT"  # 'It' normalized
    assert emp["1002"].gender == "M"
    assert emp["1002"].manager_id == "2003"  # float-string stripped
    assert emp["1002"].date_of_joining == dt.date(2018, 1, 15)  # day-first
    assert emp["1003"].name == "EMP_1003"  # blank name fallback
    assert emp["1003"].department == "UNASSIGNED_DEPT"
    temp = [k for k in emp if k.startswith("TEMP_")]
    assert len(temp) == 1  # missing EmployeeID fabricated
    assert emp[temp[0]].gender == "UNKNOWN"
    assert emp[temp[0]].date_of_joining is None  # HR fallback = NULL


def test_salary_abs_and_status_whitelist(spark, state):
    snap = {r.employee_id: r for r in state["fact_employee"].collect()}
    assert float(snap["1002"].salary) == 10000.0  # abs repair
    assert snap["1003"].status == "Resigned"
    temp = [k for k in snap if k.startswith("TEMP_")]
    assert snap[temp[0]].status == "Unknown"
    assert snap[temp[0]].salary is None  # 'oops' coerced to NULL


def test_dims_conformed(spark, state):
    depts = {r.department_name for r in state["dim_department"].collect()}
    # HR ∪ Ops members incl. LEGAL (ops-only) and UNASSIGNED_DEPT
    assert {"IT", "HR", "LEGAL", "UNASSIGNED_DEPT"} <= depts
    locs = {r.location_name for r in state["dim_location"].collect()}
    assert "Remot Site A" in locs  # typo NOT fuzzy-fixed (reference behavior)
    procs = {r.process_name for r in state["dim_process"].collect()}
    assert "UNKNOWN_PROCESS" in procs
    types = {r.expense_type_name for r in state["dim_expense_type"].collect()}
    assert types == {"Travel", "Meals", "Supplies", "Unknown"}  # typo fixed, title-cased


def test_expense_fact_orphan_dropped_and_logged(spark, state):
    fact = state["fact_expenses"].collect()
    assert len(fact) == 3  # orphan 9999 excluded
    dq = state["dq"].filter(F.col("issue").contains("unmatched employee FK")).collect()
    assert [r.row_reference for r in dq] == ["9999"]
    refunds = [r for r in fact if r.is_refund]
    assert len(refunds) == 1 and float(refunds[0].expense_amount) == -50.75


def test_downtime_imputation_and_date_fallback(spark, state):
    fact = state["fact_downtime"].collect()
    assert all(r.downtime_hours is not None for r in fact)
    assert sorted(float(r.downtime_hours) for r in fact) == [1.0, 2.5, 2.5, 4.0]
    time_ids = {r.time_id for r in fact}
    dim_time = {r.time_id: r.full_date for r in state["dim_time"].collect()}
    assert dt.date(1957, 1, 1) in {dim_time[t] for t in time_ids}  # fallback row used


def test_dq_log_covers_all_domains(spark, state):
    issues = {r.issue for r in state["dq"].collect()}
    assert "exact duplicate rows dropped" in issues
    assert "invalid gender set to UNKNOWN" in issues
    assert "negative salary repaired with abs()" in issues
    assert "missing downtime imputed" in issues
    assert "negative amount flagged as refund" in issues


def test_audit_statuses(spark, state):
    audit = {r.table_name: r for r in state["audit"].collect()}
    assert audit["dim_employee"].status == "partial"  # one NULL joining date
    assert audit["dim_employee"].rows_processed == 4
    assert audit["fact_downtime"].status == "success"  # imputation fixed all


def test_scd2_day2_and_idempotency(spark, state):
    # day 2: same batch again → SCD2 no-op AND facts unchanged
    hr = spark.createDataFrame(HR_ROWS, HR_COLS)
    fin = spark.createDataFrame(FIN_ROWS, FIN_COLS)
    ops = spark.createDataFrame(OPS_ROWS, OPS_COLS)
    # hash-fabricated TEMP ids are stable across runs, so the FULL batch
    # (fabricated row included) reruns as a no-op
    state2 = wh.run_etl(spark, hr, fin, ops, "2024-02-02", prior=state)
    cur = state2["dim_employee"].filter(F.col("is_current"))
    assert cur.count() == 4
    # unchanged rows keep their original valid_from
    assert (
        cur.filter(F.col("employee_id") == "1001").first().valid_from
        == dt.date(2024, 2, 1)
    )
    assert state2["fact_expenses"].count() == 3  # no duplicate fact rows
    assert state2["fact_downtime"].count() == 4

    # day 3: 1002 changes department → expire + insert
    hr3_rows = [
        ("1001", "Alice", "IT", "F", "2018-01-15", "2001", "55000", "Active"),
        ("1002", "Bob", "Finance", "M", "2018-01-15", "2003", "10000", "Active"),
        ("1003", "", "", "MALE", "2019-03-01", "", "61000", "resigned"),
    ]
    state3 = wh.run_etl(
        spark, spark.createDataFrame(hr3_rows, HR_COLS), fin, ops,
        "2024-02-03", prior=state2,
    )
    e1002 = state3["dim_employee"].filter(F.col("employee_id") == "1002").collect()
    by_cur = {r.is_current: r for r in e1002}
    assert len(e1002) == 2
    assert by_cur[False].valid_to == dt.date(2024, 2, 3)
    assert by_cur[True].department == "FINANCE"
    assert by_cur[True].valid_from == dt.date(2024, 2, 3)


# --------------------------------------------------------------------------
# Dim members under the normalized key; the state schemas
# --------------------------------------------------------------------------


def _golden_raw(spark, ops_rows=OPS_ROWS):
    return (
        spark.createDataFrame(HR_ROWS, HR_COLS),
        spark.createDataFrame(FIN_ROWS, FIN_COLS),
        spark.createDataFrame(ops_rows, OPS_COLS),
    )


def test_case_variants_of_known_members_load_their_fact_rows(spark, state):
    """A day-2 batch spelling the known 'Backup' and 'HQ' in another case
    looks them up on the normalized key the upsert dedups on: every row
    loads against the existing members and no dim row is added."""
    ops = [
        ("IT", "backup", "1.0", "2024-01-20", "HQ"),
        ("IT", "Backup", "2.0", "2024-01-21", "hq"),
        ("IT", "Backup", "3.0", "2024-01-22", "HQ"),
    ]
    state2 = wh.run_etl(spark, *_golden_raw(spark, ops), "2024-02-02", prior=state)
    backup = state["dim_process"].filter("process_name = 'Backup'").first().process_id
    hq = state["dim_location"].filter("location_name = 'HQ'").first().location_id
    for table in ("dim_process", "dim_location"):
        assert state2[table].count() == state[table].count()
    new = state2["fact_downtime"].exceptAll(state["fact_downtime"]).collect()
    assert sorted(float(r.downtime_hours) for r in new) == [1.0, 2.0, 3.0]
    assert {(r.process_id, r.location_id) for r in new} == {(backup, hq)}


def test_new_member_spelled_two_ways_is_one_dim_row(spark):
    """A new member arriving as 'Backup' and 'backup' in one batch is one
    dim row, its least spelling, and both fact rows point at it."""
    ops = [
        ("IT", "Backup", "1.0", "2024-01-10", "HQ"),
        ("IT", "backup", "2.0", "2024-01-11", "HQ"),
    ]
    st = wh.run_etl(spark, *_golden_raw(spark, ops), LOAD_DATE)
    procs = st["dim_process"].collect()
    assert [r.process_name for r in procs] == ["Backup"]
    assert [r.process_id for r in st["fact_downtime"].collect()] == [procs[0].process_id] * 2


def test_state_tables_keep_their_declared_schemas(spark, state):
    """On the initial and an incremental load, each state table has
    exactly its STATE_SCHEMAS schema: names, types, every field nullable
    (a generator over a null-free array would make fields non-null)."""
    state2 = wh.run_etl(spark, *_golden_raw(spark), "2024-02-02", prior=state)
    for st in (state, state2):
        for table, ddl in wh.STATE_SCHEMAS.items():
            want = [(f.name, f.dataType, True) for f in spark.createDataFrame([], ddl).schema]
            got = [(f.name, f.dataType, f.nullable) for f in st[table].schema]
            assert got == want, table


# --------------------------------------------------------------------------
# DQ log vs a reference union of filtered slices
# --------------------------------------------------------------------------

_SENTINELS = ("", "nan", "null")


def _ref_slice(df, table, column, ref, pred, issue):
    return df.filter(pred).select(
        F.lit(table).alias("table_name"),
        F.lit(column).alias("column_name"),
        F.col(ref).cast("string").alias("row_reference"),
        F.col(column).cast("string").alias("original_value"),
        F.lit(issue).alias("issue"),
    )


def _parsed_date(c):
    t = F.trim(c)
    return F.coalesce(F.try_to_date(t, "yyyy-MM-dd"), F.try_to_date(t, "dd-MM-yyyy"))


def _blank(c):
    return F.col(c).isNull() | F.lower(F.trim(c)).isin(*_SENTINELS)


def _reference_dq(hr, fin, ops):
    """The three domain DQ logs written as one filter per repair over the
    raw batches, with plain Column expressions, plus HR's duplicate
    rows — the per-slice form the rule tables replace."""
    emp, fn, op = "staging_employee", "staging_finance", "staging_operations"
    dups = (
        hr.groupBy(*hr.columns).count().filter(F.col("count") > 1)
        .select(
            F.lit(emp).alias("table_name"), F.lit("*").alias("column_name"),
            F.col("EmployeeID").cast("string").alias("row_reference"),
            F.col("count").cast("string").alias("original_value"),
            F.lit("exact duplicate rows dropped").alias("issue"),
        )
    )
    slices = [
        _ref_slice(hr, emp, "Gender", "EmployeeID",
                   ~F.upper(F.trim("Gender")).isin("M", "MALE", "F", "FEMALE"),
                   "invalid gender set to UNKNOWN"),
        _ref_slice(hr, emp, "DateOfJoining", "EmployeeID",
                   _parsed_date("DateOfJoining").isNull() & ~_blank("DateOfJoining"),
                   "unparseable date set to NULL"),
        _ref_slice(hr, emp, "Salary", "EmployeeID",
                   F.col("Salary").try_cast("decimal(12,2)") < 0,
                   "negative salary repaired with abs()"),
        _ref_slice(hr, emp, "ManagerID", "EmployeeID", _blank("ManagerID"),
                   "missing manager set to UNKNOWN"),
        dups,
        _ref_slice(fin, fn, "ExpenseAmount", "EmployeeID",
                   F.col("ExpenseAmount").try_cast("decimal(12,2)") < 0,
                   "negative amount flagged as refund"),
        _ref_slice(fin, fn, "ApprovedBy", "EmployeeID", _blank("ApprovedBy"),
                   "missing approver set to UNKNOWN"),
        _ref_slice(ops, op, "DowntimeHours", "ProcessName",
                   F.col("DowntimeHours").try_cast("decimal(10,2)").isNull(),
                   "missing downtime imputed"),
        _ref_slice(ops, op, "ProcessDate", "ProcessName",
                   _parsed_date("ProcessDate").isNull(),
                   "invalid date set to 1957-01-01"),
    ]
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    return out


def _domain_dq(hr, fin, ops):
    return (
        wh.clean_hr(hr)[1]
        .unionByName(wh.clean_finance(fin)[1])
        .unionByName(wh.clean_ops(ops)[1])
    )


def _assert_same_multiset(got, want):
    assert got.schema == want.schema  # nullability included
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == want.count()


def test_dq_log_matches_filtered_slices_on_golden_fixtures(spark):
    hr = spark.createDataFrame(HR_ROWS, HR_COLS)
    fin = spark.createDataFrame(FIN_ROWS, FIN_COLS)
    ops = spark.createDataFrame(OPS_ROWS, OPS_COLS)
    want = _reference_dq(hr, fin, ops)
    assert want.count() == 9  # one golden row per slice
    _assert_same_multiset(_domain_dq(hr, fin, ops), want)


def test_dq_log_matches_filtered_slices_on_generated_day(spark, tmp_path):
    from perfbench import gen

    from data_warehousing_assignment_spark.sources.readers import read_csv

    data_dir, meta = gen.etl_batches(str(tmp_path), 7, 1, 60, 120, 60)
    hr, fin, ops = (
        read_csv(spark, os.path.join(data_dir, "day0", f"{f}.csv"))
        for f in ("hr", "finance", "ops")
    )
    _assert_same_multiset(_domain_dq(hr, fin, ops), _reference_dq(hr, fin, ops))
    # with the orphan-FK slice, the log holds exactly the planted rows
    state = wh.run_etl(spark, hr, fin, ops, meta["days"][0]["load_date"])
    assert state["dq"].count() == meta["days"][0]["dq_rows"]


# --------------------------------------------------------------------------
# Each load's shared intermediates are checkpointed once
# --------------------------------------------------------------------------


def _csv_batches(root, hr_rows=HR_ROWS):
    """The golden batches written as header CSVs under ``root`` by plain
    file I/O, as a daily feed delivers them (a Spark write would refresh
    Spark's caches of the path itself); returns their paths."""
    import csv

    os.makedirs(root, exist_ok=True)
    paths = []
    for name, rows, cols in (
        ("hr", hr_rows, HR_COLS), ("fin", FIN_ROWS, FIN_COLS), ("ops", OPS_ROWS, OPS_COLS),
    ):
        path = os.path.join(root, f"{name}.csv")
        with open(path, "w", newline="") as fh:
            out = csv.writer(fh)
            out.writerow([c.split()[0] for c in cols.split(", ")])
            out.writerows(rows)
        paths.append(path)
    return paths


def _read_csvs(spark, paths):
    from data_warehousing_assignment_spark.sources.readers import read_csv

    return [read_csv(spark, p) for p in paths]


def _write_state(st, root):
    from data_warehousing_assignment_spark.sources.writers import write_table
    from perfbench.workloads import ETL_OUTPUTS

    for table in ETL_OUTPUTS:
        write_table(st[table], os.path.join(root, table))


def test_reload_of_a_rewritten_batch_sees_the_new_rows(spark, tmp_path):
    """A daily job rewrites hr.csv in place and loads it again in the same
    session, outside any cache scope: the second load reads the new rows.
    A persist of the first load's batch would be matched to the second
    read of the same path and replay yesterday's rows."""
    paths = _csv_batches(str(tmp_path / "in"))
    _write_state(wh.run_etl(spark, *_read_csvs(spark, paths), LOAD_DATE), str(tmp_path / "a"))
    hr_b = [
        ("1001", "Alice", "IT", "F", "2018-01-15", "2001", "55000", "Active"),
        ("1004", "Eve", "HR", "F", "2020-05-05", "2001", "42000", "Active"),
    ]
    _csv_batches(str(tmp_path / "in"), hr_b)
    st = wh.run_etl(spark, *_read_csvs(spark, paths), "2024-02-02")
    assert {r.employee_id for r in st["dim_employee"].collect()} == {"1001", "1004"}
    assert st["dq"].where("table_name = 'staging_employee'").count() == 0
    audit = {r.table_name: r for r in st["audit"].collect()}
    assert audit["dim_employee"].rows_processed == 2


def test_load_outputs_plan_over_checkpoints_not_the_csv(spark, tmp_path):
    """Every output of a load reads the load's checkpoints: no executed
    plan scans a raw CSV again."""
    paths = _csv_batches(str(tmp_path / "in"))
    st = wh.run_etl(spark, *_read_csvs(spark, paths), LOAD_DATE)
    for table, df in st.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan csv" not in plan, table


def test_cache_scope_releases_every_checkpoint_of_a_load(spark, tmp_path):
    """A load and all of its writes inside one cache_scope leave no RDD
    persisted that was not persisted before the block."""
    from data_warehousing_assignment_spark.caching import cache_scope

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    with cache_scope():
        st = wh.run_etl(spark, *_golden_raw(spark), LOAD_DATE)
        assert persisted() - before  # the checkpoints are live in the scope
        _write_state(st, str(tmp_path / "out"))
    assert not persisted() - before


def test_empty_batches_load_and_audit_zero_rows(spark):
    """Empty HR and Ops batches load, and their checkpoints still report
    the observed audit counts: 0 rows processed, status success."""
    st = wh.run_etl(
        spark, spark.createDataFrame([], HR_COLS), spark.createDataFrame(FIN_ROWS, FIN_COLS),
        spark.createDataFrame([], OPS_COLS), LOAD_DATE,
    )
    audit = {r.table_name: (r.rows_processed, r.status) for r in st["audit"].collect()}
    assert audit == {
        "dim_employee": (0, "success"),
        "fact_expenses": (4, "success"),
        "fact_downtime": (0, "success"),
    }
    assert st["dim_employee"].count() == 0
    assert st["fact_expenses"].count() == 0  # every FK is orphaned
