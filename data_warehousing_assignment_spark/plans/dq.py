"""Data-quality + audit logging frames (op-pipe-dq / op-pipe-audit).

Reference: every repair appends a DQ row (job_id, table_name, column_name,
row_reference, original_value, issue) (ref
``02_Extract_and_transform_raw_data/A2_hr_etl.py:32-36,58-62``, schema
``combined_dw_schema.sql:133-142``), and every stage appends an audit row
with rows_processed / rows_failed / status ∈ {success, partial, failed}
(ref ``A2_hr_etl.py:103-119``, ``B3_load_fin_facts.sql:106-126``).

Spark-first: the reference builds these logs row-at-a-time inside Python
loops; here every issue class of a table is one element of a single
generator projection — one scan of the raw batch for the whole log —
and the audit counts are plan-side aggregates (no driver collect), or
observed on a frame as it is materialized (``plans/warehouse.py``)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_warehousing_assignment_spark.functions.cleaning import sql_str


def dq_log(
    df: DataFrame,
    table_name: str,
    row_ref: str,
    rules: list[tuple[str, str, str]],
) -> DataFrame:
    """The DQ log of ``df`` in one projection: one row per (row, rule)
    whose SQL predicate holds, shaped to the reference's
    data_quality_log schema (ref ``combined_dw_schema.sql:133-142``;
    job_id is stamped by the caller — it is per-run, not per-issue).

    ``rules`` are ``(column_name, predicate SQL, issue)``; the logged
    ``original_value`` is the raw ``column_name`` cell and
    ``row_reference`` the ``row_ref`` cell, both as strings. Every rule
    is one ``IF(pred, struct, NULL)`` element of a per-row array that
    ``inline`` expands after ``array_compact`` drops the misses, so the
    frame is scanned once however many rules there are (a NULL
    predicate logs nothing, as a filter would). ``array_compact``, not
    ``filter(..., x -> x IS NOT NULL)``: its array is typed null-free,
    so the literal fields stay non-nullable in the log's schema."""
    entries = ", ".join(
        f"IF({pred}, named_struct('table_name', {sql_str(table_name)}, "
        f"'column_name', {sql_str(column)}, "
        f"'row_reference', CAST(`{row_ref}` AS STRING), "
        f"'original_value', CAST(`{column}` AS STRING), "
        f"'issue', {sql_str(issue)}), NULL)"
        for column, pred, issue in rules
    )
    return df.selectExpr(f"inline(array_compact(array({entries})))")


#: The audit row's status and message from its two counts, per the
#: reference's rules: 0 failed → success, some → partial, all → failed
#: (ref ``A2_hr_etl.py:103-119``).
AUDIT_STATUS = (
    "table_name",
    "etl_stage",
    "rows_processed",
    "rows_failed",
    "CASE WHEN rows_failed = 0 THEN 'success'"
    " WHEN rows_failed < rows_processed THEN 'partial' ELSE 'failed' END AS status",
    "format_string('Processed %d rows, %d failed', rows_processed, rows_failed)"
    " AS message",
)


def audit_frame(
    df: DataFrame,
    table_name: str,
    etl_stage: str,
    failed_predicate: str,
) -> DataFrame:
    """One audit row computed plan-side: rows_processed = COUNT(*),
    rows_failed = COUNT_IF(failed_predicate), a SQL predicate over
    ``df``, and the :data:`AUDIT_STATUS` status and message."""
    return df.selectExpr(
        f"{sql_str(table_name)} AS table_name",
        f"{sql_str(etl_stage)} AS etl_stage",
        "count(1) AS rows_processed",
        f"count_if({failed_predicate}) AS rows_failed",
    ).selectExpr(*AUDIT_STATUS)
