"""Composable cleaning functions (SURVEY.md §2.8), each one SQL text.

Every repair the reference performs row-at-a-time in pandas (``.apply``
lambdas, ``iterrows`` loops — ref ``02_Extract_and_transform_raw_data/
A2_hr_etl.py:21-93``, ``ET_combined.py:59-76``) is re-expressed here as a
built-in SQL expression. That keeps the whole cleaning stage inside JVM
whole-stage codegen — no Python boundary in the hot path, which is the
difference between O(rows) Python-interpreter time and vectorized columnar
execution at 100 TB.

Each helper takes a column name or SQL expression and returns SQL text, so
one rule is written once and can be nested into another, shared between a
cleaned column and its DQ predicate, and handed to ``selectExpr`` whole;
a caller that needs a Column wraps the text in ``F.expr``.

No Python UDF is semantically required anywhere (SURVEY.md §2.10);
``tests/test_udf_variant.py`` demonstrates the UDF surface by pinning a
pandas-UDF re-implementation of one cleaner against the native version
(and documents why the native version is the hot-path choice).
"""

from __future__ import annotations

from pyspark.sql import functions as F

# Sentinel strings the reference treats as missing (ref A2_hr_etl.py:22,
# stg_ops_downtime.sql:19-21): '', 'NAN', 'NaN', 'nan', 'null' + whitespace.
# Exactly the reference list (case-folded) — extras like 'n/a' are opt-in
# via the `extra_sentinels` parameter so a reference-faithful oracle never
# diverges.
_NULL_SENTINELS = ("", "nan", "null")


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def blank_to_null(col: str, extra_sentinels: tuple[str, ...] = ()) -> str:
    """op-fn-nullif-coalesce (null-ing half): blank/sentinel strings → NULL.

    Reference: ``coalesce(nullif(trim(x),''), ...)`` (ref
    ``05_dbt_implementation/.../models/staging/stg_hr_employee.sql:13``)
    plus pandas sentinel list ``['', 'NAN', 'NaN', 'nan', 'null']`` (ref
    ``A2_hr_etl.py:22``). Callers wanting a wider net (e.g. 'n/a',
    'none') pass them via ``extra_sentinels``.
    """
    sentinels = _NULL_SENTINELS + tuple(s.lower() for s in extra_sentinels)
    listed = ", ".join(sql_str(s) for s in sentinels)
    return f"CASE WHEN lower(trim({col})) IN ({listed}) THEN NULL ELSE trim({col}) END"


def dedup_sentinels(col: str, default: str) -> str:
    """Sentinel/blank → fixed default (e.g. 'UNASSIGNED_DEPT', ref
    ``A2_hr_etl.py:21-23``; 'UNKNOWN_PROCESS', ref ``C2_ops_etl.py:35-38``)."""
    return f"coalesce({blank_to_null(col)}, {sql_str(default)})"


def normalize_upper_trim(col: str) -> str:
    """op-fn-upper-trim: ``UPPER(TRIM(x))`` normalization (ref
    ``03_load_into_fact_and_dim_tables/A3_load_dim_emp.sql:16``;
    pandas ``.str.strip().str.upper()`` ref ``A2_hr_etl.py:21``)."""
    return f"upper(trim({col}))"


def title_case(col: str) -> str:
    """op-fn-initcap: ``initcap`` / pandas ``.str.title()`` (ref
    ``B2_finance_etl.py:17``, ``stg_finance_expense.sql:17``)."""
    return f"initcap(trim({col}))"


def remap_values(col: str, mapping: dict[str, str], default: str | None = None) -> str:
    """op-fn-replace-map: value remap via a CASE chain (pandas ``.replace``
    — gender map ref ``A2_hr_etl.py:28-30``, ``Travell→Travel`` ref
    ``B2_finance_etl.py:18``). Case-insensitive on the match side, like
    the reference's upper-cased CASE arms (``stg_hr_employee.sql:16-20``).
    Unmapped values pass through unless ``default`` (SQL text) is given.
    """
    assert mapping, "mapping must be non-empty"
    c = normalize_upper_trim(col)
    arms = " ".join(
        f"WHEN {c} = {sql_str(raw.upper())} THEN {sql_str(clean)}"
        for raw, clean in mapping.items()
    )
    return f"CASE {arms} ELSE {col if default is None else default} END"


def whitelist(col: str, allowed: dict[str, str], fallback: str) -> str:
    """Whitelist semantics (ref Q10, ``A2_hr_etl.py:66-68``): normalized
    value must map into `allowed` (upper-key → canonical), else `fallback`
    — NOT passthrough."""
    return remap_values(col, allowed, default=sql_str(fallback))


def strip_float_suffix(col: str) -> str:
    """op-fn-split-part: repair float-strings like ``'2002.0'`` → ``'2002'``
    (ref ``B2_finance_etl.py:51-53``; regex guard + split_part in
    ``stg_finance_expense.sql:32-33``). Non-matching values pass through."""
    c = f"trim({col})"
    return (
        rf"CASE WHEN {c} RLIKE '^\\d+\\.0$' THEN split({c}, '\\.')[0] ELSE {c} END"
    )


def lenient_decimal(col: str, precision: int = 12, scale: int = 2) -> str:
    """op-fn-tonumeric: lenient numeric cast — unparseable → NULL, matching
    ``pd.to_numeric(errors='coerce')`` (ref ``A2_hr_etl.py:57``). Uses
    try_cast so the behavior holds even under ANSI mode."""
    return f"try_cast({col} AS decimal({precision},{scale}))"


def parse_date_multi(col: str, fallback: str | None = None) -> str:
    """op-fn-date-parse-multi: tolerant multi-format date parse by ordered
    trial parsing — try ``yyyy-MM-dd``, then ``dd-MM-yyyy``, first success wins;
    unparseable → `fallback` (Ops uses ``'1957-01-01'``, ref
    ``C2_ops_etl.py:87-103``) or NULL (HR/Finance, ref
    ``A2_hr_etl.py:39-51``). This mirrors the reference's pandas
    try/retry semantics; for the dbt macro's regex-dispatch-by-shape
    semantics use :func:`...functions.dates.date_safe_dispatch`.
    try_to_date keeps this ANSI-safe (bad input → NULL, never a throw).
    """
    parsed = (
        f"coalesce(try_to_date(trim({col}), 'yyyy-MM-dd'), "
        f"try_to_date(trim({col}), 'dd-MM-yyyy'))"
    )
    return parsed if fallback is None else f"coalesce({parsed}, to_date({sql_str(fallback)}))"


def fallback_id_hash(col: str, prefix: str, attrs: list[str]) -> str:
    """Fabricated id for a missing natural key (ref ``A2_hr_etl.py:80-86``,
    ``stg_hr_employee.sql:42``): ``<prefix><md5 of stable attributes>``
    instead of a global row number — fully parallel (no exchange) and
    stable across reruns, so a re-load of the same batch fabricates the
    SAME id and SCD2/fact loads stay idempotent for the fabricated keys.
    Callers dedup rows first; identical attribute tuples intentionally
    collapse to one id.
    """
    parts = ", ".join(f"coalesce(CAST({a} AS STRING), '\\u0000')" for a in attrs)
    return (
        f"coalesce({blank_to_null(col)}, "
        f"concat({sql_str(prefix)}, md5(concat_ws('::', {parts}))))"
    )


def group_mean_impute(df, measure: str, group_keys: list[str]):
    """op-pipe-impute / op-join-left-fill: fill NULL `measure` with the
    per-group mean (rounded to 2 digits), then 0.0.

    Reference does this as a groupby-mean + merge + fillna (ref
    ``C2_ops_etl.py:62-85``) / avg-CTE + left join + coalesce (ref
    ``stg_ops_downtime.sql:27-47``). Spark-first implementation: a single
    window aggregate — one shuffle on the group keys, no second join, and
    the partial aggregation is map-side combined. At 100 TB this halves the
    shuffle volume vs the join formulation.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_keys)
    grp_mean = F.round(F.avg(measure).over(w), 2)
    return df.withColumn(
        measure,
        F.coalesce(F.col(measure), grp_mean, F.lit(0.0)),
    )
