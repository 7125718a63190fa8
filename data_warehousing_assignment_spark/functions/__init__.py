"""Scalar column functions (SURVEY.md §2.8) + text-analysis extensions."""

from data_warehousing_assignment_spark.functions.cleaning import (
    blank_to_null,
    dedup_sentinels,
    group_mean_impute,
    lenient_decimal,
    normalize_upper_trim,
    parse_date_multi,
    remap_values,
    strip_float_suffix,
    title_case,
    whitelist,
)
from data_warehousing_assignment_spark.functions.dates import (
    date_spine,
    pg_day_of_week,
    with_calendar_parts,
)

__all__ = [
    "blank_to_null",
    "dedup_sentinels",
    "group_mean_impute",
    "lenient_decimal",
    "normalize_upper_trim",
    "parse_date_multi",
    "remap_values",
    "strip_float_suffix",
    "title_case",
    "whitelist",
    "date_spine",
    "pg_day_of_week",
    "with_calendar_parts",
]
