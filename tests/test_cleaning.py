"""Unit tests for the scalar cleaning library (SURVEY.md §2.8).

These replicate the reference's dirty-fixture repairs (ref
``02_Extract_and_transform_raw_data/A2_hr_etl.py`` and the dbt staging
models) as row-level expectations.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import cleaning as cl


def vals(df, col="out"):
    return [r[col] for r in df.orderBy("id").collect()]


def one_col(spark, values, dtype="string"):
    return spark.createDataFrame(
        [Row(id=i, x=v) for i, v in enumerate(values)],
        schema=f"id int, x {dtype}",
    )


def test_blank_to_null_matches_reference_sentinels(spark):
    # ref A2_hr_etl.py:22 — ['', 'NAN', 'NaN', 'nan', 'null'] (+ whitespace)
    df = one_col(spark, ["", "  ", "NAN", "NaN", "nan", "null", "NA", "ok"])
    out = vals(df.select("id", F.expr(cl.blank_to_null("x")).alias("out")))
    assert out == [None, None, None, None, None, None, "NA", "ok"]


def test_blank_to_null_extra_sentinels_opt_in(spark):
    df = one_col(spark, ["N/A", "none", "ok"])
    out = vals(
        df.select("id", F.expr(cl.blank_to_null("x", ("n/a", "none"))).alias("out"))
    )
    assert out == [None, None, "ok"]


def test_dedup_sentinels_default(spark):
    # ref A2_hr_etl.py:21-23 — blank department → UNASSIGNED_DEPT
    df = one_col(spark, ["", "nan", "IT"])
    out = vals(df.select("id", F.expr(cl.dedup_sentinels("x", "UNASSIGNED_DEPT")).alias("out")))
    assert out == ["UNASSIGNED_DEPT", "UNASSIGNED_DEPT", "IT"]


def test_normalize_upper_trim_and_title_case(spark):
    df = one_col(spark, ["  it ", "hR"])
    assert vals(df.select("id", F.expr(cl.normalize_upper_trim("x")).alias("out"))) == [
        "IT",
        "HR",
    ]
    assert vals(df.select("id", F.expr(cl.title_case("x")).alias("out"))) == ["It", "Hr"]


def test_remap_values_case_insensitive(spark):
    # ref B2_finance_etl.py:18 — Travell→Travel typo repair
    df = one_col(spark, ["Travell", "travell", "Meals"])
    out = vals(df.select("id", F.expr(cl.remap_values("x", {"Travell": "Travel"})).alias("out")))
    assert out == ["Travel", "Travel", "Meals"]


def test_whitelist_fallback(spark):
    # ref Q10 / A2_hr_etl.py:66-68 — status whitelist, else 'Unknown'
    df = one_col(spark, ["active", "RESIGNED", "wat"])
    out = vals(
        df.select(
            "id",
            F.expr(
                cl.whitelist("x", {"ACTIVE": "Active", "RESIGNED": "Resigned"}, "Unknown")
            ).alias("out"),
        )
    )
    assert out == ["Active", "Resigned", "Unknown"]


def test_strip_float_suffix(spark):
    # ref B2_finance_etl.py:51-53 — '2002.0' → '2002'; others pass through
    df = one_col(spark, ["2002.0", "2002", "2002.5", "abc"])
    out = vals(df.select("id", F.expr(cl.strip_float_suffix("x")).alias("out")))
    assert out == ["2002", "2002", "2002.5", "abc"]


def test_lenient_decimal_coerces_bad_to_null(spark):
    # ref A2_hr_etl.py:57 — pd.to_numeric(errors='coerce')
    df = one_col(spark, ["100.50", "-10000", "oops", None])
    out = vals(df.select("id", F.expr(cl.lenient_decimal("x")).alias("out")))
    assert [None if v is None else float(v) for v in out] == [
        100.50,
        -10000.0,
        None,
        None,
    ]


def test_parse_date_multi_ordered_trials(spark):
    # ref A2_hr_etl.py:39-51 — ISO first, then day-first, else NULL
    df = one_col(spark, ["2018-01-15", "15-01-2018", "garbage"])
    out = vals(df.select("id", F.expr(cl.parse_date_multi("x")).alias("out")))
    assert out == [dt.date(2018, 1, 15), dt.date(2018, 1, 15), None]


def test_parse_date_multi_ops_fallback(spark):
    # ref C2_ops_etl.py:87-103 — Ops domain falls back to 1957-01-01
    df = one_col(spark, ["garbage"])
    out = vals(
        df.select("id", F.expr(cl.parse_date_multi("x", fallback="1957-01-01")).alias("out"))
    )
    assert out == [dt.date(1957, 1, 1)]


def test_group_mean_impute_invariants(spark):
    # ref C2_ops_etl.py:62-85 — nulls → group mean (2dp) → 0.0
    df = spark.createDataFrame(
        [
            ("a", 1.0),
            ("a", 2.0),
            ("a", None),
            ("b", None),  # group of only-null → final default 0.0
        ],
        "g string, m double",
    )
    out = cl.group_mean_impute(df, "m", ["g"]).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["m"])
    assert sorted(by_g["a"]) == [1.0, 1.5, 2.0]  # mean(1,2)=1.5
    assert by_g["b"] == [0.0]
    # invariant: no nulls out
    assert all(m is not None for ms in by_g.values() for m in ms)


def test_sql_text_helpers_quote_their_literals(spark):
    # sentinels, map keys and values reach the SQL text as escaped literals
    df = one_col(spark, ["it's", "n'a", "a\\b", "x"])
    out = vals(
        df.select(
            "id",
            F.expr(
                cl.remap_values(cl.blank_to_null("x", ("N'A",)), {"IT'S": "a\\b'"})
            ).alias("out"),
        )
    )
    assert out == ["a\\b'", None, "a\\b", "x"]
