"""Sinks (SURVEY.md §2.1: op-sink-jdbc-replace/append, op-view-create,
op-materializations).

Reference capabilities mapped:
* ``to_sql(..., if_exists="replace")`` staging overwrite (ref
  ``02_Extract_and_transform_raw_data/A2_hr_etl.py:95``)      → mode="overwrite"
* ``to_sql(..., if_exists="append")`` DQ/audit append (ref
  ``A2_hr_etl.py:98,119``)                                    → mode="append"
* ``CREATE OR REPLACE VIEW dw.vw_kpi_*`` (ref ``04_KPI/KPIs.sql:3``)
                                                              → temp views
* dbt materializations view/table/incremental (ref
  ``05_dbt_implementation/dbt_warehouse_project/dbt_project.yml:33-54``)
                                                              → view / overwrite
                                                                / append

Scale notes: every fact write partitions by its date column so incremental
loads prune to the touched partitions instead of re-scanning the full fact
(the reference's NOT EXISTS dedup re-scans the whole fact per batch — ref
``03_load_into_fact_and_dim_tables/B3_load_fin_facts.sql:84-94`` — which is
O(|fact|) and would never survive 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Path-based parquet table sink. ``partition_by`` enables partition
    pruning on later incremental reads — mandatory for facts at scale."""
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def create_view(df: DataFrame, name: str) -> DataFrame:
    """op-view-create: logical (non-materialized) view, like the reference's
    ``CREATE OR REPLACE VIEW`` KPI layer — consumers re-plan per query, so
    Catalyst pushes their filters down through the view."""
    df.createOrReplaceTempView(name)
    return df
