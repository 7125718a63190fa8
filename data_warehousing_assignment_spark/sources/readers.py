"""File scans (SURVEY.md §2.1).

Reference capability: schema-on-read file scans — ``pd.read_excel`` (ref
``02_Extract_and_transform_raw_data/A2_hr_etl.py:14``) and dbt CSV seeds
(``05_dbt_implementation/dbt_warehouse_project/dbt_project.yml:56-58``).
OSS Spark has no xlsx reader, so the ingestion surface here is
parquet/CSV; the *capability* (header-driven schema-on-read scan into a
relational frame) is the same.

Scale notes: `spark.read.parquet` gives splittable columnar scans with
predicate pushdown + column pruning for free; CSV/JSON scans are splittable
too but schema inference requires an extra pass — always pass an explicit
schema in production (inference over 100 TB is a full read). Even a
parquet schema is inferred by a Spark job that reads the footers, so
``registry.t()`` memoizes each table file's schema per process, keyed by
path, ``st_mtime_ns``, ``st_size`` and the ``nanosAsLong`` conf value,
and passes it on every later read; a read-back of a path just written
passes the schema of the frame it wrote.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Driver-generated synthetic tables (TESTDATA.md) — the engine's test inputs.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """op-scan-csv-seed: header-driven CSV scan (dbt seed equivalent).

    Unless an ``inferSchema`` option says otherwise, all columns arrive as
    strings — matching the reference's TEXT-heavy staging tables (ref
    ``01_DW_schema_and_roles_creation/combined_dw_schema.sql:152-161``);
    cleaning casts them later.
    """
    reader = spark.read.option("header", str(header).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)
