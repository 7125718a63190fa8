"""IO registry: scan/sink/materialization operators (SURVEY.md §2.1) as
verifiable queries, plus the explicit anti-join entry.

The reference's IO surface is pandas ``read_excel``/``to_sql`` and dbt
seeds/materializations; Spark-side the equivalent capability is
schema-on-read file scans and mode-controlled table writes. Each query
here performs the real write/read round-trip under ``.scratch/<op>/``
at the repository root (idempotent: overwritten or recreated per run)
and returns the read-back contents, which the DuckDB oracle checks
against the parquet source of truth — so the *semantics* of
replace/append/insert-select/incremental are what's verified, not just
the API call. A sink's parquet read-back passes the schema of the frame
it wrote, so it runs no schema-inference job.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import exact as ex
from data_warehousing_assignment_spark.registry import query, t
from data_warehousing_assignment_spark.sources.readers import read_csv
from data_warehousing_assignment_spark.sources.xlsx import read_excel, write_xlsx
from data_warehousing_assignment_spark.sources.writers import create_view, write_table

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def _scratch(op: str) -> str:
    path = os.path.join(_SCRATCH, op)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


@query("op-scan-excel", oracle="SELECT * FROM region")
def op_scan_excel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excel scan (ref ``A2_hr_etl.py:14`` ``pd.read_excel``), the REAL
    thing: `region` is written to an actual .xlsx (zip-of-XML, shared
    strings) and read back through the stdlib SpreadsheetML parser
    (sources/xlsx.py) with the declared schema — the oracle fails if any
    cell is misplaced or mistyped. Driver-side by design: xlsx is a
    small-file seed format; at scale it lands into parquet once
    (collect() here is the 5-row region dim, never a fact)."""
    path = os.path.join(_scratch("op-scan-excel"), "region.xlsx")
    src = t(spark, sf_dir, "region")
    header = src.columns
    rows = [[row[c] for c in header] for row in src.collect()]
    write_xlsx(path, header, rows)
    return read_excel(spark, path, schema=src.schema)


@query("op-scan-csv-seed", oracle="SELECT * FROM nation")
def op_scan_csv_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt CSV-seed scan (ref ``dbt_project.yml:56-58``): header +
    type-inference read (what ``dbt seed`` does), then cast to the
    warehouse schema — inference is demonstrated, but the declared
    schema wins, mirroring dbt's ``column_types`` override."""
    path = _scratch("op-scan-csv-seed")
    src = t(spark, sf_dir, "nation")
    src.write.mode("overwrite").option("header", True).csv(path)
    inferred = read_csv(spark, path, header=True, inferSchema="true")
    return inferred.select(
        [F.col(f.name).cast(f.dataType) for f in src.schema.fields]
    )


@query("op-sink-jdbc-replace", oracle="SELECT * FROM region")
def op_sink_jdbc_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``to_sql(if_exists='replace')`` staging overwrite (ref
    ``A2_hr_etl.py:95``): two consecutive overwrite writes must leave ONE
    copy — the oracle (plain `region`) fails if replace semantics broke."""
    path = _scratch("op-sink-jdbc-replace")
    src = t(spark, sf_dir, "region")
    write_table(src, path, mode="overwrite")
    write_table(src, path, mode="overwrite")
    return spark.read.schema(src.schema).parquet(path)


@query(
    "op-sink-jdbc-append",
    oracle="SELECT * FROM nation UNION ALL SELECT * FROM nation",
)
def op_sink_jdbc_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``to_sql(if_exists='append')`` log-sink semantics (ref
    ``A2_hr_etl.py:98,119``): write + append = exactly two copies."""
    path = _scratch("op-sink-jdbc-append")
    src = t(spark, sf_dir, "nation")
    write_table(src, path, mode="overwrite")
    write_table(src, path, mode="append")
    return spark.read.schema(src.schema).parquet(path)


@query(
    "op-sink-insert-select",
    oracle="""
    SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0
    UNION ALL
    SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1
    """,
)
def op_sink_insert_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO ... SELECT (the reference's dim/fact load sink, ref
    ``A3_load_dim_emp.sql:51-61``): catalog table + two INSERT...SELECT
    batches via Spark SQL, read back."""
    path = _scratch("op-sink-insert-select")
    t(spark, sf_dir, "nation").createOrReplaceTempView("_io_nation")
    spark.sql("DROP TABLE IF EXISTS _io_sink")
    spark.sql(
        f"CREATE TABLE _io_sink (n_nationkey INT, n_name STRING) "
        f"USING parquet LOCATION '{path}'"
    )
    for rk in (0, 1):
        spark.sql(
            "INSERT INTO _io_sink "
            f"SELECT n_nationkey, n_name FROM _io_nation WHERE n_regionkey = {rk}"
        )
    return spark.table("_io_sink")


@query(
    "op-view-create",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
)
def op_view_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE OR REPLACE VIEW (ref ``KPIs.sql:3``): logical temp view over
    an aggregate, consumed through ``spark.sql`` so the view resolution
    path itself is exercised (filters on the view push down through it)."""
    agg = (
        t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )
    create_view(agg, "_io_vw_nations")
    return spark.sql("SELECT * FROM _io_vw_nations")


@query(
    "op-materializations",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def op_materializations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt view/table/incremental materializations (ref
    ``dbt_project.yml:33-54``) in one verified flow: materialize the
    orders-per-customer agg for even custkeys as a TABLE (overwrite),
    then an incremental run appends only the missing (odd) keys via
    anti-join — the dbt ``is_incremental()`` pattern. Read-back must
    equal the one-shot full aggregate."""
    path = _scratch("op-materializations")
    agg = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    # initial full-refresh over a subset (simulating an older snapshot)
    write_table(agg.filter(F.col("o_custkey") % 2 == 0), path, mode="overwrite")
    # incremental run: append only keys not yet materialized
    existing = spark.read.schema(agg.schema).parquet(path)
    delta = agg.join(existing.select("o_custkey"), on="o_custkey", how="left_anti")
    write_table(delta, path, mode="append")
    return spark.read.schema(agg.schema).parquet(path)


@query(
    "op-join-anti",
    oracle="""
    SELECT s.s_suppkey, s.s_name FROM supplier s
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey AND l.l_orderkey <= 50
    )
    """,
)
def op_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit left_anti join (the reference's NOT IN / NOT EXISTS /
    LEFT-JOIN-IS-NULL idioms all plan to this, ref
    ``B3_load_fin_facts.sql:81-95``): suppliers absent from the first 50
    orders (the orderkey bound keeps the result non-degenerate on the
    dense synthetic data — over a full scan every supplier appears)."""
    sup = t(spark, sf_dir, "supplier")
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 50)
        .select("l_suppkey")
    )
    return sup.join(
        li, sup["s_suppkey"] == li["l_suppkey"], "left_anti"
    ).select("s_suppkey", "s_name")


@query(
    "op-scan-jsonl",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def op_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan (the interchange format most raw training corpora
    arrive in): documents round-trip through .jsonl and read back with
    the DECLARED schema — string escaping (quotes, newlines, unicode)
    must survive byte-for-byte or the text-hash oracle fails. Schema is
    declared, never inferred: at 100 TB a schema-inference pass is a
    full extra scan, and silent type drift breaks downstream casts."""
    path = _scratch("op-scan-jsonl")
    src = t(spark, sf_dir, "documents")
    src.write.mode("overwrite").json(path)
    return spark.read.schema(src.schema).json(path).select(*src.columns)


@query("op-scan-orc", oracle="SELECT * FROM supplier")
def op_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan — the other columnar warehouse format (Hive ecosystems);
    same predicate-pushdown/column-pruning contract as parquet. Supplier
    round-trips through ORC and reads back bit-identical."""
    path = _scratch("op-scan-orc")
    src = t(spark, sf_dir, "supplier")
    src.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@query("op-scan-xml", oracle="SELECT * FROM nation")
def op_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan — Spark 4's built-in XML datasource (the spark-xml
    package merged upstream in 4.0): nation round-trips through an XML
    document (<nations><nation>…</nation></nations>) and reads back
    with an explicit schema, the config-feed reality where upstream
    systems still speak XML. Explicit schema, not inference — at scale
    schema inference is its own full read of every file."""
    path = _scratch("op-scan-xml")
    src = t(spark, sf_dir, "nation")
    src.write.mode("overwrite").format("xml").option(
        "rootTag", "nations"
    ).option("rowTag", "nation").save(path)
    return (
        spark.read.schema(src.schema)
        .format("xml")
        .option("rowTag", "nation")
        .load(path)
        .select(*src.columns)
    )


@query(
    "op-scan-merge-schema",
    oracle="""
    SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS batch_no
    FROM nation WHERE n_regionkey = 0
    UNION ALL
    SELECT n_nationkey, n_name, CAST(1 AS BIGINT) AS batch_no
    FROM nation WHERE n_regionkey <> 0
    """,
)
def op_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: two parquet batches with DRIFTED schemas
    (batch 2 adds a column) land in one dataset; ``mergeSchema=true``
    unifies them, with the missing column NULL for old files — the
    ingest reality at 100 TB, where upstream producers add fields
    mid-stream. Merge-on-read is a footer-level union, not a rewrite;
    pin the unified schema explicitly once drift stabilizes (schema
    inference over millions of footers is its own scan)."""
    path = _scratch("op-scan-merge-schema")
    nat = t(spark, sf_dir, "nation")
    nat.filter(F.col("n_regionkey") == 0).select(
        "n_nationkey", "n_name"
    ).write.mode("append").parquet(path)
    nat.filter(F.col("n_regionkey") != 0).select(
        "n_nationkey", "n_name", F.lit(1).cast("bigint").alias("batch_no")
    ).write.mode("append").parquet(path)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("n_nationkey", "n_name", "batch_no")
    )


@query(
    "op-ext-time-travel",
    oracle=f"""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           {ex.sum_cents('o_totalprice')}
             AS rev_cents
    FROM orders WHERE year(o_orderdate) < 1997
    GROUP BY 1
    """,
)
def op_ext_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-log time travel WITHOUT a lakehouse format — the
    overwrite-era mechanics our SCD2/materialization docs name as the
    Delta/Iceberg upgrade path (plans/scd2.py; delta-spark cannot be
    installed offline, SURVEY §7.0): three yearly append commits land
    as immutable parquet delta dirs plus a JSON-lines _log manifest
    (version, path, action) — exactly a miniature Delta log. Reading
    "AS OF version 2" replays the manifest UP TO the pinned version and
    unions only those files, giving snapshot isolation by construction:
    later commits are invisible because their files are never listed.
    The oracle recomputes the as-of-v2 state (orders before 1997)
    directly. The manifest is metadata-sized; the data read is bounded
    by the pinned snapshot — the same contract as a real table format,
    minus compaction (op-ext-compaction-plan) which this composes
    with."""
    from data_warehousing_assignment_spark.plans import txlog

    root = _scratch("op-ext-time-travel")
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.expr(ex.cents("o_totalprice")).alias("pc"),
    )
    for version, year in enumerate((1995, 1996, 1997), start=1):
        txlog.commit(
            root, orders.filter(F.year("o_orderdate") == year), version
        )
    # time-travel read: pin version 2 — the 1997 commit is invisible
    snap = txlog.read_snapshot(spark, root, as_of_version=2)
    return snap.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("pc").cast("bigint").alias("rev_cents"),
    )


@query(
    "op-ext-bucket-join",
    oracle=f"""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({ex.money('o.o_totalprice')} * 100) AS BIGINT)
             AS rev_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def op_ext_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join — the storage-level answer to the
    shuffle question every VERDICT round asks: both sides are written
    ``bucketBy(8, custkey).sortBy(custkey)`` into the session catalog,
    so the join key's partitioning is ON DISK and the sort-merge join
    reads bucket i against bucket i with NO exchange on either side
    (tests/test_plan_shapes.py pins the no-Exchange join subtree with
    broadcast disabled). This is how a 100 TB fact⋈fact or fact⋈big-dim
    join avoids re-shuffling the fact every query: pay the partitioning
    once at write, reuse it every read — the Spark-native equivalent of
    the reference warehouse's clustered PK tables (ref
    ``01_create_a_db_*/create_db.sql``). The aggregate after the join
    exchanges only the 5-row segment frame."""
    from data_warehousing_assignment_spark.session import scratch_table

    o_tbl = scratch_table(spark, "bkt_orders")
    c_tbl = scratch_table(spark, "bkt_customer")
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(ex.cents("o_totalprice")).alias("pc"),
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    (
        orders.write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable(o_tbl)
    )
    (
        cust.write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable(c_tbl)
    )
    bo = spark.table(o_tbl)
    bc = spark.table(c_tbl)
    j = bo.join(bc, bo["o_custkey"] == bc["c_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("pc").cast("bigint").alias("rev_cents"),
    )
