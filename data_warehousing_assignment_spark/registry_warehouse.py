"""Warehouse-modeling registry: the Kimball patterns the reference's
curriculum stops short of — SCD Type 1/3 (its A3_load_dim_emp.sql:27-62
implements only Type 2), accumulating-snapshot facts, junk dimensions,
exact bridge-table allocation, Data Vault satellite delta loads, and a
generic MERGE INTO (the Delta/Iceberg statement whose portable core is
one full-outer join — the documented upgrade path in plans/scd2.py).

Fixtures follow registry_pipelines.py conventions: dirtiness by key
arithmetic (``%4`` perturbed, ``%7`` new members, ``%13`` historical),
so both engines derive the identical input from the parquet testdata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import exact as ex
from data_warehousing_assignment_spark.plans.kimball import (
    bridge_allocate,
    junk_dimension,
    merge_into,
    overwrite_dim,
    scd3_merge,
)
from data_warehousing_assignment_spark.registry import query, t

#: exact integer cents of a 2-dp money double (row-local, both engines)


# --------------------------------------------------------------------------
# SCD Type 1 — overwrite in place
# --------------------------------------------------------------------------


@query(
    "op-pipe-scd1",
    oracle="""
    WITH cur AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 4 = 0 THEN 'OLDSEG'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 7 <> 0
    ), inc AS (
      SELECT c_custkey, c_name, c_mktsegment FROM customer
    )
    SELECT COALESCE(c.c_custkey, i.c_custkey) AS c_custkey,
           CASE WHEN i.c_custkey IS NOT NULL THEN i.c_name
                ELSE c.c_name END AS c_name,
           CASE WHEN i.c_custkey IS NOT NULL THEN i.c_mktsegment
                ELSE c.c_mktsegment END AS c_mktsegment,
           CASE WHEN c.c_custkey IS NULL THEN 'inserted'
                WHEN i.c_custkey IS NULL THEN 'kept'
                WHEN i.c_name IS NOT DISTINCT FROM c.c_name
                 AND i.c_mktsegment IS NOT DISTINCT FROM c.c_mktsegment
                  THEN 'unchanged'
                ELSE 'updated' END AS change_type
    FROM cur c FULL OUTER JOIN inc i ON c.c_custkey = i.c_custkey
    """,
)
def op_pipe_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 1 overwrite merge (Kimball ch. 5): incoming attributes
    win for matched keys, new keys insert, no history — the reference's
    pandas ``to_sql(if_exists='replace')`` whole-table reload
    (ref A2_hr_etl.py:96) done as a keyed set operation so unchanged
    rows are auditable. Same %4-perturbed / %7-new fixture as
    op-pipe-scd2; one full-outer shuffle on the business key."""
    cust = t(spark, sf_dir, "customer")
    current = cust.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 4 == 0, F.lit("OLDSEG"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    incoming = cust.select("c_custkey", "c_name", "c_mktsegment")
    return overwrite_dim(
        current, incoming, "c_custkey", ["c_name", "c_mktsegment"]
    )


# --------------------------------------------------------------------------
# SCD Type 3 — previous-value column
# --------------------------------------------------------------------------


@query(
    "op-pipe-scd3",
    oracle="""
    WITH cur AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 4 = 0 THEN 'OLDSEG'
                  ELSE c_mktsegment END AS seg,
             CASE WHEN c_custkey % 13 = 0 THEN 'ANCIENTSEG'
                  ELSE NULL END AS prev,
             CASE WHEN c_custkey % 13 = 0 THEN '2023-06-01'
                  ELSE NULL END AS changed_on
      FROM customer WHERE c_custkey % 7 <> 0
    ), inc AS (SELECT c_custkey, c_mktsegment AS seg FROM customer)
    SELECT COALESCE(c.c_custkey, i.c_custkey) AS c_custkey,
           CASE WHEN i.c_custkey IS NOT NULL THEN i.seg
                ELSE c.seg END AS c_mktsegment,
           CASE WHEN i.c_custkey IS NOT NULL AND c.c_custkey IS NOT NULL
                     AND i.seg IS DISTINCT FROM c.seg
                  THEN c.seg
                WHEN c.c_custkey IS NOT NULL THEN c.prev
                ELSE NULL END AS prev_mktsegment,
           CASE WHEN i.c_custkey IS NOT NULL AND c.c_custkey IS NOT NULL
                     AND i.seg IS DISTINCT FROM c.seg
                  THEN '2024-06-01'
                WHEN c.c_custkey IS NOT NULL THEN c.changed_on
                ELSE NULL END AS attr_changed_on
    FROM cur c FULL OUTER JOIN inc i ON c.c_custkey = i.c_custkey
    """,
)
def op_pipe_scd3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 3 (Kimball ch. 5): on change the outgoing value slides
    into ``prev_mktsegment`` and the change date stamps
    ``attr_changed_on`` — bounded in-row history, the "alternate
    reality" pattern the reference's Type-2-only dim can't answer
    ("compare by old vs new segment" without exploding rows). %13 keys
    arrive with pre-existing previous values to prove they persist
    through a no-op merge; %4 keys change ('OLDSEG' → real segment)."""
    cust = t(spark, sf_dir, "customer")
    current = cust.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 4 == 0, F.lit("OLDSEG"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.when(F.col("c_custkey") % 13 == 0, F.lit("ANCIENTSEG"))
        .otherwise(F.lit(None))
        .alias("prev_mktsegment"),
        F.when(F.col("c_custkey") % 13 == 0, F.lit("2023-06-01"))
        .otherwise(F.lit(None))
        .alias("attr_changed_on"),
    )
    incoming = cust.select("c_custkey", "c_mktsegment")
    return scd3_merge(
        current,
        incoming,
        "c_custkey",
        "c_mktsegment",
        "prev_mktsegment",
        "2024-06-01",
    )


# --------------------------------------------------------------------------
# accumulating-snapshot fact
# --------------------------------------------------------------------------


@query(
    "op-ext-acc-snapshot",
    oracle="""
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           COUNT(*) AS n_lines,
           strftime(MIN(l.l_shipdate), '%Y-%m-%d') AS first_ship,
           strftime(MAX(l.l_shipdate), '%Y-%m-%d') AS last_ship,
           date_diff('day', o.o_orderdate, MIN(l.l_shipdate))
             AS days_to_first_ship,
           date_diff('day', o.o_orderdate, MAX(l.l_shipdate))
             AS days_to_close,
           CAST(SUM(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate)
                              <= 30
                         THEN 1 ELSE 0 END) AS BIGINT) AS lines_on_time
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE year(o.o_orderdate) = 1995
    GROUP BY o.o_orderkey, o.o_orderdate
    """,
)
def op_ext_acc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulating-snapshot fact (Kimball ch. 4): one row per order
    pipeline with its milestone dates (order → first ship → last
    receipt) and lag spans — the lifecycle view a periodic snapshot
    (op-pipe-snapshot) can't give. One join + one groupBy, both keyed
    on the order key so the exchange is reused; milestone lags are
    integer day diffs (exact in both engines). At 100 TB this is the
    classic "update-in-place fact" — here re-derived set-based, which
    is exactly how a lakehouse rebuilds the current milestone row."""
    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1995)
        .select("o_orderkey", "o_orderdate")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
    return (
        j.groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min("l_shipdate").alias("_fs"),
            F.max("l_shipdate").alias("_lr"),
            F.sum(
                F.when(
                    F.datediff("l_shipdate", "o_orderdate") <= 30, F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("lines_on_time"),
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "n_lines",
            F.date_format("_fs", "yyyy-MM-dd").alias("first_ship"),
            F.date_format("_lr", "yyyy-MM-dd").alias("last_ship"),
            F.datediff("_fs", "o_orderdate").cast("bigint").alias(
                "days_to_first_ship"
            ),
            F.datediff("_lr", "o_orderdate").cast("bigint").alias(
                "days_to_close"
            ),
            "lines_on_time",
        )
    )


# --------------------------------------------------------------------------
# junk dimension
# --------------------------------------------------------------------------


@query(
    "op-ext-junk-dim",
    oracle="""
    SELECT ROW_NUMBER() OVER (ORDER BY l_returnflag, l_linestatus,
                                       is_discounted, is_taxed)
             AS junk_key,
           l_returnflag, l_linestatus, is_discounted, is_taxed, n_rows
    FROM (
      SELECT l_returnflag, l_linestatus,
             l_discount > 0 AS is_discounted,
             l_tax > 0 AS is_taxed,
             COUNT(*) AS n_rows
      FROM lineitem GROUP BY 1, 2, 3, 4
    )
    """,
)
def op_ext_junk_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Junk dimension (Kimball ch. 6): the distinct combinations of the
    fact's low-cardinality flag/indicator columns get one surrogate
    key, collapsing N degenerate columns into a single FK. The
    numbering window runs on the POST-AGGREGATE combination frame
    (≤ |rf|·|ls|·2·2 ≈ 10¹ rows — dim-sized by construction, same
    sanction as op-ext-ntile); the fact-scale work is one map-side
    partial-aggregated groupBy."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        (F.col("l_discount") > 0).alias("is_discounted"),
        (F.col("l_tax") > 0).alias("is_taxed"),
    )
    return junk_dimension(
        li, ["l_returnflag", "l_linestatus", "is_discounted", "is_taxed"]
    )


# --------------------------------------------------------------------------
# bridge-table allocation
# --------------------------------------------------------------------------


@query(
    "op-ext-bridge-alloc",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, {ex.cents('o_totalprice')} AS total_cents
      FROM orders
      WHERE o_orderdate >= DATE '1995-01-01'
        AND o_orderdate < DATE '1995-02-01'
    ), l AS (
      SELECT l_orderkey, l_linenumber, {ex.cents('l_extendedprice')} AS w FROM lineitem
    ), j AS (
      SELECT o.o_orderkey, l.l_linenumber, l.w, o.total_cents,
             CAST(SUM(l.w) OVER (PARTITION BY o.o_orderkey) AS BIGINT)
               AS big_w
      FROM o JOIN l ON o.o_orderkey = l.l_orderkey
    ), p AS (
      SELECT o_orderkey, l_linenumber, total_cents,
             CAST((total_cents * w) // big_w AS BIGINT) AS fl,
             CAST(SUM((total_cents * w) // big_w)
               OVER (PARTITION BY o_orderkey) AS BIGINT) AS sfl,
             ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                ORDER BY (total_cents * w) % big_w DESC,
                                         l_linenumber) AS rk
      FROM j
    )
    SELECT o_orderkey, l_linenumber,
           CAST(fl + CASE WHEN rk <= total_cents - sfl THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents
    FROM p
    """,
)
def op_ext_bridge_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridge-table allocation (Kimball ch. 6): split each January-1995
    order's header total across its lineitems proportional to extended
    price, largest-remainder in exact integer cents so per-order sums
    reconcile to the header EXACTLY (float pro-rata never does; finance
    closes reject it). All bigint `div`/`%` arithmetic → bit-identical
    across engines; one order-keyed join, window sums and the remainder
    ranking all share the same order-key partitioning so AQE plans a
    single exchange."""
    orders = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-02-01"))
        )
        .select(
            "o_orderkey",
            F.expr(ex.cents("o_totalprice")).alias("total_cents"),
        )
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.expr(ex.cents("l_extendedprice")).alias("weight_cents"),
    )
    fact = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderkey", "l_linenumber", "weight_cents", "total_cents"
    )
    return bridge_allocate(
        fact, "o_orderkey", "l_linenumber", "weight_cents", "total_cents"
    )


# --------------------------------------------------------------------------
# Data Vault satellite delta load
# --------------------------------------------------------------------------


@query(
    "op-ext-datavault-sat",
    oracle="""
    WITH prev AS (
      SELECT c_custkey,
             md5(concat_ws('::', c_name,
                 CASE WHEN c_custkey % 4 = 0 THEN 'OLDSEG'
                      ELSE c_mktsegment END)) AS hashdiff
      FROM customer WHERE c_custkey % 7 <> 0
    ), inc AS (
      SELECT c_custkey, c_name, c_mktsegment,
             md5(CAST(c_custkey AS VARCHAR)) AS hub_customer_hk,
             md5(concat_ws('::', c_name, c_mktsegment)) AS hashdiff
      FROM customer
    )
    SELECT i.hub_customer_hk, i.c_custkey, '2024-06-01' AS load_date,
           i.hashdiff, i.c_name, i.c_mktsegment
    FROM inc i LEFT JOIN prev p ON i.c_custkey = p.c_custkey
    WHERE i.hashdiff IS DISTINCT FROM p.hashdiff
    """,
)
def op_ext_datavault_sat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Vault 2.0 satellite delta load (Linstedt): the incoming
    batch lands only rows whose attribute ``hashdiff`` differs from the
    satellite's latest row per hub key — the insert-only audit trail
    that replaces UPDATE entirely (the same hash-diff change detection
    as the reference's SCD2, ref A3_load_dim_emp.sql:27-41, but
    append-only). Hub hash key = md5(business key) so satellites join
    hubs without carrying natural keys. One left join on the business
    key; hashes are 32-char strings, so the shuffle carries digests,
    not attribute payloads, at 100 TB."""
    cust = t(spark, sf_dir, "customer")
    prev = cust.filter(F.col("c_custkey") % 7 != 0).select(
        F.col("c_custkey").alias("_pk"),
        F.md5(
            F.concat_ws(
                "::",
                F.col("c_name"),
                F.when(F.col("c_custkey") % 4 == 0, F.lit("OLDSEG")).otherwise(
                    F.col("c_mktsegment")
                ),
            )
        ).alias("_phash"),
    )
    inc = cust.select(
        F.md5(F.col("c_custkey").cast("string")).alias("hub_customer_hk"),
        "c_custkey",
        F.md5(F.concat_ws("::", "c_name", "c_mktsegment")).alias("hashdiff"),
        "c_name",
        "c_mktsegment",
    )
    return (
        inc.join(prev, inc["c_custkey"] == prev["_pk"], "left")
        .filter(~F.col("hashdiff").eqNullSafe(F.col("_phash")))
        .select(
            "hub_customer_hk",
            "c_custkey",
            F.lit("2024-06-01").alias("load_date"),
            "hashdiff",
            "c_name",
            "c_mktsegment",
        )
    )


# --------------------------------------------------------------------------
# MERGE INTO
# --------------------------------------------------------------------------


def _merge_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(o_orderkey, o_orderstatus, total_cents)`` of every order."""
    return t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", "o_orderstatus", f"{ex.cents('o_totalprice')} AS total_cents"
    )


def _merge_batch(base: DataFrame) -> DataFrame:
    """The MERGE change batch over :func:`_merge_base` rows, with its
    ``op``: even %10 keys update (+100 cents), the other even %14 keys
    delete, odd %5 keys insert."""
    return base.where(
        "(o_orderkey % 2 = 0 AND (o_orderkey % 10 = 0 OR o_orderkey % 14 = 0))"
        " OR (o_orderkey % 2 = 1 AND o_orderkey % 5 = 0)"
    ).selectExpr(
        "o_orderkey",
        "o_orderstatus",
        "IF(o_orderkey % 2 = 0 AND o_orderkey % 10 = 0, total_cents + 100, total_cents)"
        " AS total_cents",
        "CASE WHEN o_orderkey % 2 = 1 THEN 'I'"
        " WHEN o_orderkey % 10 = 0 THEN 'U' ELSE 'D' END AS op",
    )


@query(
    "op-ext-merge-into",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, {ex.cents('o_totalprice')} AS total_cents
      FROM orders
    )
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 10 = 0
                  THEN total_cents + 100
                ELSE total_cents END AS total_cents
    FROM base
    WHERE (o_orderkey % 2 = 0
           AND NOT (o_orderkey % 14 = 0 AND o_orderkey % 10 <> 0))
       OR (o_orderkey % 2 = 1 AND o_orderkey % 5 = 0)
    """,
)
def op_ext_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic MERGE INTO (ANSI/Delta `MERGE` — the statement the
    reference approximates with UPDATE then INSERT,
    ref A3_load_dim_emp.sql:42-62): matched+op='D' deletes, matched
    'U' updates, unmatched non-delete inserts, untouched target rows
    persist. Target = even order keys; the source batch updates %10
    keys (+100 cents), deletes the remaining %14 keys, and inserts odd
    %5 keys. One full-outer shuffle join — the portable core that
    Delta/Iceberg wrap with file pruning (plans/scd2.py upgrade note);
    composes with op-ext-cdc-apply for raw change streams."""
    base = _merge_base(spark, sf_dir)
    return merge_into(
        base.where("o_orderkey % 2 = 0"),
        _merge_batch(base),
        "o_orderkey",
        ["o_orderstatus", "total_cents"],
    )


# --------------------------------------------------------------------------
# write-audit-publish
# --------------------------------------------------------------------------


@query(
    "op-ext-wap",
    oracle=f"""
    WITH staged AS (
      SELECT 1995 AS batch_id, o_orderkey, o_orderstatus, o_orderdate,
             {ex.cents('o_totalprice')} AS total_cents
      FROM orders WHERE year(o_orderdate) = 1995
      UNION ALL
      SELECT 1996, o_orderkey, o_orderstatus, o_orderdate,
             CASE WHEN o_orderkey % 97 = 0 THEN -{ex.cents('o_totalprice')}
                  ELSE {ex.cents('o_totalprice')} END
      FROM orders WHERE year(o_orderdate) = 1996
    )
    SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN total_cents <= 0
                          OR o_orderstatus NOT IN ('O', 'F', 'P')
                          OR o_orderdate IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           SUM(CASE WHEN total_cents <= 0
                     OR o_orderstatus NOT IN ('O', 'F', 'P')
                     OR o_orderdate IS NULL
                    THEN 1 ELSE 0 END) = 0 AS published
    FROM staged GROUP BY 1
    """,
)
def op_ext_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (the Netflix/Iceberg WAP pattern; the
    transactional form of the reference's staging-then-load flow, ref
    ``A2_hr_etl.py`` staging tables): each batch stages invisibly, an
    audit pass counts constraint violations (positive totals, legal
    status codes, non-null dates — op-ext-constraints' rule family),
    and ONLY a zero-violation batch publishes. Fixture: the 1995 batch
    is clean (publishes), the 1996 batch carries %97 negated totals
    (audit blocks it). Output is the audit ledger the on-call reads;
    the atomic-commit mechanics over the transaction log are exercised
    in tests/test_warehouse_wave.py (publish = txlog.commit of the
    audited files, abort = no commit — readers never see batch 1996).
    One scan + one aggregate per batch; the audit is map-side
    combinable so it costs one pass at 100 TB."""
    orders = t(spark, sf_dir, "orders")
    cents = F.expr(ex.cents("o_totalprice"))

    def _batch(year: int, perturb: bool) -> DataFrame:
        df = orders.filter(F.year("o_orderdate") == year).select(
            F.lit(year).alias("batch_id"),
            "o_orderkey",
            "o_orderstatus",
            "o_orderdate",
            (
                F.when(
                    F.col("o_orderkey") % 97 == 0, -cents
                ).otherwise(cents)
                if perturb
                else cents
            ).alias("total_cents"),
        )
        return df

    staged = _batch(1995, False).unionByName(_batch(1996, True))
    viol = F.when(
        (F.col("total_cents") <= 0)
        | (~F.col("o_orderstatus").isin("O", "F", "P"))
        | F.col("o_orderdate").isNull(),
        1,
    ).otherwise(0)
    return staged.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(viol).cast("bigint").alias("n_violations"),
        (F.sum(viol) == 0).alias("published"),
    )


# --------------------------------------------------------------------------
# MERGE on the transaction log — the end-to-end lakehouse writer
# --------------------------------------------------------------------------


@query(
    "op-ext-merge-txlog",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, {ex.cents('o_totalprice')} AS total_cents
      FROM orders
    ),
    v1 AS (SELECT * FROM base WHERE o_orderkey % 2 = 0),
    v2 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 10 = 0
                    THEN total_cents + 100
                  ELSE total_cents END AS total_cents
      FROM base
      WHERE (o_orderkey % 2 = 0
             AND NOT (o_orderkey % 14 = 0 AND o_orderkey % 10 <> 0))
         OR (o_orderkey % 2 = 1 AND o_orderkey % 5 = 0)
    )
    SELECT CAST(1 AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(total_cents) AS BIGINT) AS sum_cents,
           TRUE AS published, FALSE AS is_latest
    FROM v1
    UNION ALL
    SELECT 2, COUNT(*), CAST(SUM(total_cents) AS BIGINT), TRUE, TRUE FROM v2
    UNION ALL
    SELECT 3, COUNT(*),
           CAST(SUM(CASE WHEN o_orderkey % 100 = 0 THEN -total_cents
                         ELSE total_cents END) AS BIGINT),
           FALSE, FALSE
    FROM v2
    """,
)
def op_ext_merge_txlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO composed with the transaction log, end-to-end — the
    lakehouse-writer story the BASELINE north star names (Delta/Iceberg
    stand-in): every MERGE result lands as a txlog REWRITE commit (one
    add + removes of the superseded files, plans/txlog.rewrite — the
    exact write shape of Delta's MERGE), gated by a WAP audit, so
    published versions are time-travelable and a failed audit leaves
    the table untouched.

    Lifecycle exercised at build, all proved through TIME-TRAVEL READS
    of the log rather than the in-memory frames:
    * v1 — initial target (even order keys) committed;
    * v2 — the op-ext-merge-into fixture batch (updates %10 keys
      +100¢, deletes %14 keys, inserts odd %5 keys) merged against the
      v1 SNAPSHOT and rewrite-committed after a clean audit;
    * v3 — a poison batch (negates %100 keys) merges cleanly but FAILS
      the audit (total_cents ≤ 0), so it is never committed: latest
      stays 2, and v3's row reports the blocked candidate's stats with
      published = FALSE.

    The audit counts are driver-side by design — the WAP gate IS a
    driver decision (commit or don't), same as op-ext-wap's publish
    bit. Idempotency/replay pinned in tests/test_txlog.py. 100 TB: the
    merge is one keyed shuffle; commits are metadata appends; audits
    are map-side-combined aggregates."""
    from data_warehousing_assignment_spark.plans import txlog
    from data_warehousing_assignment_spark.registry_io import _scratch

    root = _scratch("op-ext-merge-txlog")
    base = _merge_base(spark, sf_dir)
    txlog.commit(root, base.where("o_orderkey % 2 = 0"), 1)

    merged = merge_into(
        txlog.read_snapshot(spark, root, 1),
        _merge_batch(base),
        "o_orderkey",
        ["o_orderstatus", "total_cents"],
    )
    audit_bad = (
        "total_cents <= 0 OR NOT (o_orderstatus IN ('O', 'F', 'P'))"
        " OR o_orderkey IS NULL"
    )
    if merged.where(audit_bad).count() == 0:  # WAP gate: clean → publish
        txlog.rewrite(root, merged, 2)

    snap2 = txlog.read_snapshot(spark, root)
    poison = snap2.where("o_orderkey % 100 = 0").selectExpr(
        "o_orderkey", "o_orderstatus", "-total_cents AS total_cents", "'U' AS op"
    )
    candidate = merge_into(
        snap2, poison, "o_orderkey", ["o_orderstatus", "total_cents"]
    )
    if candidate.where(audit_bad).count() == 0:  # fails: never commits
        txlog.rewrite(root, candidate, 3)

    latest = txlog.latest_version(root)

    def vrow(df: DataFrame, version: int, published: bool) -> DataFrame:
        return df.selectExpr(
            f"CAST({version} AS BIGINT) AS version",
            "count(1) AS n_rows",
            "CAST(sum(total_cents) AS BIGINT) AS sum_cents",
            f"{published} AS published",
            f"{latest == version} AS is_latest",
        )

    return (
        vrow(txlog.read_snapshot(spark, root, 1), 1, True)
        .unionByName(vrow(txlog.read_snapshot(spark, root, 2), 2, True))
        .unionByName(vrow(candidate, 3, False))
    )


# --------------------------------------------------------------------------
# zone-map pruning
# --------------------------------------------------------------------------


@query(
    "op-ext-zonemap-prune",
    oracle=f"""    WITH z AS (
      SELECT {ex.cents('o_totalprice')} // 1250000 AS zone_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN({ex.cents('o_totalprice')}) AS min_cents,
             MAX({ex.cents('o_totalprice')}) AS max_cents,
             CAST(SUM(CASE WHEN {ex.cents('o_totalprice')} BETWEEN 40000000 AND 50000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_matching
      FROM orders GROUP BY 1
    )
    SELECT CAST(zone_id AS BIGINT) AS zone_id, n_rows, min_cents, max_cents,
           (max_cents >= 40000000 AND min_cents <= 50000000) AS scanned,
           n_matching
    FROM z
    
    """,
)
def op_ext_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning decision (the read side of op-ext-zonemap's
    min/max stats — what Parquet row-group stats, ORC stripe stats, and
    Delta file stats all do) for the predicate total ∈ [$400k, $500k],
    over the VALUE-SORTED layout (zone = $12.5k-wide total bucket, the
    zones a totalprice-ORDERED write produces): a zone is SCANNED only
    when [min,max] overlaps the predicate; non-overlap proves zero
    matches without reading the zone (tests/test_warehouse_wave.py
    pins pruned ⇒ n_matching = 0, and that the predicate both prunes
    and keeps zones). Why the layout matters: on the month-keyed
    layout every zone's [min,max] spans nearly the full price range
    (measured — ZERO zones prunable for this predicate), which is
    op-ext-zorder's lesson one level down: min/max stats only skip
    when the layout clusters the filter column. At 100 TB this
    decision is why a selective scan on a sorted table reads ~2% of
    files — same contract as the PartitionFilters plan guard
    (tests/test_plan_shapes.py) one level below partitions."""
    orders = t(spark, sf_dir, "orders")
    cents = F.expr(ex.cents("o_totalprice"))
    z = orders.groupBy(
        F.expr(f"({ex.cents('o_totalprice')}) div 1250000")
        .cast("bigint")
        .alias("zone_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(cents).alias("min_cents"),
        F.max(cents).alias("max_cents"),
        F.sum(
            F.when(cents.between(40000000, 50000000), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_matching"),
    )
    return z.select(
        "zone_id",
        "n_rows",
        "min_cents",
        "max_cents",
        (
            (F.col("max_cents") >= 40000000)
            & (F.col("min_cents") <= 50000000)
        ).alias("scanned"),
        "n_matching",
    )


# --------------------------------------------------------------------------
# SCD2 point-in-time lookup
# --------------------------------------------------------------------------


@query(
    "op-ext-scd2-pit",
    oracle="""
    WITH dim AS (
      -- %4 keys changed segment on 1997-01-01 (OLDSEG before, real after);
      -- everyone else has one open row from the beginning of time
      SELECT c_custkey, 'OLDSEG' AS seg,
             DATE '1900-01-01' AS valid_from, DATE '1997-01-01' AS valid_to
      FROM customer WHERE c_custkey % 4 = 0
      UNION ALL
      SELECT c_custkey, c_mktsegment,
             DATE '1997-01-01', DATE '9999-12-31'
      FROM customer WHERE c_custkey % 4 = 0
      UNION ALL
      SELECT c_custkey, c_mktsegment,
             DATE '1900-01-01', DATE '9999-12-31'
      FROM customer WHERE c_custkey % 4 <> 0
    )
    SELECT o.o_orderkey, o.o_custkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
           d.seg AS segment_at_order
    FROM orders o JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND o.o_orderdate >= d.valid_from
     AND o.o_orderdate < d.valid_to
    """,
)
def op_ext_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) fact⋈SCD2-dim join — THE query a Type-2
    dimension exists to answer (ref A3_load_dim_emp.sql's
    valid_from/valid_to pair; Kimball ch. 5 "as-was" reporting): each
    order joins the dim row whose validity interval contains the order
    date, so pre-1997 orders of %4 customers see their historical
    'OLDSEG'. The dim carries ≤2 rows per key, so this plans as one
    broadcast/hash equi-join on the business key with the interval
    predicate as a residual filter — at 100 TB the fact never shuffles
    more than once, and validity intervals never overlap (SCD2
    invariant, plans/scd2.assert_scd2_invariants), so multiplicity is
    exactly 1 (pinned in tests/test_warehouse_wave.py)."""
    cust = t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    hist = cust.filter(k % 4 == 0).select(
        "c_custkey",
        F.lit("OLDSEG").alias("seg"),
        F.to_date(F.lit("1900-01-01")).alias("valid_from"),
        F.to_date(F.lit("1997-01-01")).alias("valid_to"),
    )
    cur4 = cust.filter(k % 4 == 0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.to_date(F.lit("1997-01-01")).alias("valid_from"),
        F.to_date(F.lit("9999-12-31")).alias("valid_to"),
    )
    rest = cust.filter(k % 4 != 0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.to_date(F.lit("1900-01-01")).alias("valid_from"),
        F.to_date(F.lit("9999-12-31")).alias("valid_to"),
    )
    dim = hist.unionByName(cur4).unionByName(rest)
    o = t(spark, sf_dir, "orders")
    return (
        o.join(
            dim,
            (o["o_custkey"] == dim["c_custkey"])
            & (o["o_orderdate"] >= dim["valid_from"])
            & (o["o_orderdate"] < dim["valid_to"]),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            F.col("seg").alias("segment_at_order"),
        )
    )


# --------------------------------------------------------------------------
# referential-integrity orphan check
# --------------------------------------------------------------------------


@query(
    "op-ext-orphan-check",
    oracle="""
    SELECT 'lineitem->orders(purged)' AS check_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child_rows,
           CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey
                        AND o.o_orderkey % 11 <> 0)
    UNION ALL
    SELECT 'orders->customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           CAST(COUNT(*) AS BIGINT)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    """,
)
def op_ext_orphan_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity orphan audit (dbt's `relationships` test,
    the DQ check the reference's FK DDL enforces in-database, ref
    ``01_create_a_db_*/create_db.sql`` REFERENCES clauses — a lakehouse
    has no FK enforcement, so this anti-join IS the constraint): one
    failing check (parents with key %11 purged → their lineitems
    orphaned) and one passing check (orders→customer, intact by
    construction). Null-safe anti-joins, each one broadcast/shuffle
    hash join on the key; the parent side reduces to distinct keys
    before joining, so at 100 TB the child fact streams once against a
    key-only build side."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    surviving = o.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey"
    ).distinct()
    orphans1 = li.join(
        surviving, li["l_orderkey"] == surviving["o_orderkey"], "left_anti"
    )
    check1 = li.agg(F.count(F.lit(1)).alias("n_child_rows")).crossJoin(
        orphans1.agg(F.count(F.lit(1)).alias("n_orphans"))
    ).select(
        F.lit("lineitem->orders(purged)").alias("check_name"),
        "n_child_rows",
        "n_orphans",
    )
    parents2 = c.select("c_custkey").distinct()
    orphans2 = o.join(
        parents2, o["o_custkey"] == parents2["c_custkey"], "left_anti"
    )
    check2 = o.agg(F.count(F.lit(1)).alias("n_child_rows")).crossJoin(
        orphans2.agg(F.count(F.lit(1)).alias("n_orphans"))
    ).select(
        F.lit("orders->customer").alias("check_name"),
        "n_child_rows",
        "n_orphans",
    )
    return check1.unionByName(check2)


# --------------------------------------------------------------------------
# SCD Type 6 — hybrid 1+2+3
# --------------------------------------------------------------------------


@query(
    "op-pipe-scd6",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, 'OLDSEG' AS seg,
             '1900-01-01' AS valid_from, '1997-01-01' AS valid_to,
             FALSE AS is_current
      FROM customer WHERE c_custkey % 4 = 0
      UNION ALL
      SELECT c_custkey, c_mktsegment, '1997-01-01', NULL, TRUE
      FROM customer WHERE c_custkey % 4 = 0
      UNION ALL
      SELECT c_custkey, c_mktsegment, '1900-01-01', NULL, TRUE
      FROM customer WHERE c_custkey % 4 <> 0
    )
    SELECT c_custkey, seg AS historical_seg, valid_from, valid_to,
           is_current,
           MAX(CASE WHEN is_current THEN seg END)
             OVER (PARTITION BY c_custkey) AS current_seg
    FROM dim
    """,
)
def op_pipe_scd6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 6 (hybrid 1+2+3, Kimball ch. 5): the Type-2 history
    rows additionally carry the TYPE-1-style ``current_seg`` column on
    EVERY row — so "as-was" (historical_seg) and "as-is" (current_seg)
    reporting both resolve with zero extra joins. The overwrite is one
    key-partitioned window over the dim (propagate the is_current
    row's value to the whole key partition); at 100 TB that is a
    dim-sized shuffle, run once per merge, which is why warehouses pay
    the denormalization. Completes the SCD family: Type 1
    (op-pipe-scd1), 2 (op-pipe-scd2), 3 (op-pipe-scd3), 6 (here)."""
    cust = t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    hist = cust.filter(k % 4 == 0).select(
        "c_custkey",
        F.lit("OLDSEG").alias("seg"),
        F.lit("1900-01-01").alias("valid_from"),
        F.lit("1997-01-01").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    cur4 = cust.filter(k % 4 == 0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.lit("1997-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    rest = cust.filter(k % 4 != 0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.lit("1900-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    dim = hist.unionByName(cur4).unionByName(rest)
    from pyspark.sql import Window

    wk = Window.partitionBy("c_custkey")
    return dim.select(
        "c_custkey",
        F.col("seg").alias("historical_seg"),
        "valid_from",
        "valid_to",
        "is_current",
        F.max(F.when(F.col("is_current"), F.col("seg"))).over(wk).alias(
            "current_seg"
        ),
    )


# --------------------------------------------------------------------------
# crypto-shredding erasure
# --------------------------------------------------------------------------


@query(
    "op-ext-crypto-shred",
    oracle="""
    WITH keys AS (
      -- per-user key vault: %13 users' keys are SHREDDED (deleted)
      SELECT c_custkey, md5('key:' || CAST(c_custkey AS VARCHAR)) AS k
      FROM customer WHERE c_custkey % 13 <> 0
    )
    SELECT c.c_custkey,
           k.k IS NOT NULL AS decryptable,
           CASE WHEN k.k IS NOT NULL
                THEN md5(k.k || c.c_name) END AS name_digest
    FROM customer c LEFT JOIN keys k ON c.c_custkey = k.c_custkey
    """,
)
def op_ext_crypto_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crypto-shredding GDPR erasure (the lakehouse right-to-be-
    forgotten pattern: per-user envelope keys in a key vault; "erase" =
    DELETE THE KEY, never rewrite petabytes of immutable files): with
    %13 users' keys shredded, their PII is provably undecryptable —
    the payload digest can only be derived WITH the key. The payload
    here is an md5 keyed digest standing in for real AES envelope
    encryption (same join/flag shape; swap `md5(k || x)` for
    `aes_decrypt` in production — Spark ships aes_encrypt/aes_decrypt
    but DuckDB has no twin, so the oracle-checkable digest carries the
    demo). One key-vault broadcast join; erasure cost is O(1) per
    user, which is the entire point at 100 TB. Composes with
    op-ext-kanonymity / op-ext-dp-counts for the governance suite."""
    cust = t(spark, sf_dir, "customer")
    keys = cust.filter(F.col("c_custkey") % 13 != 0).select(
        F.col("c_custkey").alias("_kk"),
        F.md5(
            F.concat(F.lit("key:"), F.col("c_custkey").cast("string"))
        ).alias("k"),
    )
    return (
        cust.join(keys, cust["c_custkey"] == keys["_kk"], "left")
        .select(
            "c_custkey",
            F.col("k").isNotNull().alias("decryptable"),
            F.when(
                F.col("k").isNotNull(),
                F.md5(F.concat(F.col("k"), F.col("c_name"))),
            ).alias("name_digest"),
        )
    )


# --------------------------------------------------------------------------
# manifest-stats file skipping on the transaction log
# --------------------------------------------------------------------------


@query(
    "op-ext-txlog-skip",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({ex.money('o_totalprice')} * 100) AS BIGINT)
             AS rev_cents
    FROM orders
    WHERE year(o_orderdate) = 1996
    GROUP BY 1
    """,
)
def op_ext_txlog_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level data skipping on the transaction log
    (plans/txlog.commit_with_stats / skipped_read): each yearly commit
    records its order-date min/max in the manifest — exactly Delta/
    Iceberg per-file stats — and the 1996 read PROVES non-overlapping
    files skip without being opened (tests/test_txlog_skip.py pins
    scanned == 1 of 3 files; a file without stats is always scanned —
    skipping requires proof). This is op-ext-zonemap-prune one level
    up: manifest stats prune FILES before parquet row-group stats
    prune pages. The commits happen at build (same methodology as
    op-ext-time-travel); the timed read unions only surviving files."""
    import os
    import shutil

    from data_warehousing_assignment_spark.plans import txlog
    from data_warehousing_assignment_spark.registry_io import _scratch

    root = _scratch("op-ext-txlog-skip")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.expr(ex.cents("o_totalprice")).alias("pc"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od_str"),
    )
    for version, year in enumerate((1995, 1996, 1997), start=1):
        txlog.commit_with_stats(
            root,
            orders.filter(F.year("o_orderdate") == year),
            version,
            "od_str",
        )
    snap, scanned, skipped = txlog.skipped_read(
        spark, root, lo="1996-01-01", hi="1996-12-31"
    )
    return (
        snap.filter(
            (F.col("od_str") >= "1996-01-01") & (F.col("od_str") <= "1996-12-31")
        )
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("pc").cast("bigint").alias("rev_cents"),
        )
    )


# --------------------------------------------------------------------------
# row-level security policy view
# --------------------------------------------------------------------------


@query(
    "op-ext-rls",
    oracle=f"""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM({ex.money('c.c_acctbal')} * 100) AS BIGINT)
             AS acctbal_cents
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY 1
    """,
)
def op_ext_rls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level security: the EMEA analyst's customer rollup through
    ``plans/access.with_row_policy`` — the policy predicate (customer's
    nation ∈ EUROPE) is applied AT THE SOURCE FRAME, before any
    aggregation, so every downstream op inherits the filter (the
    Postgres RLS / Unity row-filter semantics; complements the
    view-grant layer in plans/access.ROLE_GRANTS, ref User_roles.sql's
    role separation). Catalyst pushes the region predicate through the
    joins into the dim scans — the policy costs a broadcast semi-join,
    not a post-hoc filter."""
    from data_warehousing_assignment_spark.plans.access import (
        with_row_policy,
    )

    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    emea_nations = (
        n.join(r, n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name") == "EUROPE")
        .select("n_nationkey", "n_name")
    )
    policy_frame = c.join(
        F.broadcast(emea_nations),
        c["c_nationkey"] == emea_nations["n_nationkey"],
        "left",
    )
    secured = with_row_policy(
        policy_frame, F.col("n_name").isNotNull()
    )
    return secured.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.expr(f"{ex.money('c_acctbal')} * 100"))
        .cast("bigint")
        .alias("acctbal_cents"),
    )


# --------------------------------------------------------------------------
# SCD2 backfill — one-pass history reconstruction
# --------------------------------------------------------------------------


@query(
    "op-pipe-scd2-backfill",
    oracle="""
    WITH yearly AS (
      SELECT o_custkey, year(o_orderdate) AS yr, o_orderpriority
      FROM orders
      QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey, year(o_orderdate)
                                 ORDER BY o_orderdate DESC,
                                          o_orderkey DESC) = 1
    ),
    flagged AS (
      SELECT o_custkey, yr, o_orderpriority,
             CASE WHEN LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                                  ORDER BY yr)
                       IS DISTINCT FROM o_orderpriority
                  THEN 1 ELSE 0 END AS chg
      FROM yearly
    ),
    runs AS (
      SELECT o_custkey, yr, o_orderpriority,
             CAST(SUM(chg) OVER (PARTITION BY o_custkey ORDER BY yr
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS run_id
      FROM flagged
    ),
    hist AS (
      SELECT o_custkey, run_id, o_orderpriority,
             CAST(MIN(yr) AS BIGINT) AS from_yr
      FROM runs GROUP BY 1, 2, 3
    )
    SELECT o_custkey, o_orderpriority,
           CAST(from_yr AS VARCHAR) || '-01-01' AS valid_from,
           CASE WHEN LEAD(from_yr) OVER (PARTITION BY o_custkey
                                         ORDER BY from_yr) IS NULL
                THEN NULL
                ELSE CAST(LEAD(from_yr) OVER (PARTITION BY o_custkey
                                              ORDER BY from_yr)
                          AS VARCHAR) || '-01-01' END AS valid_to,
           LEAD(from_yr) OVER (PARTITION BY o_custkey ORDER BY from_yr)
             IS NULL AS is_current
    FROM hist
    """,
)
def op_pipe_scd2_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 HISTORY BACKFILL in one pass — reconstruct a Type-2
    dimension from raw history when no dim was ever maintained (the
    day-1 problem every warehouse migration hits; the incremental
    merge op-pipe-scd2 only works going forward): each customer's
    yearly order priority is run-length collapsed via gaps-and-islands
    (change flag = LAG ≠ value; run id = running sum of flags), runs
    become validity intervals, LEAD supplies valid_to, the last run is
    current. Four window functions over ONE (customer, year) ordering
    — no iteration, no self-join per change, which is why backfilling
    years of 100 TB history is one shuffle by entity. Invariants
    (contiguity, single current row) are the same
    plans/scd2.assert_scd2_invariants contract, pinned in
    tests/test_warehouse_wave.py."""
    o = t(spark, sf_dir, "orders")
    wlatest = Window.partitionBy(
        "o_custkey", F.year("o_orderdate")
    ).orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    yearly = (
        o.withColumn("rn", F.row_number().over(wlatest))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.year("o_orderdate").alias("yr"),
            "o_orderpriority",
        )
    )
    wyr = Window.partitionBy("o_custkey").orderBy("yr")
    flagged = yearly.select(
        "o_custkey",
        "yr",
        "o_orderpriority",
        F.when(
            ~F.lag("o_orderpriority")
            .over(wyr)
            .eqNullSafe(F.col("o_orderpriority")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    wrun = wyr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = flagged.withColumn(
        "run_id", F.sum("chg").over(wrun).cast("bigint")
    )
    hist = runs.groupBy("o_custkey", "run_id", "o_orderpriority").agg(
        F.min("yr").cast("bigint").alias("from_yr")
    )
    wh = Window.partitionBy("o_custkey").orderBy("from_yr")
    nxt = F.lead("from_yr").over(wh)
    return hist.select(
        "o_custkey",
        "o_orderpriority",
        F.concat(F.col("from_yr").cast("string"), F.lit("-01-01")).alias(
            "valid_from"
        ),
        F.when(
            nxt.isNull(), F.lit(None).cast("string")
        ).otherwise(F.concat(nxt.cast("string"), F.lit("-01-01"))).alias(
            "valid_to"
        ),
        nxt.isNull().alias("is_current"),
    )
