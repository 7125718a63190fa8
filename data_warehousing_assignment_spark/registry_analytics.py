"""Analytics registry: window-function and exact-statistics operators
(sessionization, moving aggregates, rank/ntile, exact moments,
histograms, winsorized stats) plus the sequence-packing / sharding /
repetition-filter stages a training-data pipeline runs after cleaning.

No reference counterpart (the reference's only window op is the
row_number dedup in ``A3_load_dim_emp.sql:42-62``, covered by
op-win-rownumber-key); this is the SURVEY.md §7.5 extension surface.

Every query here follows the registry.py determinism rules: decimal or
int64 exact sums, one final IEEE op per surfaced double, unique window
tiebreakers, dates as strings at the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators import analytics as an
from data_warehousing_assignment_spark.operators import text as tx
from data_warehousing_assignment_spark.registry import (
    dec,
    o_dsum,
    query,
    sum_cents,
    t,
)

# Shared fragments ---------------------------------------------------------

#: exact integer cents of a 2-dp money double (row-local, both engines)
_CENTS = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _price_cents() -> F.Column:
    return (dec("l_extendedprice") * 100).cast("bigint")


_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"


# --------------------------------------------------------------------------
# sessionization / event-time windows
# --------------------------------------------------------------------------


@query(
    "op-ext-sessionize",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, value
      FROM events WHERE user_id < 25
    ),
    lagd AS (
      SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                  AS prev
      FROM ev
    ),
    marked AS (
      SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
                     THEN 1 ELSE 0 END AS is_new
      FROM lagd
    ),
    sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, CAST(sid AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS duration_s,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, sid
    """,
)
def op_ext_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization of the event stream (30-min inactivity gap),
    aggregated per session. lag + running-sum windows and the session
    aggregate all share ONE user_id shuffle (analytics.sessionize);
    user_id < 25 bounds the gate's output, the operator is unbounded."""
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 25)
        .withColumn("ts_us", F.expr("ts_ns div 1000"))
    )
    sess = an.sessionize(ev, gap_minutes=30)
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("(max(ts_us) - min(ts_us)) div 1000000")
        .cast("bigint")
        .alias("duration_s"),
        F.sum(dec("value")).cast("double").alias("session_value"),
    )


@query(
    "op-ext-event-gaps",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us
      FROM events WHERE user_id < 25
    ),
    gaps AS (
      SELECT user_id,
             us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS gap_us
      FROM ev
    )
    SELECT user_id, COUNT(gap_us) AS n_gaps,
           CAST(MIN(gap_us) // 1000000 AS BIGINT) AS min_gap_s,
           CAST(MAX(gap_us) // 1000000 AS BIGINT) AS max_gap_s,
           CAST(SUM(gap_us) AS DOUBLE) / CAST(COUNT(gap_us) * 1000000 AS DOUBLE)
             AS avg_gap_s
    FROM gaps GROUP BY user_id
    """,
)
def op_ext_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event-gap profile via lag(): integer-µs gaps, so
    min/max/avg are exact (one IEEE division for the average). The lag
    window and the aggregate share one user_id shuffle."""
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 25)
        .withColumn("ts_us", F.expr("ts_ns div 1000"))
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = ev.withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
    return gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.expr("min(gap_us) div 1000000").cast("bigint").alias("min_gap_s"),
        F.expr("max(gap_us) div 1000000").cast("bigint").alias("max_gap_s"),
        (
            F.sum("gap_us").cast("double")
            / (F.count("gap_us") * 1_000_000).cast("double")
        ).alias("avg_gap_s"),
    )


# --------------------------------------------------------------------------
# moving / cumulative window aggregates
# --------------------------------------------------------------------------


@query(
    "op-ext-moving-avg",
    oracle=f"""
    WITH daily AS (
      SELECT l_returnflag, strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS p
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag, ship_day,
           CAST(p AS DOUBLE) / 100.0 AS day_revenue,
           CAST(SUM(p) OVER w AS DOUBLE)
             / CAST(100 * COUNT(*) OVER w AS DOUBLE) AS ma7
    FROM daily
    WINDOW w AS (PARTITION BY l_returnflag ORDER BY ship_day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def op_ext_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily revenue per return flag. The window
    runs over the POST-AGGREGATE daily frame (~2.5k rows per flag at any
    raw scale — the only scalable place for a time-ordered window); the
    moving sum is exact integer cents, one division at the end."""
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    ).agg(sum_cents("l_extendedprice").alias("_p"))
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("ship_day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "l_returnflag",
        "ship_day",
        (F.col("_p").cast("double") / 100.0).alias("day_revenue"),
        (
            F.sum("_p").over(w).cast("double")
            / (F.count(F.lit(1)).over(w) * 100).cast("double")
        ).alias("ma7"),
    )


@query(
    "op-ext-cumsum",
    oracle="""
    WITH monthly AS (
      SELECT l_returnflag, strftime(l_shipdate, '%Y-%m') AS ship_month,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS p
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag, ship_month,
           CAST(p AS DOUBLE) / 100.0 AS month_revenue,
           CAST(SUM(p) OVER (PARTITION BY l_returnflag ORDER BY ship_month
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
             AS running_revenue
    FROM monthly
    """,
)
def op_ext_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) monthly revenue per return flag — the
    running-total window over the post-aggregate monthly frame; exact
    integer-cents prefix sums surfaced as doubles."""
    li = t(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_returnflag",
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
    ).agg(sum_cents("l_extendedprice").alias("_p"))
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("ship_month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "l_returnflag",
        "ship_month",
        (F.col("_p").cast("double") / 100.0).alias("month_revenue"),
        (F.sum("_p").over(w).cast("double") / 100.0).alias("running_revenue"),
    )


# --------------------------------------------------------------------------
# rank / ntile
# --------------------------------------------------------------------------


@query(
    "op-ext-topk-per-group",
    oracle=f"""
    WITH rev AS (
      SELECT n_name, s.s_suppkey, s_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS p
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY 1, 2, 3
    )
    SELECT n_name, s_name, CAST(p AS DOUBLE) / 100.0 AS revenue,
           rnk
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY n_name
                         ORDER BY p DESC, s_suppkey) AS BIGINT) AS rnk
          FROM rev)
    WHERE rnk <= 3
    """,
)
def op_ext_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 suppliers by lineitem revenue within each nation: broadcast
    the two dims into the fact scan, one partial-aggregated shuffle on
    (nation, supplier), then row_number ≤ 3 so only k rows per group
    leave the window stage (analytics.top_k_per_group)."""
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name", "s_suppkey", "s_name")
        .agg(sum_cents("l_extendedprice").alias("_p"))
    )
    top = an.top_k_per_group(
        rev, ["n_name"], [F.desc("_p"), F.asc("s_suppkey")], k=3
    )
    return top.select(
        "n_name",
        "s_name",
        (F.col("_p").cast("double") / 100.0).alias("revenue"),
        "rnk",
    )


@query(
    "op-ext-ntile",
    oracle="""
    WITH q AS (
      SELECT c_custkey, c_acctbal,
             ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
      FROM customer
    )
    SELECT CAST(quartile AS BIGINT) AS quartile,
           COUNT(*) AS n_customers,
           MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM q GROUP BY 1
    """,
)
def op_ext_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance quartiles via ntile(4) (unique tiebreaker key so
    equal balances land deterministically), summarized per quartile.
    Runs as an.distributed_ntile — the two-level prefix-sum rank plus
    exact NTILE remainder arithmetic — so no global single-task window
    exists even when the scored population outgrows a dim."""
    cust = t(spark, sf_dir, "customer")
    q = an.distributed_ntile(
        cust, "c_acctbal", "c_custkey", 4
    ).withColumnRenamed("ntile", "quartile")
    return q.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        F.sum(dec("c_acctbal")).cast("double").alias("total_bal"),
    )


@query(
    "op-ext-argmax",
    oracle=f"""
    SELECT l_returnflag, l_orderkey, l_linenumber,
           l_extendedprice AS top_price
    FROM (
      SELECT *, row_number() OVER (PARTITION BY l_returnflag
                  ORDER BY {_CENTS} DESC, l_orderkey, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def op_ext_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax per group — WHICH lineitem carries each flag's maximum
    price (row_number over exact cents with full-key tiebreak, rn = 1).
    Plans as a per-partition top-1 before the final per-group pick —
    never a global sort of the fact."""
    li = t(spark, sf_dir, "lineitem").withColumn("_pc", _price_cents())
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("_pc"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").alias("top_price"),
        )
    )


# --------------------------------------------------------------------------
# exact statistics
# --------------------------------------------------------------------------


@query(
    "op-ext-moments",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS sx,
             SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
               AS sxx
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n AS n_rows,
           {an.exact_var_samp("n", "sx", "sxx")} AS var_qty,
           sqrt({an.exact_var_samp("n", "sx", "sxx")}) AS std_qty
    FROM s
    """,
)
def op_ext_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sample variance / stddev of quantity per flag from integer
    power sums (analytics.exact_var_samp) — engine-native STDDEV over
    doubles is accumulation-order-dependent and can't cross the oracle
    boundary; power sums are map-side combinable and exact at any
    scale."""
    li = t(spark, sf_dir, "lineitem").withColumn(
        "_q", F.col("l_quantity").cast("bigint")
    )
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_q").alias("sx"),
        F.sum(F.col("_q") * F.col("_q")).alias("sxx"),
    )
    var = F.expr(an.exact_var_samp("n", "sx", "sxx"))
    return s.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        var.alias("var_qty"),
        F.sqrt(var).alias("std_qty"),
    )


@query(
    "op-ext-corr",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS sx,
             SUM({_CENTS}) AS sy,
             SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
               AS sxx,
             SUM(CAST({_CENTS} AS DECIMAL(38,0)) * {_CENTS}) AS syy,
             SUM(CAST(l_quantity AS BIGINT) * {_CENTS}) AS sxy
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n AS n_rows,
           {an.exact_corr("n", "sx", "sy", "sxx", "syy", "sxy")} AS corr_qty_price
    FROM s
    """,
)
def op_ext_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation of quantity vs price per flag from
    DECIMAL(38,0) power sums (analytics.exact_corr): Σy² overflows
    int64 at fact scale, so the squared-cents sum accumulates in
    128-bit decimal; the final value is three IEEE ops over exact
    sums — deterministic cross-engine, one map-side-combined pass."""
    li = (
        t(spark, sf_dir, "lineitem")
        .withColumn("_q", F.col("l_quantity").cast("bigint"))
        .withColumn("_pc", _price_cents())
    )
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_q").alias("sx"),
        F.sum("_pc").alias("sy"),
        F.sum(F.col("_q") * F.col("_q")).alias("sxx"),
        F.sum(F.col("_pc").cast("decimal(38,0)") * F.col("_pc")).alias("syy"),
        F.sum(F.col("_q") * F.col("_pc")).alias("sxy"),
    )
    return s.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.expr(an.exact_corr("n", "sx", "sy", "sxx", "syy", "sxy")).alias(
            "corr_qty_price"
        ),
    )


@query(
    "op-ext-histogram",
    oracle=f"""
    SELECT CAST(least({_CENTS} // 1100000, 9) AS BIGINT) AS bin,
           COUNT(*) AS n_items,
           {o_dsum('l_extendedprice')} AS bin_revenue
    FROM lineitem GROUP BY 1
    """,
)
def op_ext_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width price histogram (10 × $11,000 bins, top bin open):
    bin id is exact integer division on cents — a pure map-side
    expression, so the histogram is ONE combinable aggregate however
    wide the fact table is."""
    li = t(spark, sf_dir, "lineitem").withColumn(
        "bin", F.least(F.expr(f"({_CENTS}) div 1100000"), F.lit(9)).cast("bigint")
    )
    return li.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(dec("l_extendedprice")).cast("double").alias("bin_revenue"),
    )


@query(
    "op-ext-histogram-equidepth",
    oracle="""
    WITH base AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS v
      FROM orders
    ),
    d AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS ct FROM base GROUP BY 1),
    c AS (
      SELECT v, ct,
             CAST(SUM(ct) OVER (ORDER BY v) AS BIGINT) AS cum
      FROM d
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    -- a distinct value v is boundary i iff 10·cum_before < i·n ≤ 10·cum
    hits AS (
      SELECT CAST(unnest(range((10 * (cum - ct)) // n + 1,
                               (10 * cum) // n + 1)) AS BIGINT)
               AS boundary_idx,
             v AS boundary_cents, cum AS cum_rows, n
      FROM c, nn
      WHERE (10 * (cum - ct)) // n + 1 <= (10 * cum) // n
    )
    SELECT boundary_idx, boundary_cents, cum_rows, n FROM hits
    """,
)
def op_ext_histogram_equidepth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equi-DEPTH histogram boundaries over order totals — the
    optimizer-statistics artifact (ANALYZE TABLE's quantile sketch,
    here exact): boundary i (1..10) is the smallest value whose
    cumulative row count reaches i·n/10. Complements the equi-WIDTH
    op-ext-histogram: depth boundaries adapt to skew, width bins don't.

    The boundary test is row-LOCAL over the distinct-value frame: v is
    boundary i exactly when 10·cum_before < i·n ≤ 10·cum, so each row
    emits its crossed indices from one integer sequence (no rank join,
    no top-k) — and the cumulative counts come from the two-level
    distributed prefix sum (an.distributed_prefix), so nothing
    serializes through a single task however continuous the value
    domain. All arithmetic exact int64; boundary 10 is the max value
    by construction."""
    base = t(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("v")
    )
    d = base.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    )
    pre = an.distributed_prefix(d, "v", ["ct"])
    nn = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    c = pre.crossJoin(F.broadcast(nn)).select(
        "v", "ct", F.col("cum_ct").alias("cum"), "n"
    )
    lo = F.expr("(10 * (cum - ct)) div n + 1")
    hi = F.expr("(10 * cum) div n")
    return (
        c.where(lo <= hi)
        .select(
            F.explode(F.sequence(lo, hi)).alias("boundary_idx"),
            F.col("v").alias("boundary_cents"),
            F.col("cum").alias("cum_rows"),
            "n",
        )
        .select(
            F.col("boundary_idx").cast("bigint").alias("boundary_idx"),
            "boundary_cents",
            "cum_rows",
            "n",
        )
    )


@query(
    "op-ext-winsorize",
    oracle=f"""
    WITH pc AS (SELECT l_returnflag, {_CENTS} AS c, l_extendedprice
                FROM lineitem),
    bounds AS (
      SELECT l_returnflag,
             CAST(ceil(quantile_cont(c, 0.05)) AS BIGINT) AS lo_c,
             CAST(floor(quantile_cont(c, 0.95)) AS BIGINT) AS hi_c
      FROM pc GROUP BY 1
    )
    SELECT p.l_returnflag, b.lo_c, b.hi_c,
           COUNT(*) FILTER (WHERE c < lo_c) AS n_low,
           COUNT(*) FILTER (WHERE c > hi_c) AS n_high,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  FILTER (WHERE c >= lo_c AND c <= hi_c) AS DOUBLE)
             AS inlier_revenue
    FROM pc p JOIN bounds b ON p.l_returnflag = b.l_returnflag
    GROUP BY 1, 2, 3
    """,
)
def op_ext_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-group stats: p05/p95 price bounds (exact
    percentile over integer cents, quantized to whole cents so the
    threshold comparison is integer-exact), then outlier counts and the
    inlier revenue sum. Two passes over the fact; the bounds frame is
    groups-sized and broadcast back — the standard scalable shape for
    quantile clipping."""
    pc = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", _price_cents().alias("c"), "l_extendedprice"
    )
    bounds = pc.groupBy("l_returnflag").agg(
        F.ceil(F.expr("percentile(c, 0.05)")).cast("bigint").alias("lo_c"),
        F.floor(F.expr("percentile(c, 0.95)")).cast("bigint").alias("hi_c"),
    )
    j = pc.join(F.broadcast(bounds), "l_returnflag")
    mid = (F.col("c") >= F.col("lo_c")) & (F.col("c") <= F.col("hi_c"))
    return j.groupBy("l_returnflag", "lo_c", "hi_c").agg(
        F.count(F.when(F.col("c") < F.col("lo_c"), 1)).alias("n_low"),
        F.count(F.when(F.col("c") > F.col("hi_c"), 1)).alias("n_high"),
        F.sum(F.when(mid, dec("l_extendedprice")))
        .cast("double")
        .alias("inlier_revenue"),
    )


# --------------------------------------------------------------------------
# training-data packing / sharding / repetition filtering
# --------------------------------------------------------------------------


@query(
    "op-ext-seq-pack",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    cum AS (
      -- SUM(BIGINT) OVER returns HUGEINT, which pandas would surface as
      -- float: cast back to BIGINT (and everything derived from it)
      SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS cum_tokens
      FROM tok WHERE n_tokens > 0
    )
    SELECT doc_id, source, n_tokens, cum_tokens,
           CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS chunk_start,
           CAST((cum_tokens - 1) // 512 AS BIGINT) AS chunk_end,
           CAST((cum_tokens - 1) // 512
                - (cum_tokens - n_tokens) // 512 + 1 AS BIGINT) AS spans
    FROM cum
    """,
)
def op_ext_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing coordinates: concatenate docs per
    source shard in doc_id order, cut a training sequence every 512
    tokens, report each doc's chunk span (analytics.pack_sequences).
    Per-shard windows keep the prefix sum parallel — the shard count,
    not the corpus size, bounds the sequential work."""
    docs = t(spark, sf_dir, "documents")
    packed = an.pack_sequences(
        docs, tx.token_count("text"), budget=512,
        part_col="source", order_col="doc_id",
    )
    return packed.select(
        "doc_id", "source", "n_tokens", "cum_tokens",
        "chunk_start", "chunk_end", "spans",
    )


@query(
    "op-ext-repetition",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct,
           1.0 - CAST(len(list_distinct({_TOKS})) AS DOUBLE)
                   / CAST(len({_TOKS}) AS DOUBLE) AS rep_ratio,
           (1.0 - CAST(len(list_distinct({_TOKS})) AS DOUBLE)
                    / CAST(len({_TOKS}) AS DOUBLE)) > 0.2 AS flagged
    FROM documents
    """,
)
def op_ext_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: duplicate-token fraction per doc
    (1 − distinct/total), flag above 20%. Row-local array ops, zero
    shuffle; the ratio is one IEEE division of exact ints."""
    toks = tx.tokens("text")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
    )
    ratio = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col(
        "n_tokens"
    ).cast("double")
    return docs.select(
        "doc_id", "n_tokens", "n_distinct",
        ratio.alias("rep_ratio"), (ratio > 0.2).alias("flagged"),
    )


def _shard_bucket_sql() -> str:
    h = "md5('shard:' || CAST(doc_id AS VARCHAR))"
    nib = "(strpos('0123456789abcdef', substring({h}, {i}, 1)) - 1)"
    return f"({nib.format(h=h, i=1)} * 16 + {nib.format(h=h, i=2)})"


@query(
    "op-ext-shard-assign",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             CAST({_shard_bucket_sql()} % 8 AS BIGINT) AS shard,
             md5('ord:' || CAST(doc_id AS VARCHAR)) AS ord_key
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY ord_key, doc_id) AS BIGINT) AS pos
    FROM sh
    """,
)
def op_ext_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: content-addressed shard
    (md5 bucket % 8) + a hash-ordered position within the shard — a
    stable global permutation with no rand()/seed plumbing, reproducible
    across engines, reruns, and cluster sizes. row_number runs per
    shard, so the sort is per-shard parallel, never global."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        (tx.hash_bucket("doc_id", "shard:") % 8).cast("bigint").alias("shard"),
        F.md5(F.concat(F.lit("ord:"), F.col("doc_id").cast("string"))).alias(
            "_ord"
        ),
    )
    w = Window.partitionBy("shard").orderBy("_ord", "doc_id")
    return docs.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


@query(
    "op-ext-chunk-digest",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS cum_tokens
      FROM tok WHERE n_tokens > 0
    ),
    spans AS (
      SELECT *, CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS chunk_start,
                CAST((cum_tokens - 1) // 512 AS BIGINT) AS chunk_end
      FROM cum
    ),
    expl AS (
      SELECT source, cum_tokens, n_tokens, chunk_start,
             unnest(generate_series(chunk_start, chunk_end)) AS chunk
      FROM spans
    )
    SELECT source, chunk,
           CAST(SUM(least(cum_tokens, (chunk + 1) * 512)
                    - greatest(cum_tokens - n_tokens, chunk * 512))
                AS BIGINT) AS n_tokens,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN chunk_start = chunk THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_starting
    FROM expl GROUP BY source, chunk
    """,
)
def op_ext_chunk_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-sequence digest of the packed corpus: explode each
    doc over the chunks it spans, sum the integer token overlaps
    (analytics.chunk_totals). Every non-final chunk per shard totals
    exactly 512 tokens — the packing invariant, value-checked by the
    oracle."""
    docs = t(spark, sf_dir, "documents")
    packed = an.pack_sequences(
        docs, tx.token_count("text"), budget=512,
        part_col="source", order_col="doc_id",
    )
    return an.chunk_totals(packed, budget=512).select(
        "source", "chunk", "n_tokens", "n_docs", "n_docs_starting"
    )


@query(
    "op-ext-unpivot",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'quantity' AS measure, qty AS total FROM s
    UNION ALL
    SELECT l_returnflag, 'extendedprice', price FROM s
    UNION ALL
    SELECT l_returnflag, 'discount', disc FROM s
    """,
)
def op_ext_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt) of per-flag measure totals via stack():
    the inverse of op-ext-pivot. Melting AFTER aggregation keeps the
    long table groups×measures-sized; stack is a row-local Expand,
    zero extra shuffle."""
    li = t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.sum(dec("l_quantity")).cast("double").alias("qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("price"),
        F.sum(dec("l_discount")).cast("double").alias("disc"),
    )
    return s.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'quantity', qty, 'extendedprice', price, "
            "'discount', disc) AS (measure, total)"
        ),
    )


@query(
    "op-ext-grouping-sets",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def op_ext_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the generalized form behind op-ext-rollup/cube:
    per-status totals, per-priority totals, and the grand total in ONE
    Expand + single aggregate pass (never three scans). NULL group keys
    surface as 'ALL' so the label is engine-neutral."""
    orders = t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "op-ext-stream-join-outer",
    oracle="""
    SELECT v.event_id AS view_id, v.user_id,
           CAST(p.event_id AS BIGINT) AS purchase_id,
           p.value AS purchase_value,
           CAST(epoch(date_trunc('second', p.ts))
                - epoch(date_trunc('second', v.ts)) AS BIGINT) AS delay_sec
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     -- µs comparison: Spark truncates the ns timestamp to µs
     AND epoch_us(p.ts) >= epoch_us(v.ts)
     AND epoch_us(p.ts) <= epoch_us(v.ts) + 3600000000
    """,
)
def op_ext_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join (view → conversion outcome
    incl. non-converting views as NULL rows): the watermark-bounded
    outer join a funnel pipeline runs live; registered on the static
    frames where the oracle is exact (sj.view_conversion_outcomes —
    stream mode covered in tests/test_stream_join.py)."""
    from data_warehousing_assignment_spark.streaming import joins as sj

    ev = t(spark, sf_dir, "events")
    return sj.view_conversion_outcomes(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )


@query(
    "op-ext-ewma",
    oracle="""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT l_returnflag, strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT) AS DOUBLE) / 100.0 AS day_revenue
      FROM lineitem GROUP BY 1, 2
    ),
    num AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                   ORDER BY ship_day) AS rn
      FROM daily
    ),
    r AS (
      SELECT l_returnflag, ship_day, day_revenue, rn,
             day_revenue AS ewma
      FROM num WHERE rn = 1
      UNION ALL
      SELECT n.l_returnflag, n.ship_day, n.day_revenue, n.rn,
             CAST(0.3 AS DOUBLE) * n.day_revenue
             + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * r.ewma
      FROM r JOIN num n ON n.l_returnflag = r.l_returnflag
                       AND n.rn = r.rn + 1
    )
    SELECT l_returnflag, ship_day, day_revenue, ewma FROM r
    """,
)
def op_ext_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-smoothed daily revenue per return flag (α=0.3, seeded at the
    first day). Oracle-exact since r8: the recurrence
    y_i = α·x_i + (1−α)·y_{i−1} is a linear chain of IEEE-double
    multiply/adds, executed as a literal Python loop (r9: replaced
    pandas ewm(adjust=False), whose internal weighted-average division
    and equal-value short-circuit made bit-identity data-dependent),
    so the op sequence matches DuckDB's WITH RECURSIVE replay exactly
    on identical inputs (integer-cents day revenue ÷ 100.0) for every
    α — verified over 2500-step series. Semantics additionally pinned in tests/test_analytics.py
    against the literal recurrence. Sequential per series, parallel
    across series (analytics.ewma)."""
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    ).agg(
        (sum_cents("l_extendedprice").cast("double") / 100.0).alias(
            "day_revenue"
        )
    )
    return an.ewma(daily, "l_returnflag", "ship_day", "day_revenue", alpha=0.3)


@query(
    "op-ext-approx-quantile",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS p50_within_eps, TRUE AS p95_within_eps
    FROM lineitem GROUP BY 1
    """,
)
def op_ext_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) of price per flag —
    the mergeable one-pass quantile path for 100 TB facts, where the
    exact per-group sort behind op-ext-median stops being affordable.

    Oracle-backed since r8 via the error-BOUND contract (the sketch
    VALUE is spec-approximate, so the deterministic surface is the
    guarantee, not the number): for each flag the query itself verifies
    the GK rank promise — some rank of the returned element, i.e. the
    interval [count(c < a)+1, count(c ≤ a)], intersects
    [p·n − εn − 1, p·n + εn + 1] with ε = 1/accuracy — and outputs the
    booleans, which the oracle pins TRUE alongside the exact n_rows.
    A sketch drifting out of spec flips a column from TRUE and
    hash-fails. Values themselves stay pinned to the exact twin's
    p45..p55 band in tests/test_analytics.py. Two passes over the fact
    (sketch, then rank count against the 3-row broadcast result) —
    both map-side-combined aggs."""
    pc = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", _price_cents().alias("c")
    )
    approx = pc.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("approx_percentile(c, 0.5, 10000)").alias("_a50"),
        F.expr("approx_percentile(c, 0.95, 10000)").alias("_a95"),
    )
    j = pc.join(F.broadcast(approx), "l_returnflag")
    ranks = j.groupBy("l_returnflag").agg(
        F.first("n_rows").alias("n_rows"),
        F.sum((F.col("c") < F.col("_a50")).cast("long")).alias("_lt50"),
        F.sum((F.col("c") <= F.col("_a50")).cast("long")).alias("_le50"),
        F.sum((F.col("c") < F.col("_a95")).cast("long")).alias("_lt95"),
        F.sum((F.col("c") <= F.col("_a95")).cast("long")).alias("_le95"),
    )

    def within(p: float, lt: str, le: str) -> F.Column:
        eps_n = F.col("n_rows").cast("double") / 10000.0 + 1.0
        target = F.lit(p) * F.col("n_rows").cast("double")
        return (F.col(lt).cast("double") + 1.0 <= target + eps_n) & (
            F.col(le).cast("double") >= target - eps_n
        )

    return ranks.select(
        "l_returnflag",
        "n_rows",
        within(0.5, "_lt50", "_le50").alias("p50_within_eps"),
        within(0.95, "_lt95", "_le95").alias("p95_within_eps"),
    )


@query(
    "op-ext-label-centroids",
    oracle="""
    WITH q AS (
      SELECT label,
             list_transform(embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS e
      FROM embeddings
    ), idx AS (SELECT unnest(range(1, 65)) AS i),
    sums AS (
      SELECT q.label, idx.i - 1 AS dim, CAST(SUM(q.e[idx.i]) AS BIGINT) AS sum_q
      FROM q, idx GROUP BY 1, 2
    ), n AS (
      SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label
    )
    SELECT s.label,
           CAST(n.n_vecs AS BIGINT) AS n_vecs,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           sqrt(CAST(SUM(CAST(s.sum_q AS HUGEINT) * s.sum_q) AS DOUBLE))
             / (CAST(n.n_vecs AS DOUBLE) * 1000000.0) AS centroid_l2,
           md5(string_agg(CAST(s.sum_q AS VARCHAR), '|' ORDER BY s.dim))
             AS centroid_digest
    FROM sums s JOIN n ON s.label = n.label
    GROUP BY s.label, n.n_vecs
    """,
)
def op_ext_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes) — the reduction
    behind semantic class balancing, IVF coarse quantizers, and
    prototype classifiers. Surfaced via the engine-exact quantized twin
    (similarity.label_centroid_digest): per-(label, dim) int64 micro-unit
    sums, an md5 digest over the dim-ordered sums, and the L2 norm of the
    quantized mean — all exact integer arithmetic until one final
    cast→sqrt→divide, so DuckDB hash-matches bit-for-bit (was rows-only
    pre-r7). The float-mean operator (similarity.label_centroids) stays
    numpy-pinned in tests/test_similarity.py."""
    from data_warehousing_assignment_spark.operators.similarity import (
        label_centroid_digest,
    )

    emb = t(spark, sf_dir, "embeddings")
    return label_centroid_digest(emb, "label", "embedding")


# --------------------------------------------------------------------------
# correlation matrix — all pairwise Pearson in ONE pass
# --------------------------------------------------------------------------

_CM_DISC = "CAST(CAST(l_discount AS DECIMAL(5,2)) * 100 AS BIGINT)"
_CM_TAX = "CAST(CAST(l_tax AS DECIMAL(5,2)) * 100 AS BIGINT)"
_CM_VARS = [
    ("qty", "CAST(l_quantity AS BIGINT)"),
    ("price_c", _CENTS),
    ("disc_pct", _CM_DISC),
    ("tax_pct", _CM_TAX),
]
_CM_PAIRS = [
    (_CM_VARS[i], _CM_VARS[j])
    for i in range(len(_CM_VARS))
    for j in range(i + 1, len(_CM_VARS))
]


#: the one-pass aggregate: count, then per variable Σx and Σx², then per
#: pair Σxy, all in DECIMAL(38,0) — Spark and DuckDB SQL alike
_CM_SUMS = (
    ["COUNT(*) AS n"]
    + [
        agg
        for nm, expr in _CM_VARS
        for agg in (
            f"SUM(CAST({expr} AS DECIMAL(38,0))) AS s_{nm}",
            f"SUM(CAST({expr} AS DECIMAL(38,0)) * {expr}) AS ss_{nm}",
        )
    ]
    + [
        f"SUM(CAST({ea} AS DECIMAL(38,0)) * {eb}) AS sx_{na}_{nb}"
        for (na, ea), (nb, eb) in _CM_PAIRS
    ]
)


def _cm_corr(na: str, nb: str) -> str:
    return an.exact_corr(
        "n", f"s_{na}", f"s_{nb}", f"ss_{na}", f"ss_{nb}", f"sx_{na}_{nb}"
    )


def _cm_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT '{na}' AS var_a, '{nb}' AS var_b, CAST(n AS BIGINT) "
        f"AS n_rows, {_cm_corr(na, nb)} AS pearson_r FROM s"
        for (na, _), (nb, _) in _CM_PAIRS
    )
    return f"WITH s AS (SELECT {', '.join(_CM_SUMS)} FROM lineitem) {rows}"


@query("op-ext-corr-matrix", oracle=_cm_oracle())
def op_ext_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise Pearson matrix of the four lineitem measures
    (quantity, price cents, discount %, tax %) from ONE pass of
    DECIMAL(38,0) power sums — the feature-screening step of any model
    pipeline, and the generalization of op-ext-corr's single pair: 4
    sums + 4 squares + 6 cross-products accumulate map-side-combinably
    in a single aggregate (the oracle's own aggregate text), the 6
    correlations are then three IEEE ops each over the 1-row exact
    frame, exploded long-form (var_a, var_b, n_rows, pearson_r). 100 TB:
    one scan, one 1-row combine — adding variables grows the row width
    O(k²), never the pass count."""
    pairs = ", ".join(
        f"struct('{na}' AS var_a, '{nb}' AS var_b, CAST(n AS BIGINT) AS n_rows,"
        f" {_cm_corr(na, nb)} AS pearson_r)"
        for (na, _), (nb, _) in _CM_PAIRS
    )
    return (
        t(spark, sf_dir, "lineitem")
        .selectExpr(*_CM_SUMS)
        .selectExpr(f"explode(array({pairs})) AS _p")
        .select("_p.*")
    )


@query(
    "op-ext-holt-linear",
    oracle="""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT l_returnflag, strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT) AS DOUBLE) / 100.0 AS day_revenue
      FROM lineitem GROUP BY 1, 2
    ),
    num AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                   ORDER BY ship_day) AS rn,
             lead(day_revenue) OVER (PARTITION BY l_returnflag
                                     ORDER BY ship_day) AS next_rev
      FROM daily
    ),
    r AS (
      SELECT l_returnflag, ship_day, day_revenue, rn,
             day_revenue AS level,
             COALESCE(next_rev - day_revenue, CAST(0.0 AS DOUBLE)) AS trend
      FROM num WHERE rn = 1
      UNION ALL
      SELECT n.l_returnflag, n.ship_day, n.day_revenue, n.rn,
             CAST(0.3 AS DOUBLE) * n.day_revenue
             + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE))
               * (r.level + r.trend),
             CAST(0.1 AS DOUBLE)
             * ((CAST(0.3 AS DOUBLE) * n.day_revenue
                 + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE))
                   * (r.level + r.trend)) - r.level)
             + (CAST(1.0 AS DOUBLE) - CAST(0.1 AS DOUBLE)) * r.trend
      FROM r JOIN num n ON n.l_returnflag = r.l_returnflag
                       AND n.rn = r.rn + 1
    )
    SELECT l_returnflag, ship_day, day_revenue, level, trend,
           level + trend AS forecast
    FROM r
    """,
)
def op_ext_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing of daily revenue per return flag
    (α=0.3, β=0.1) — the trend-aware step past op-ext-ewma, same
    parallel-across-series / sequential-within decomposition
    (analytics.holt_linear). Oracle-exact since r8: like EWMA, the
    coupled level/trend recurrences are pure chains of IEEE-double
    multiply/adds, and the Python literal loop and DuckDB's
    WITH RECURSIVE execute the identical op sequence on identical
    integer-cents-derived inputs (the recursive step repeats the new
    level's expression verbatim for the trend — identical expressions
    give identical doubles). Semantics also pinned in
    tests/test_analytics.py against the literal recurrence."""
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    ).agg(
        (sum_cents("l_extendedprice").cast("double") / 100.0).alias(
            "day_revenue"
        )
    )
    return an.holt_linear(
        daily, "l_returnflag", "ship_day", "day_revenue", alpha=0.3, beta=0.1
    )


# --------------------------------------------------------------------------
# exact classical hypothesis tests (round 9b)
# --------------------------------------------------------------------------

#: Welch's t over exact integer inputs (n, Σx, Σx² per group). Every
#: fragment below is pasted VERBATIM into both the Spark plan and the
#: DuckDB oracle: identical expression text parses to the identical
#: IEEE op tree, and /, *, sqrt are correctly rounded in both engines,
#: so the doubles match bit-for-bit (same pattern as _Z_EXPR in
#: registry_advanced.py). No bare numeric literals — Spark parses
#: `1.0` as DECIMAL (SKILL.md r7) — only CAST(int AS DOUBLE).
_VAR_A = (
    "((CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)"
    " / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE))"
)
_VAR_B = (
    "((CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)"
    " / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE))"
)
_SE_A = f"({_VAR_A} / CAST(n_a AS DOUBLE))"
_SE_B = f"({_VAR_B} / CAST(n_b AS DOUBLE))"
_WELCH_T = (
    "((CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
    " - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
    f" / sqrt({_SE_A} + {_SE_B}))"
)
_WELCH_DF = (
    f"((({_SE_A} + {_SE_B}) * ({_SE_A} + {_SE_B}))"
    f" / ({_SE_A} * {_SE_A} / CAST(n_a - 1 AS DOUBLE)"
    f" + {_SE_B} * {_SE_B} / CAST(n_b - 1 AS DOUBLE)))"
)

_WELCH_FINAL = f"""
    SELECT n_a, n_b,
           CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
           CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
           {_WELCH_T} AS t_stat,
           {_WELCH_DF} AS df
"""


@query(
    "op-ext-welch-ttest",
    oracle=f"""
    WITH q AS (
      SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN f = 'A' THEN q ELSE 0 END) AS BIGINT) AS sx_a,
        CAST(SUM(CASE WHEN f = 'R' THEN q ELSE 0 END) AS BIGINT) AS sx_b,
        CAST(SUM(CASE WHEN f = 'A' THEN q * q ELSE 0 END) AS BIGINT) AS sxx_a,
        CAST(SUM(CASE WHEN f = 'R' THEN q * q ELSE 0 END) AS BIGINT) AS sxx_b
      FROM q
    )
    {_WELCH_FINAL}
    FROM agg
    """,
)
def op_ext_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on line-item quantity between the
    'A' and 'R' return-flag populations — the robust two-sample mean
    comparison (never assumes pooled variance), with Welch–Satterthwaite
    degrees of freedom. Everything up to the final closed form is exact
    int64 (quantities are integer-valued, TESTDATA.md): one map-side-
    combined aggregate produces the 6 sufficient statistics
    (n, Σx, Σx² per group) in a single pass, so at 100 TB the shuffle
    carries one 6-column row. The t and df expressions are shared
    verbatim with the oracle (_WELCH_T/_WELCH_DF) — bit-identical
    cross-engine."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
    )
    q = F.col("l_quantity").cast("bigint")
    is_a = F.col("l_returnflag") == "A"
    agg = li.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(is_a, q).otherwise(0)).cast("bigint").alias("sx_a"),
        F.sum(F.when(~is_a, q).otherwise(0)).cast("bigint").alias("sx_b"),
        F.sum(F.when(is_a, q * q).otherwise(0)).cast("bigint").alias("sxx_a"),
        F.sum(F.when(~is_a, q * q).otherwise(0)).cast("bigint").alias("sxx_b"),
    )
    return agg.selectExpr(
        "n_a",
        "n_b",
        "CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a",
        "CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b",
        f"{_WELCH_T} AS t_stat",
        f"{_WELCH_DF} AS df",
    )


#: Mann-Whitney z with tie correction, over exact integers
#: (u2_a = 2·U_a, tie3 = Σ(t³−t)); shared verbatim with the oracle.
_MWU_Z = (
    "(CAST(u2_a - n_a * n_b AS DOUBLE)"
    " / (CAST(2 AS DOUBLE) * sqrt("
    "(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(12 AS DOUBLE))"
    " * (CAST(n_a + n_b + 1 AS DOUBLE)"
    " - CAST(tie3 AS DOUBLE)"
    " / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b - 1 AS DOUBLE))))))"
)


@query(
    "op-ext-mannwhitney",
    oracle=f"""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isa
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    g AS (
      SELECT v, CAST(SUM(isa) AS BIGINT) AS ca,
             CAST(COUNT(*) AS BIGINT) AS ct
      FROM s GROUP BY v
    ),
    r AS (
      SELECT ca, ct,
             CAST(2 * COALESCE(SUM(ct) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + ct + 1 AS BIGINT) AS ar2
      FROM g
    ),
    agg AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
             CAST(SUM(ct - ca) AS BIGINT) AS n_b,
             CAST(SUM(ca * ar2) AS BIGINT) AS r2_a,
             CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tie3
      FROM r
    ),
    fin AS (
      SELECT n_a, n_b, r2_a - n_a * (n_a + 1) AS u2_a, tie3 FROM agg
    )
    SELECT n_a, n_b, CAST(u2_a AS BIGINT) AS u2_a,
           CAST(tie3 AS BIGINT) AS tie3, {_MWU_Z} AS z_score
    FROM fin
    """,
)
def op_ext_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) comparing event `value`
    between 'purchase' and 'view' — the nonparametric two-sample test
    (no normality assumption), with the exact tie correction
    Σ(t³−t). Ranks never materialize per row: the plan aggregates to
    DISTINCT VALUES first (ca, ct per value — map-side combined), then
    a prefix sum over the value-sorted distinct frame yields each tie
    group's average rank as the exact integer 2·r̄ = 2·cumbefore+ct+1,
    and U follows from the rank-sum identity 2U_A = 2R_A − n_A(n_A+1).
    The final z (normal approximation, tie-corrected variance) is one
    shared IEEE expression (_MWU_Z) over five exact int64s —
    bit-identical cross-engine.

    Scale shape: event values are near-continuous (|distinct| ≈
    |rows|), so the prefix sum runs as the two-level DISTRIBUTED
    decomposition (an.distributed_ar2): value-range buckets →
    per-bucket ordered prefixes → constant-bounded bucket offsets —
    no window ever serializes the distinct frame through one task."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    g = ev.groupBy(F.col("value").alias("v")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.count(F.lit(1)).cast("bigint").alias("ct"),
    )
    r = an.distributed_ar2(g).select("ca", "ct", "ar2")
    agg = r.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum(F.col("ct") - F.col("ca")).cast("bigint").alias("n_b"),
        F.sum(F.col("ca") * F.col("ar2")).cast("bigint").alias("r2_a"),
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .cast("bigint")
        .alias("tie3"),
    )
    fin = agg.selectExpr(
        "n_a", "n_b", "r2_a - n_a * (n_a + 1) AS u2_a", "tie3"
    )
    return fin.selectExpr(
        "n_a",
        "n_b",
        "CAST(u2_a AS BIGINT) AS u2_a",
        "CAST(tie3 AS BIGINT) AS tie3",
        f"{_MWU_Z} AS z_score",
    )


@query(
    "op-ext-gini-impurity",
    oracle="""
    WITH c AS (
      SELECT user_id % 8 AS segment, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    a AS (
      SELECT segment, CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(SUM(c * c) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM c GROUP BY 1
    )
    SELECT segment, n_events, n_types,
           CAST(n_events * n_events - s2 AS DOUBLE)
             / CAST(n_events * n_events AS DOUBLE) AS gini_impurity
    FROM a
    """,
)
def op_ext_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity of the event-type mix per user segment
    (1 − Σp²) — the split-quality / class-balance diagnostic a
    labeling pipeline reports per shard. Unlike Shannon entropy it is
    a RATIONAL function of the counts, so the whole statistic is exact
    int64 ((n² − Σc²), n²) with ONE final IEEE division —
    cross-engine bit-identity needs no shared-expression tricks and no
    ln() (which is not correctly-rounded-guaranteed across engines).
    Two map-side-combined aggregates; shuffle carries |segments×types|
    then |segments| rows."""
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy(
        (F.col("user_id") % 8).alias("segment"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = c.groupBy("segment").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    return a.selectExpr(
        "segment",
        "n_events",
        "n_types",
        "CAST(n_events * n_events - s2 AS DOUBLE)"
        " / CAST(n_events * n_events AS DOUBLE) AS gini_impurity",
    )


@query(
    "op-ext-cume-dist",
    oracle="""
    SELECT c.c_custkey, n.n_name AS nation, c.c_acctbal,
           cume_dist() OVER (PARTITION BY n.n_name
                             ORDER BY c.c_acctbal, c.c_custkey) AS cd,
           nth_value(c.c_name, 2) OVER (
             PARTITION BY n.n_name
             ORDER BY c.c_acctbal, c.c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_poorest
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def op_ext_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist + nth_value per nation over account balance (unique
    (acctbal, custkey) tiebreak → every row is its own peer group, so
    cume_dist is the exact rational rank/n — one IEEE division, same
    bits both engines). Rounds out the rank-window family next to
    op-ext-ntile / op-ext-percent-rank; the nth_value frame is pinned
    full-partition (default frame stops at CURRENT ROW and would yield
    NULL for the first row). Windows are partitioned by nation —
    no global single-task window."""
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    j = cust.join(
        F.broadcast(nat),
        cust.c_nationkey == nat.n_nationkey,
    ).select("c_custkey", F.col("n_name").alias("nation"), "c_acctbal", "c_name")
    w = Window.partitionBy("nation").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return j.select(
        "c_custkey",
        "nation",
        "c_acctbal",
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("c_name", 2).over(wf).alias("second_poorest"),
    )


#: Spearman rho from exact int64 sufficient statistics over DOUBLED
#: centered ranks (cx = 2r̄x − (n+1)); shared verbatim with the oracle.
_SPEAR_RHO = (
    "(CAST(scxy AS DOUBLE)"
    " / (sqrt(CAST(scx2 AS DOUBLE)) * sqrt(CAST(scy2 AS DOUBLE))))"
)


@query(
    "op-ext-spearman",
    oracle=f"""
    WITH rows0 AS (
      SELECT l_returnflag AS flag, strftime(l_shipdate, '%Y-%m') AS mon,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS y
      FROM lineitem
    ),
    gx AS (
      SELECT flag, mon, x, CAST(COUNT(*) AS BIGINT) AS ct
      FROM rows0 GROUP BY 1, 2, 3
    ),
    rx AS (
      SELECT flag, mon, x,
             CAST(2 * COALESCE(SUM(ct) OVER (PARTITION BY flag, mon
                     ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + ct + 1 AS BIGINT) AS ar2x
      FROM gx
    ),
    gy AS (
      SELECT flag, mon, y, CAST(COUNT(*) AS BIGINT) AS ct
      FROM rows0 GROUP BY 1, 2, 3
    ),
    ry AS (
      SELECT flag, mon, y,
             CAST(2 * COALESCE(SUM(ct) OVER (PARTITION BY flag, mon
                     ORDER BY y
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + ct + 1 AS BIGINT) AS ar2y
      FROM gy
    ),
    ns AS (
      SELECT flag, mon, CAST(COUNT(*) AS BIGINT) AS n
      FROM rows0 GROUP BY 1, 2
    ),
    cent AS (
      SELECT b.flag, b.mon,
             rx.ar2x - (ns.n + 1) AS cx, ry.ar2y - (ns.n + 1) AS cy
      FROM rows0 b
      JOIN rx ON b.flag = rx.flag AND b.mon = rx.mon AND b.x = rx.x
      JOIN ry ON b.flag = ry.flag AND b.mon = ry.mon AND b.y = ry.y
      JOIN ns ON b.flag = ns.flag AND b.mon = ns.mon
    ),
    agg AS (
      SELECT flag, mon, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cx * cy) AS BIGINT) AS scxy,
             CAST(SUM(cx * cx) AS BIGINT) AS scx2,
             CAST(SUM(cy * cy) AS BIGINT) AS scy2
      FROM cent GROUP BY 1, 2
    )
    SELECT flag, mon, n, scxy, scx2, scy2,
           CASE WHEN scx2 = 0 OR scy2 = 0 THEN NULL
                ELSE {_SPEAR_RHO} END AS rho
    FROM agg
    """,
)
def op_ext_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (tie-aware, per (returnflag, ship
    month) group) between line-item quantity and extended price —
    the monotonic-association test a feature-quality pipeline runs per
    shard. Ranks never materialize as floats: each group's average
    ranks come out as the exact integer 2·r̄ = 2·cum_before + ct + 1
    (the op-ext-mannwhitney prefix-sum trick, but PARTITIONED by group
    — no single-task window), centering by the exact mean 2r̄ = n+1
    gives doubled centered ranks whose scale cancels in rho, and the
    three sufficient sums Σcxcy/Σcx²/Σcy² stay int64 (|c| ≤ n, so each
    sum ≤ n³ — safe to ~2M rows per GROUP, and groups here are
    month-sized). One final shared-verbatim IEEE expression
    (_SPEAR_RHO) → bit-identical cross-engine; constant groups yield
    NULL, not a 0/0.

    Scale shape: two distinct-value rank frames (map-side-combined
    group-bys), two equi-joins back on (group, value), one group-by —
    every shuffle is keyed by the group columns; nothing global."""
    li = t(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag AS flag",
        "date_format(l_shipdate, 'yyyy-MM') AS mon",
        "CAST(l_quantity AS BIGINT) AS x",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " AS y",
    )
    def ranks(var: str) -> DataFrame:
        g = li.groupBy("flag", "mon", var).agg(
            F.count(F.lit(1)).cast("bigint").alias("ct")
        )
        w = (
            Window.partitionBy("flag", "mon")
            .orderBy(var)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return g.select(
            "flag",
            "mon",
            var,
            (2 * F.coalesce(F.sum("ct").over(w), F.lit(0))
             + F.col("ct") + 1)
            .cast("bigint")
            .alias(f"ar2{var}"),
        )

    ns = li.groupBy("flag", "mon").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    cent = (
        li.join(ranks("x"), ["flag", "mon", "x"])
        .join(ranks("y"), ["flag", "mon", "y"])
        .join(F.broadcast(ns), ["flag", "mon"])
        .select(
            "flag",
            "mon",
            (F.col("ar2x") - (F.col("n") + 1)).alias("cx"),
            (F.col("ar2y") - (F.col("n") + 1)).alias("cy"),
        )
    )
    agg = cent.groupBy("flag", "mon").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("cx") * F.col("cy")).cast("bigint").alias("scxy"),
        F.sum(F.col("cx") * F.col("cx")).cast("bigint").alias("scx2"),
        F.sum(F.col("cy") * F.col("cy")).cast("bigint").alias("scy2"),
    )
    return agg.selectExpr(
        "flag", "mon", "n", "scxy", "scx2", "scy2",
        f"CASE WHEN scx2 = 0 OR scy2 = 0 THEN NULL"
        f" ELSE {_SPEAR_RHO} END AS rho",
    )


#: Kruskal-Wallis H over exact int64 rank sums (r2_g = 2·R_g), fixed
#: three-term order so the float sum is identical cross-engine; the
#: tie-corrected variant divides by C = 1 − tie3/(n³−n).
_KW_H = (
    "((CAST(3 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)))"
    " * (CAST(r2_a AS DOUBLE) * CAST(r2_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
    " + CAST(r2_b AS DOUBLE) * CAST(r2_b AS DOUBLE) / CAST(n_b AS DOUBLE)"
    " + CAST(r2_c AS DOUBLE) * CAST(r2_c AS DOUBLE) / CAST(n_c AS DOUBLE))"
    " - CAST(3 AS DOUBLE) * CAST(n + 1 AS DOUBLE))"
)
_KW_C = (
    "(CAST(1 AS DOUBLE) - CAST(tie3 AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " - CAST(n AS DOUBLE)))"
)


@query(
    "op-ext-kruskal-wallis",
    oracle=f"""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ic
      FROM events WHERE event_type IN ('click', 'purchase', 'view')
    ),
    g AS (
      SELECT v, CAST(SUM(ia) AS BIGINT) AS ca,
             CAST(SUM(ib) AS BIGINT) AS cb,
             CAST(SUM(ic) AS BIGINT) AS cc,
             CAST(COUNT(*) AS BIGINT) AS ct
      FROM s GROUP BY v
    ),
    r AS (
      SELECT ca, cb, cc, ct,
             CAST(2 * COALESCE(SUM(ct) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + ct + 1 AS BIGINT) AS ar2
      FROM g
    ),
    agg AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
             CAST(SUM(cb) AS BIGINT) AS n_b,
             CAST(SUM(cc) AS BIGINT) AS n_c,
             CAST(SUM(ca * ar2) AS BIGINT) AS r2_a,
             CAST(SUM(cb * ar2) AS BIGINT) AS r2_b,
             CAST(SUM(cc * ar2) AS BIGINT) AS r2_c,
             CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tie3
      FROM r
    ),
    fin AS (
      SELECT n_a, n_b, n_c, n_a + n_b + n_c AS n,
             r2_a, r2_b, r2_c, tie3
      FROM agg
    )
    SELECT n_a, n_b, n_c, tie3,
           {_KW_H} AS h_stat,
           {_KW_H} / {_KW_C} AS h_tie_corrected
    FROM fin
    """,
)
def op_ext_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the click/purchase/view event-value
    populations — the k-group generalization of op-ext-mannwhitney
    (nonparametric one-way ANOVA), with the exact Σ(t³−t) tie
    correction. Same rank algebra: aggregate to distinct values first
    (per-group counts ca/cb/cc map-side combined), one prefix sum over
    the value-sorted distinct frame gives each tie group's doubled
    average rank 2r̄ = 2·cum_before + ct + 1, and the doubled rank sums
    r2_g = Σ c_g·2r̄ feed H = 3/(n(n+1))·Σ r2_g²/n_g − 3(n+1) (the 12/4
    from doubling folds into the 3). The three r2² terms are summed in
    a FIXED textual order, so the final IEEE expression (_KW_H/_KW_C,
    shared verbatim) is bit-identical cross-engine and
    parallelism-independent — no float ever rides a shuffle.

    Same distributed prefix-sum shape as op-ext-mannwhitney
    (an.distributed_ar2): the near-continuous value domain never
    serializes through a single-task window."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase", "view")
    )
    ind = {
        "ca": "click", "cb": "purchase", "cc": "view",
    }
    g = ev.groupBy(F.col("value").alias("v")).agg(
        *[
            F.sum(F.when(F.col("event_type") == typ, 1).otherwise(0))
            .cast("bigint")
            .alias(c)
            for c, typ in ind.items()
        ],
        F.count(F.lit(1)).cast("bigint").alias("ct"),
    )
    r = an.distributed_ar2(g).select("ca", "cb", "cc", "ct", "ar2")
    agg = r.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        F.sum("cc").cast("bigint").alias("n_c"),
        F.sum(F.col("ca") * F.col("ar2")).cast("bigint").alias("r2_a"),
        F.sum(F.col("cb") * F.col("ar2")).cast("bigint").alias("r2_b"),
        F.sum(F.col("cc") * F.col("ar2")).cast("bigint").alias("r2_c"),
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .cast("bigint")
        .alias("tie3"),
    )
    fin = agg.selectExpr(
        "n_a", "n_b", "n_c", "n_a + n_b + n_c AS n",
        "r2_a", "r2_b", "r2_c", "tie3",
    )
    return fin.selectExpr(
        "n_a", "n_b", "n_c", "tie3",
        f"{_KW_H} AS h_stat",
        f"{_KW_H} / {_KW_C} AS h_tie_corrected",
    )


#: Wilcoxon signed-rank z over exact int64 doubled rank sums
#: (w2_pos = 2·W⁺): z = (4W⁺ − n(n+1)) / (4σ) with the tie-corrected
#: 16σ² = (2n(n+1)(2n+1) − tie3)/3 folded into one shared expression.
#: The variance product runs in DOUBLE (exact int casts, fixed order —
#: 2n(n+1)(2n+1) would overflow int64 past n ≈ 1.3e6).
_WSR_Z = (
    "(CAST(2 * w2_pos - n * (n + 1) AS DOUBLE)"
    " / sqrt((CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)"
    " * CAST(n + 1 AS DOUBLE) * CAST(2 * n + 1 AS DOUBLE)"
    " - CAST(tie3 AS DOUBLE)) / CAST(3 AS DOUBLE)))"
)


@query(
    "op-ext-wilcoxon-signed-rank",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1995
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  ELSE 0 END) AS BIGINT) AS c95,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  ELSE 0 END) AS BIGINT) AS c96,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1995
                  THEN 1 ELSE 0 END) AS BIGINT) AS n95,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                  THEN 1 ELSE 0 END) AS BIGINT) AS n96
      FROM orders WHERE year(o_orderdate) IN (1995, 1996)
      GROUP BY 1
    ),
    d AS (
      SELECT c96 - c95 AS diff FROM per
      WHERE n95 > 0 AND n96 > 0 AND c96 <> c95
    ),
    g AS (
      SELECT abs(diff) AS ad, CAST(COUNT(*) AS BIGINT) AS ct,
             CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS cp
      FROM d GROUP BY 1
    ),
    r AS (
      SELECT ct, cp,
             CAST(2 * COALESCE(SUM(ct) OVER (ORDER BY ad
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + ct + 1 AS BIGINT) AS ar2
      FROM g
    ),
    agg AS (
      SELECT CAST(SUM(ct) AS BIGINT) AS n,
             CAST(SUM(cp) AS BIGINT) AS n_pos,
             CAST(SUM(cp * ar2) AS BIGINT) AS w2_pos,
             CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tie3
      FROM r
    )
    SELECT n AS n_pairs, n_pos, w2_pos, tie3, {_WSR_Z} AS z_score
    FROM agg
    """,
)
def op_ext_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilcoxon signed-rank test — the PAIRED complement to
    op-ext-mannwhitney (unpaired) and op-ext-kruskal-wallis (k-group):
    did per-customer order revenue shift between 1995 and 1996 for
    customers active in both years? Zero differences drop (standard
    practice); |diff| ranks come out as exact doubled average ranks
    via the distributed prefix sum (an.distributed_ar2 — cent-valued
    differences are near-continuous, so |distinct| ≈ |pairs| and a
    global window would serialize), and W⁺ rides the rank-sum
    identity as the exact integer 2·W⁺ = Σ over positive diffs of ar2. The
    tie-corrected normal z is ONE shared IEEE expression (_WSR_Z)
    over four exact int64s — the variance product is computed in
    DOUBLE in a fixed order (it would pass int64 past n ≈ 1.3e6) so
    it is still bit-identical cross-engine."""
    o = t(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )
    cents = F.expr(
        "CAST(o_totalprice AS DECIMAL(18,2)) * 100"
    )
    y = F.year("o_orderdate")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.when(y == 1995, cents).otherwise(0))
        .cast("bigint")
        .alias("c95"),
        F.sum(F.when(y == 1996, cents).otherwise(0))
        .cast("bigint")
        .alias("c96"),
        F.sum(F.when(y == 1995, 1).otherwise(0))
        .cast("bigint")
        .alias("n95"),
        F.sum(F.when(y == 1996, 1).otherwise(0))
        .cast("bigint")
        .alias("n96"),
    )
    d = per.filter(
        (F.col("n95") > 0)
        & (F.col("n96") > 0)
        & (F.col("c96") != F.col("c95"))
    ).select((F.col("c96") - F.col("c95")).alias("diff"))
    g = d.groupBy(F.abs("diff").alias("ad")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ct"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("cp"),
    )
    r = an.distributed_ar2(g, v="ad").select("ct", "cp", "ar2")
    agg = r.agg(
        F.sum("ct").cast("bigint").alias("n"),
        F.sum("cp").cast("bigint").alias("n_pos"),
        F.sum(F.col("cp") * F.col("ar2")).cast("bigint").alias("w2_pos"),
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .cast("bigint")
        .alias("tie3"),
    )
    return agg.selectExpr(
        "n AS n_pairs", "n_pos", "w2_pos", "tie3",
        f"{_WSR_Z} AS z_score",
    )


@query(
    "op-ext-mcnemar",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             MAX(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END)
               AS a95,
             MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END)
               AS a96
      FROM orders GROUP BY 1
    ),
    cust AS (
      SELECT c.c_custkey,
             COALESCE(p.a95, 0) AS a95, COALESCE(p.a96, 0) AS a96
      FROM customer c LEFT JOIN per p ON c.c_custkey = p.o_custkey
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN a95 = 0 AND a96 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n00,
        CAST(SUM(CASE WHEN a95 = 0 AND a96 = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n01,
        CAST(SUM(CASE WHEN a95 = 1 AND a96 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n10,
        CAST(SUM(CASE WHEN a95 = 1 AND a96 = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n11
      FROM cust
    )
    SELECT n00, n01, n10, n11,
           CASE WHEN n01 + n10 = 0 THEN NULL
                ELSE CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1)
                          AS DOUBLE) / CAST(n01 + n10 AS DOUBLE) END
             AS chi2_cc
    FROM agg
    """,
)
def op_ext_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired binary outcomes — did the set of
    ACTIVE customers change between 1995 and 1996? The 2×2 concordance
    table over the full customer dim (activity flags via one
    map-side-combined MAX aggregate + a broadcast-friendly left join)
    and the continuity-corrected statistic (|b−c|−1)²/(b+c) as ONE
    IEEE division over exact int64 cells — the discordant-pair test a
    churn pipeline runs. Degenerate no-discordance case yields NULL,
    not 0/0. Completes the paired-binary corner of the test family
    (welch/mannwhitney: unpaired continuous; wilcoxon: paired
    continuous; chisq: unpaired categorical)."""
    per = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.year("o_orderdate") == 1995, 1).otherwise(0)
            ).alias("a95"),
            F.max(
                F.when(F.year("o_orderdate") == 1996, 1).otherwise(0)
            ).alias("a96"),
        )
    )
    cust = (
        t(spark, sf_dir, "customer")
        .join(per, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            F.coalesce("a95", F.lit(0)).alias("a95"),
            F.coalesce("a96", F.lit(0)).alias("a96"),
        )
    )
    agg = cust.agg(
        *[
            F.sum(
                F.when(
                    (F.col("a95") == i) & (F.col("a96") == j), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"n{i}{j}")
            for i in (0, 1)
            for j in (0, 1)
        ]
    )
    return agg.selectExpr(
        "n00", "n01", "n10", "n11",
        "CASE WHEN n01 + n10 = 0 THEN NULL"
        " ELSE CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1)"
        " AS DOUBLE) / CAST(n01 + n10 AS DOUBLE) END AS chi2_cc",
    )


#: Friedman χ² for k=3 over doubled within-block rank sums:
#: χ² = ΣR2_j²/(4n) − 12n; tie correction C = 1 − tie3/(24n).
_FRIED = (
    "((CAST(r2_95 AS DOUBLE) * CAST(r2_95 AS DOUBLE)"
    " + CAST(r2_96 AS DOUBLE) * CAST(r2_96 AS DOUBLE)"
    " + CAST(r2_97 AS DOUBLE) * CAST(r2_97 AS DOUBLE))"
    " / (CAST(4 AS DOUBLE) * CAST(n AS DOUBLE))"
    " - CAST(12 AS DOUBLE) * CAST(n AS DOUBLE))"
)
_FRIED_C = (
    "(CAST(1 AS DOUBLE) - CAST(tie3 AS DOUBLE)"
    " / (CAST(24 AS DOUBLE) * CAST(n AS DOUBLE)))"
)


@query(
    "op-ext-friedman",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1995
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  ELSE 0 END) AS BIGINT) AS c95,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  ELSE 0 END) AS BIGINT) AS c96,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1997
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  ELSE 0 END) AS BIGINT) AS c97,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1995
                  THEN 1 ELSE 0 END) AS BIGINT) AS k95,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                  THEN 1 ELSE 0 END) AS BIGINT) AS k96,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1997
                  THEN 1 ELSE 0 END) AS BIGINT) AS k97
      FROM orders WHERE year(o_orderdate) IN (1995, 1996, 1997)
      GROUP BY 1
    ),
    blocks AS (
      SELECT o_custkey, c95, c96, c97 FROM per
      WHERE k95 > 0 AND k96 > 0 AND k97 > 0
    ),
    melt AS (
      SELECT o_custkey, 1995 AS yr, c95 AS v FROM blocks
      UNION ALL
      SELECT o_custkey, 1996, c96 FROM blocks
      UNION ALL
      SELECT o_custkey, 1997, c97 FROM blocks
    ),
    rk AS (
      SELECT o_custkey, yr,
             CAST(2 * rank() OVER (PARTITION BY o_custkey ORDER BY v)
                  + COUNT(*) OVER (PARTITION BY o_custkey, v) - 1
                  AS BIGINT) AS ar2
      FROM melt
    ),
    ties AS (
      SELECT CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tie3
      FROM (SELECT COUNT(*) AS ct FROM melt GROUP BY o_custkey, v)
    ),
    agg AS (
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN yr = 1995 THEN ar2 ELSE 0 END)
                  AS BIGINT) AS r2_95,
             CAST(SUM(CASE WHEN yr = 1996 THEN ar2 ELSE 0 END)
                  AS BIGINT) AS r2_96,
             CAST(SUM(CASE WHEN yr = 1997 THEN ar2 ELSE 0 END)
                  AS BIGINT) AS r2_97
      FROM rk
    )
    SELECT n, r2_95, r2_96, r2_97, tie3,
           {_FRIED} AS chi2,
           CASE WHEN tie3 = 24 * n THEN NULL
                ELSE {_FRIED} / {_FRIED_C} END AS chi2_tied
    FROM agg, ties
    """,
)
def op_ext_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test — the k-group PAIRED rank test (blocks =
    customers active in all of 1995/1996/1997, treatments = the three
    years, response = annual revenue in exact cents): did revenue
    ranks shift across years within customers? Within-block doubled
    average ranks come from two block-partitioned windows
    (2·rank + tie_count − 1 ≡ min+max rank — partitions are k=3 rows,
    never data-scaled), the three rank sums fold in fixed order, and
    χ² = ΣR2_j²/(4n) − 12n with the tie correction 1 − tie3/(24n) is
    ONE shared IEEE expression over exact int64s (products in DOUBLE —
    R2² passes int64 near n ≈ 5e8). The all-tied degenerate block set
    (C = 0) yields NULL rather than 0/0. Rounds out the family:
    kruskal-wallis is its unpaired sibling, wilcoxon its k=2 case."""
    o = t(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996, 1997)
    )
    cents = F.expr("CAST(o_totalprice AS DECIMAL(18,2)) * 100")
    y = F.year("o_orderdate")
    per = o.groupBy("o_custkey").agg(
        *[
            F.sum(F.when(y == yr, cents).otherwise(0))
            .cast("bigint")
            .alias(f"c{yr % 100}")
            for yr in (1995, 1996, 1997)
        ],
        *[
            F.sum(F.when(y == yr, 1).otherwise(0))
            .cast("bigint")
            .alias(f"k{yr % 100}")
            for yr in (1995, 1996, 1997)
        ],
    )
    blocks = per.filter(
        (F.col("k95") > 0) & (F.col("k96") > 0) & (F.col("k97") > 0)
    )
    melt = blocks.select(
        "o_custkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(yr).alias("yr"),
                        F.col(f"c{yr % 100}").alias("v"),
                    )
                    for yr in (1995, 1996, 1997)
                ]
            )
        ).alias("t"),
    ).select("o_custkey", "t.yr", "t.v")
    wr = Window.partitionBy("o_custkey").orderBy("v")
    we = Window.partitionBy("o_custkey", "v")
    rk = melt.select(
        "o_custkey",
        "yr",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(we) - 1)
        .cast("bigint")
        .alias("ar2"),
    )
    ties = (
        melt.groupBy("o_custkey", "v")
        .agg(F.count(F.lit(1)).alias("ct"))
        .agg(
            F.sum(
                F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct")
            )
            .cast("bigint")
            .alias("tie3")
        )
    )
    agg = rk.agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n"),
        *[
            F.sum(F.when(F.col("yr") == yr, F.col("ar2")).otherwise(0))
            .cast("bigint")
            .alias(f"r2_{yr % 100}")
            for yr in (1995, 1996, 1997)
        ],
    )
    return agg.crossJoin(F.broadcast(ties)).selectExpr(
        "n", "r2_95", "r2_96", "r2_97", "tie3",
        f"{_FRIED} AS chi2",
        f"CASE WHEN tie3 = 24 * n THEN NULL"
        f" ELSE {_FRIED} / {_FRIED_C} END AS chi2_tied",
    )


#: Jonckheere-Terpstra z over the exact doubled statistic j2 = 2J:
#: z = (2·j2 − (n² − Σn_g²)) / (4·σ), tie-free σ² =
#: [n²(2n+3) − Σ n_g²(2n_g+3)]/72 in fixed-order DOUBLE.
_JT_NUM = "CAST(2 * j2 - (n * n - (na * na + nb * nb + nc * nc)) AS DOUBLE)"
_JT_VAR = (
    "((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " * CAST(2 * n + 3 AS DOUBLE)"
    " - CAST(na AS DOUBLE) * CAST(na AS DOUBLE)"
    " * CAST(2 * na + 3 AS DOUBLE)"
    " - CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)"
    " * CAST(2 * nb + 3 AS DOUBLE)"
    " - CAST(nc AS DOUBLE) * CAST(nc AS DOUBLE)"
    " * CAST(2 * nc + 3 AS DOUBLE)) / CAST(72 AS DOUBLE))"
)
_JT_Z = f"({_JT_NUM} / (CAST(4 AS DOUBLE) * sqrt({_JT_VAR})))"


@query(
    "op-ext-jonckheere",
    oracle=f"""
    WITH s AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS v,
             year(o_orderdate) AS yr
      FROM orders WHERE year(o_orderdate) IN (1995, 1996, 1997)
    ),
    g AS (
      SELECT v,
             CAST(SUM(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(SUM(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT)
               AS cb,
             CAST(SUM(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS BIGINT)
               AS cc
      FROM s GROUP BY 1
    ),
    p AS (
      SELECT ca, cb, cc,
             CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_ca,
             CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_cb
      FROM g
    ),
    agg AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb,
             CAST(SUM(cc) AS BIGINT) AS nc,
             CAST(SUM(cb * (2 * cum_ca - ca)
                      + cc * (2 * cum_ca - ca)
                      + cc * (2 * cum_cb - cb)) AS BIGINT) AS j2
      FROM p
    ),
    fin AS (SELECT na, nb, nc, na + nb + nc AS n, j2 FROM agg)
    SELECT na AS n_1995, nb AS n_1996, nc AS n_1997, j2,
           {_JT_Z} AS z_score
    FROM fin
    """,
)
def op_ext_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra ordered-alternative trend test — is order
    value stochastically INCREASING across 1995 → 1996 → 1997? (The
    directional k-group test Kruskal-Wallis can't express: KW only
    detects "some group differs".) J sums the Mann-Whitney U of every
    ordered group pair; per distinct value the tie-aware doubled
    contribution is c_later·(2·cum_earlier − c_earlier), so the whole
    statistic is ONE aggregate over the distinct-value frame whose
    cumulative per-group counts come from a single 3-column
    distributed prefix pass (an.distributed_prefix — no global
    window). j2 = 2J is exact int64; the z normalization uses the
    standard tie-free variance (documented approximation — cent
    values make ties negligible) in fixed-order DOUBLE, shared
    verbatim with the oracle."""
    o = t(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996, 1997)
    )
    y = F.year("o_orderdate")
    g = o.groupBy(
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("v")
    ).agg(
        *[
            F.sum(F.when(y == yr, 1).otherwise(0))
            .cast("bigint")
            .alias(c)
            for c, yr in (("ca", 1995), ("cb", 1996), ("cc", 1997))
        ]
    )
    p = an.distributed_prefix(g, "v", ["ca", "cb"]).select(
        "ca", "cb", "cc",
        F.col("cum_ca").alias("cum_ca"),
        F.col("cum_cb").alias("cum_cb"),
    )
    agg = p.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.sum("cc").cast("bigint").alias("nc"),
        F.sum(
            F.col("cb") * (2 * F.col("cum_ca") - F.col("ca"))
            + F.col("cc") * (2 * F.col("cum_ca") - F.col("ca"))
            + F.col("cc") * (2 * F.col("cum_cb") - F.col("cb"))
        )
        .cast("bigint")
        .alias("j2"),
    )
    fin = agg.selectExpr("na", "nb", "nc", "na + nb + nc AS n", "j2")
    return fin.selectExpr(
        "na AS n_1995", "nb AS n_1996", "nc AS n_1997", "j2",
        f"{_JT_Z} AS z_score",
    )


#: Page's L for k=3 over the doubled statistic l2 = 2L:
#: z = (l2 − 24n) / (2·√(2n)) — E[L] = 12n, Var[L] = 2n at k=3.
_PAGE_Z = (
    "(CAST(l2 - 24 * n AS DOUBLE)"
    " / (CAST(2 AS DOUBLE) * sqrt(CAST(2 AS DOUBLE)"
    " * CAST(n AS DOUBLE))))"
)


@query(
    "op-ext-page-trend",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1995
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  ELSE 0 END) AS BIGINT) AS c95,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  ELSE 0 END) AS BIGINT) AS c96,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1997
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  ELSE 0 END) AS BIGINT) AS c97,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1995
                  THEN 1 ELSE 0 END) AS BIGINT) AS k95,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                  THEN 1 ELSE 0 END) AS BIGINT) AS k96,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1997
                  THEN 1 ELSE 0 END) AS BIGINT) AS k97
      FROM orders WHERE year(o_orderdate) IN (1995, 1996, 1997)
      GROUP BY 1
    ),
    blocks AS (
      SELECT o_custkey, c95, c96, c97 FROM per
      WHERE k95 > 0 AND k96 > 0 AND k97 > 0
    ),
    melt AS (
      SELECT o_custkey, 1 AS j, c95 AS v FROM blocks
      UNION ALL SELECT o_custkey, 2, c96 FROM blocks
      UNION ALL SELECT o_custkey, 3, c97 FROM blocks
    ),
    rk AS (
      SELECT o_custkey, j,
             CAST(2 * rank() OVER (PARTITION BY o_custkey ORDER BY v)
                  + COUNT(*) OVER (PARTITION BY o_custkey, v) - 1
                  AS BIGINT) AS ar2
      FROM melt
    ),
    agg AS (
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n,
             CAST(SUM(j * ar2) AS BIGINT) AS l2
      FROM rk
    )
    SELECT n, l2, {_PAGE_Z} AS z_score FROM agg
    """,
)
def op_ext_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test — the PAIRED ordered-alternative sibling of
    op-ext-jonckheere (and the directional refinement of
    op-ext-friedman): within each customer-block, do revenue ranks
    trend UP across 1995 → 1996 → 1997? L weights each treatment's
    rank sum by its position (L = Σ j·R_j), carried as the exact
    doubled integer l2 = Σ j·ar2 from the same 3-row block-partitioned
    rank windows Friedman uses; the z normalization (E[L] = 12n,
    Var[L] = 2n at k=3, tie-free — documented approximation, ties in
    exact cents are negligible) is one shared IEEE expression."""
    o = t(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996, 1997)
    )
    cents = F.expr("CAST(o_totalprice AS DECIMAL(18,2)) * 100")
    y = F.year("o_orderdate")
    per = o.groupBy("o_custkey").agg(
        *[
            F.sum(F.when(y == yr, cents).otherwise(0))
            .cast("bigint")
            .alias(f"c{yr % 100}")
            for yr in (1995, 1996, 1997)
        ],
        *[
            F.sum(F.when(y == yr, 1).otherwise(0))
            .cast("bigint")
            .alias(f"k{yr % 100}")
            for yr in (1995, 1996, 1997)
        ],
    )
    blocks = per.filter(
        (F.col("k95") > 0) & (F.col("k96") > 0) & (F.col("k97") > 0)
    )
    melt = blocks.select(
        "o_custkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.col(f"c{yr % 100}").alias("v"),
                    )
                    for j, yr in ((1, 1995), (2, 1996), (3, 1997))
                ]
            )
        ).alias("s"),
    ).select("o_custkey", "s.j", "s.v")
    wr = Window.partitionBy("o_custkey").orderBy("v")
    we = Window.partitionBy("o_custkey", "v")
    rk = melt.select(
        "o_custkey",
        "j",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(we) - 1)
        .cast("bigint")
        .alias("ar2"),
    )
    agg = rk.agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n"),
        F.sum(F.col("j") * F.col("ar2")).cast("bigint").alias("l2"),
    )
    return agg.selectExpr("n", "l2", f"{_PAGE_Z} AS z_score")


@query(
    "op-ext-cochran-q",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             MAX(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END)
               AS a95,
             MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END)
               AS a96,
             MAX(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END)
               AS a97
      FROM orders GROUP BY 1
    ),
    cust AS (
      SELECT COALESCE(p.a95, 0) AS a95, COALESCE(p.a96, 0) AS a96,
             COALESCE(p.a97, 0) AS a97
      FROM customer c LEFT JOIN per p ON c.c_custkey = p.o_custkey
    ),
    agg AS (
      SELECT CAST(SUM(a95) AS BIGINT) AS g95,
             CAST(SUM(a96) AS BIGINT) AS g96,
             CAST(SUM(a97) AS BIGINT) AS g97,
             CAST(SUM(a95 + a96 + a97) AS BIGINT) AS sl,
             CAST(SUM((a95 + a96 + a97) * (a95 + a96 + a97))
                  AS BIGINT) AS sl2
      FROM cust
    )
    SELECT g95, g96, g97, sl, sl2,
           CASE WHEN 3 * sl - sl2 = 0 THEN NULL
                ELSE CAST(2 * (3 * (g95 * g95 + g96 * g96 + g97 * g97)
                               - (g95 + g96 + g97)
                                 * (g95 + g96 + g97)) AS DOUBLE)
                     / CAST(3 * sl - sl2 AS DOUBLE) END AS q_stat
    FROM agg
    """,
)
def op_ext_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q — the k-group PAIRED BINARY test (McNemar's k=3
    generalization): did the customer activity RATE shift across
    1995/1996/1997? Q = (k−1)(k·ΣG_j² − (ΣG_j)²)/(k·ΣL_i − ΣL_i²)
    over the per-year column totals G_j and per-customer row totals
    L_i — ONE map-side-combined aggregate produces all five exact
    int64 sufficient statistics, and Q is one shared IEEE division
    (all-concordant degenerate data yields NULL). Completes the test
    matrix: every cell of paired/unpaired × binary/continuous ×
    2/k-group × ordered now has an exact operator."""
    per = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            *[
                F.max(
                    F.when(F.year("o_orderdate") == yr, 1).otherwise(0)
                ).alias(f"a{yr % 100}")
                for yr in (1995, 1996, 1997)
            ]
        )
    )
    cust = (
        t(spark, sf_dir, "customer")
        .join(per, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            *[
                F.coalesce(f"a{yr % 100}", F.lit(0)).alias(
                    f"a{yr % 100}"
                )
                for yr in (1995, 1996, 1997)
            ]
        )
    )
    row_tot = F.col("a95") + F.col("a96") + F.col("a97")
    agg = cust.agg(
        F.sum("a95").cast("bigint").alias("g95"),
        F.sum("a96").cast("bigint").alias("g96"),
        F.sum("a97").cast("bigint").alias("g97"),
        F.sum(row_tot).cast("bigint").alias("sl"),
        F.sum(row_tot * row_tot).cast("bigint").alias("sl2"),
    )
    return agg.selectExpr(
        "g95", "g96", "g97", "sl", "sl2",
        "CASE WHEN 3 * sl - sl2 = 0 THEN NULL"
        " ELSE CAST(2 * (3 * (g95 * g95 + g96 * g96 + g97 * g97)"
        " - (g95 + g96 + g97) * (g95 + g96 + g97)) AS DOUBLE)"
        " / CAST(3 * sl - sl2 AS DOUBLE) END AS q_stat",
    )


# --------------------------------------------------------------------------
# one-way ANOVA F (round 10 — the classic parametric k-group mean test,
# completing the matrix cell next to Kruskal-Wallis's rank version)
# --------------------------------------------------------------------------

#: Σ sx_g²/n_g — the between-groups raw term. Shared VERBATIM with the
#: oracle (welch rules: a FIXED parenthesized IEEE chain over exact
#: int64 sufficient statistics; sx² multiplies as DOUBLE because the
#: int64 square would overflow near sf100).
_ANOVA_BG = (
    "(CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
    " + CAST(sx_n AS DOUBLE) * CAST(sx_n AS DOUBLE) / CAST(n_n AS DOUBLE)"
    " + CAST(sx_r AS DOUBLE) * CAST(sx_r AS DOUBLE) / CAST(n_r AS DOUBLE))"
)
_ANOVA_SSB = (
    f"({_ANOVA_BG}"
    " - CAST(sx_a + sx_n + sx_r AS DOUBLE)"
    " * CAST(sx_a + sx_n + sx_r AS DOUBLE)"
    " / CAST(n_a + n_n + n_r AS DOUBLE))"
)
_ANOVA_SSW = f"(CAST(sxx_a + sxx_n + sxx_r AS DOUBLE) - {_ANOVA_BG})"
_ANOVA_F = (
    f"(({_ANOVA_SSB} / CAST(2 AS DOUBLE))"
    f" / ({_ANOVA_SSW} / CAST(n_a + n_n + n_r - 3 AS DOUBLE)))"
)

_ANOVA_FINAL = f"""
    SELECT n_a + n_n + n_r AS n_total,
           CAST(2 AS BIGINT) AS df_between,
           CAST(n_a + n_n + n_r - 3 AS BIGINT) AS df_within,
           {_ANOVA_SSB} AS ss_between,
           {_ANOVA_SSW} AS ss_within,
           {_ANOVA_F} AS f_stat
"""

_ANOVA_FINAL_EXPRS = [
    "n_a + n_n + n_r AS n_total",
    "CAST(2 AS BIGINT) AS df_between",
    "CAST(n_a + n_n + n_r - 3 AS BIGINT) AS df_within",
    f"{_ANOVA_SSB} AS ss_between",
    f"{_ANOVA_SSW} AS ss_within",
    f"{_ANOVA_F} AS f_stat",
]


def _three_group_stats(fq: DataFrame) -> DataFrame:
    """The 9 exact-int64 sufficient statistics (n, Σx, Σx² per A/N/R
    group) pivoted into ONE row from an (f, q) frame — shared by
    op-ext-anova and op-ext-brown-forsythe so the stat matrix can't
    drift between them. One map-side-combined pass; at 100 TB the
    shuffle carries one 9-column row."""
    q = F.col("q")
    return fq.agg(
        *[
            F.sum(F.when(F.col("f") == g, e).otherwise(0))
            .cast("bigint")
            .alias(f"{p}_{g.lower()}")
            for p, e in (("n", F.lit(1)), ("sx", q), ("sxx", q * q))
            for g in ("A", "N", "R")
        ]
    )


@query(
    "op-ext-anova",
    oracle=f"""
    WITH q AS (
      SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q
      FROM lineitem
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN f = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_n,
        CAST(SUM(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
        CAST(SUM(CASE WHEN f = 'A' THEN q ELSE 0 END) AS BIGINT) AS sx_a,
        CAST(SUM(CASE WHEN f = 'N' THEN q ELSE 0 END) AS BIGINT) AS sx_n,
        CAST(SUM(CASE WHEN f = 'R' THEN q ELSE 0 END) AS BIGINT) AS sx_r,
        CAST(SUM(CASE WHEN f = 'A' THEN q * q ELSE 0 END) AS BIGINT) AS sxx_a,
        CAST(SUM(CASE WHEN f = 'N' THEN q * q ELSE 0 END) AS BIGINT) AS sxx_n,
        CAST(SUM(CASE WHEN f = 'R' THEN q * q ELSE 0 END) AS BIGINT) AS sxx_r
      FROM q
    )
    {_ANOVA_FINAL}
    FROM agg
    """,
)
def op_ext_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of line-item quantity across the three
    return-flag populations (A/N/R) — the classic parametric k-group
    mean comparison, the cell of the test matrix Kruskal-Wallis covers
    nonparametrically and Welch covers for k=2. One map-side-combined
    pass produces the 9 exact int64 sufficient statistics (n, Σx, Σx²
    per group) pivoted into ONE row, so every downstream float op is a
    fixed parenthesized chain (no float SUM whose order could differ) —
    SSB, SSW, and F are shared verbatim with the oracle
    (_ANOVA_SSB/_ANOVA_SSW/_ANOVA_F). At 100 TB the shuffle carries one
    9-column row."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("f"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    return _three_group_stats(li).selectExpr(*_ANOVA_FINAL_EXPRS)


@query(
    "op-ext-brown-forsythe",
    oracle=f"""
    WITH q AS (
      SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q
      FROM lineitem
    ),
    med AS (
      SELECT f, CAST(quantile_cont(q, 0.5) * 2 AS BIGINT) AS med2
      FROM q GROUP BY 1
    ),
    z AS (
      SELECT q.f, ABS(2 * q.q - med.med2) AS q
      FROM q JOIN med USING (f)
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN f = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_n,
        CAST(SUM(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
        CAST(SUM(CASE WHEN f = 'A' THEN q ELSE 0 END) AS BIGINT) AS sx_a,
        CAST(SUM(CASE WHEN f = 'N' THEN q ELSE 0 END) AS BIGINT) AS sx_n,
        CAST(SUM(CASE WHEN f = 'R' THEN q ELSE 0 END) AS BIGINT) AS sx_r,
        CAST(SUM(CASE WHEN f = 'A' THEN q * q ELSE 0 END) AS BIGINT) AS sxx_a,
        CAST(SUM(CASE WHEN f = 'N' THEN q * q ELSE 0 END) AS BIGINT) AS sxx_n,
        CAST(SUM(CASE WHEN f = 'R' THEN q * q ELSE 0 END) AS BIGINT) AS sxx_r
      FROM z
    )
    {_ANOVA_FINAL}
    FROM agg
    """,
)
def op_ext_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test of variance EQUALITY across the return-flag
    groups — the scale/dispersion axis the location tests (anova,
    kruskal-wallis, welch) don't cover, in its median-centered form
    (robust to non-normality, unlike mean-centered Levene). Statistic =
    the one-way F on z_ij = |x_ij − median_g|; computed here on the
    2×-scaled integers z2 = |2x − med2| so everything stays EXACT int64
    (an even-count median is a .5 — doubling it is the same frozen-
    integer trick as the rank machinery; F is scale-invariant so
    F(z2) ≡ F(z) up to the shared-verbatim IEEE chain, and ss_between/
    ss_within are reported on the z2 scale by contract). The group
    median is Spark's EXACT percentile aggregate — safe at 100 TB here
    because quantity has a ~50-value domain (the aggregate carries
    per-value counts, not rows); reuses _ANOVA_FINAL verbatim."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("f"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    med = li.groupBy("f").agg(
        F.expr("CAST(percentile(q, 0.5) * 2 AS BIGINT)").alias("med2")
    )
    z = li.join(F.broadcast(med), "f").select(
        "f", F.abs(2 * F.col("q") - F.col("med2")).alias("q")
    )
    return _three_group_stats(z).selectExpr(*_ANOVA_FINAL_EXPRS)


# --------------------------------------------------------------------------
# paired Student's t (round 10 — the parametric twin of the Wilcoxon
# signed-rank cell: paired × continuous)
# --------------------------------------------------------------------------

#: t = mean(d) / sqrt(var(d)/n) over exact int64 (n, Σd, Σd²) — shared
#: verbatim with the oracle (welch rules). BIGINT→DOUBLE casts are the
#: correctly-rounded IEEE conversion in BOTH engines (the r7 last-ulp
#: trap is only 128-bit DECIMAL/HUGEINT→double, which this op avoids by
#: truncating diffs to whole dollars — see the docstring).
_PAIRED_T = (
    "((CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))"
    " / sqrt(((CAST(sdd AS DOUBLE)"
    " - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))"
    " / CAST(n - 1 AS DOUBLE)) / CAST(n AS DOUBLE)))"
)


@query(
    "op-ext-paired-ttest",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1995
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  ELSE 0 END) AS BIGINT) AS c95,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  ELSE 0 END) AS BIGINT) AS c96,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1995
                  THEN 1 ELSE 0 END) AS BIGINT) AS n95,
             CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                  THEN 1 ELSE 0 END) AS BIGINT) AS n96
      FROM orders WHERE year(o_orderdate) IN (1995, 1996)
      GROUP BY 1
    ),
    d AS (
      SELECT (c96 - c95) // 10000 AS d
      FROM per WHERE n95 > 0 AND n96 > 0
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS BIGINT) AS sd,
             CAST(SUM(d * d) AS BIGINT) AS sdd
      FROM d
    )
    SELECT n AS n_pairs,
           CAST(n - 1 AS BIGINT) AS df,
           CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS mean_d,
           {_PAIRED_T} AS t_stat
    FROM agg
    """,
)
def op_ext_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired Student's t-test on per-customer 1995→1996 spend change —
    the PARAMETRIC twin of op-ext-wilcoxon-signed-rank's matrix cell
    (paired × continuous), on the same customer-year pairing. Unlike
    Wilcoxon, zero differences are KEPT (the t-test has no zero-drop
    rule). Differences are truncated to $100 units ((c96−c95)//10000,
    toward zero identically in both engines) so Σd² stays inside exact
    int64: dollar units measured 2.0e19 at the synthesized sf10 —
    past int64 — where $100 units leave ~180× headroom. t is
    scale-invariant up to this documented
    truncation, and every cast in the final closed form is the
    correctly-rounded BIGINT→DOUBLE conversion, never a 128-bit
    decimal. One groupBy(custkey) + one 3-stat aggregate; at 100 TB
    the shuffle carries |customers| rows then one 3-column row."""
    o = t(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )
    cents = F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    y95 = F.year("o_orderdate") == 1995
    per = o.groupBy("o_custkey").agg(
        F.sum(F.when(y95, cents).otherwise(0)).cast("bigint").alias("c95"),
        F.sum(F.when(~y95, cents).otherwise(0)).cast("bigint").alias("c96"),
        F.sum(F.when(y95, 1).otherwise(0)).cast("bigint").alias("n95"),
        F.sum(F.when(~y95, 1).otherwise(0)).cast("bigint").alias("n96"),
    )
    d = per.filter((F.col("n95") > 0) & (F.col("n96") > 0)).select(
        F.expr("(c96 - c95) div 10000").alias("d")
    )
    agg = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sdd"),
    )
    return agg.selectExpr(
        "n AS n_pairs",
        "CAST(n - 1 AS BIGINT) AS df",
        "CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS mean_d",
        f"{_PAIRED_T} AS t_stat",
    )


# --------------------------------------------------------------------------
# robust trend tests (Mann-Kendall / Theil-Sen) + Anderson-Darling
# --------------------------------------------------------------------------

#: monthly revenue cents per customer nation — the shared bounded series
#: both trend tests run on. BOUNDED BY CONSTRUCTION: |nations| = 25 and
#: |months| is fixed by the calendar span of o_orderdate (~80), so the
#: per-group pair count (~80²/2) is a CONSTANT w.r.t. data volume — the
#: O(Σ n_g²) self-join is linear in |groups| and survives 100× with the
#: same plan (more rows only make the per-cell SUMs bigger).
_MK_PER_SQL = """
      SELECT c.c_nationkey AS nk,
             CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                  AS BIGINT) AS m,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
"""

#: Mann-Kendall z with continuity correction — ONE shared IEEE
#: expression tree over the exact integer inputs s (the S statistic)
#: and var18 (18·Var[S], exact int64: n ≤ months ≈ 80 per group).
_MK_Z = (
    "(CASE WHEN var18 <= 0 OR s = 0 THEN 0.0"
    " WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)"
    " / sqrt(CAST(var18 AS DOUBLE) / 18.0)"
    " ELSE CAST(s + 1 AS DOUBLE)"
    " / sqrt(CAST(var18 AS DOUBLE) / 18.0) END)"
)


def _mk_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _MK_PER_SQL (nk, m, v) — one fact-scale join +
    groupBy; the result is a nations×months frame (~2,000 rows)."""
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("m"),
        F.expr("CAST(o_totalprice AS DECIMAL(18,2)) * 100").alias("_c"),
    )
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nk"),
    )
    return (
        o.join(c, "o_custkey")
        .groupBy("nk", "m")
        .agg(F.sum("_c").cast("bigint").alias("v"))
    )


@query(
    "op-ext-mann-kendall",
    oracle=f"""
    WITH per AS ({_MK_PER_SQL}),
    pairs AS (
      SELECT a.nk,
             CAST(SUM(CASE WHEN b.v > a.v THEN 1
                           WHEN b.v < a.v THEN -1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM per a JOIN per b ON a.nk = b.nk AND a.m < b.m
      GROUP BY 1
    ),
    nn AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n FROM per GROUP BY 1),
    ties AS (
      SELECT nk,
             CAST(COALESCE(SUM(tt * (tt - 1) * (2 * tt + 5)), 0)
                  AS BIGINT) AS tie18
      FROM (SELECT nk, v, CAST(COUNT(*) AS BIGINT) AS tt
            FROM per GROUP BY 1, 2) g
      WHERE tt > 1
      GROUP BY 1
    ),
    st AS (
      SELECT nn.nk, nn.n, p.s,
             nn.n * (nn.n - 1) * (2 * nn.n + 5)
               - COALESCE(t.tie18, 0) AS var18
      FROM nn JOIN pairs p ON nn.nk = p.nk
      LEFT JOIN ties t ON nn.nk = t.nk
    )
    SELECT nk AS nationkey, n AS n_months, s AS s_stat,
           CAST(var18 AS DOUBLE) / 18.0 AS var_s,
           {_MK_Z} AS z_mk
    FROM st
    """,
)
def op_ext_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per customer nation on the monthly
    revenue series — the nonparametric is-there-a-monotone-trend test
    (Kendall concordance of value against time), the robust sibling of
    op-ext-linreg's parametric slope and the k=∞-ordered extension of
    the op-ext-page-trend cell. S = Σ_{{i<j}} sgn(v_j − v_i) over the
    time-ordered series; Var[S] carries the exact tie correction
    (tied exact-cents months — possible, rare). All sufficient
    statistics are exact int64 (S is a ±1 count; 18·Var[S] at n ≈ 80
    is ~10⁶); z with continuity correction is the shared _MK_Z tree.
    SCALE: the series frame is nations×months — bounded by calendar
    construction — so the within-group self-join is a broadcast of a
    ~2,000-row frame regardless of fact volume; the fact scan
    contributes one join + one map-side-combined groupBy."""
    per = F.broadcast(_mk_monthly(spark, sf_dir))
    a = per.select(
        F.col("nk"), F.col("m").alias("m1"), F.col("v").alias("v1")
    )
    b = per.select(
        F.col("nk"), F.col("m").alias("m2"), F.col("v").alias("v2")
    )
    pairs = (
        a.join(b, "nk")
        .filter(F.col("m1") < F.col("m2"))
        .groupBy("nk")
        .agg(
            F.sum(
                F.when(F.col("v2") > F.col("v1"), 1)
                .when(F.col("v2") < F.col("v1"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    nn = per.groupBy("nk").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tt = (
        per.groupBy("nk", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tt"))
        .filter(F.col("tt") > 1)
        .groupBy("nk")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tt")
                    * (F.col("tt") - 1)
                    * (2 * F.col("tt") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie18")
        )
    )
    st = (
        nn.join(pairs, "nk")
        .join(tt, "nk", "left")
        .select(
            "nk",
            "n",
            "s",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce("tie18", F.lit(0))
            ).alias("var18"),
        )
    )
    return st.selectExpr(
        "nk AS nationkey",
        "n AS n_months",
        "s AS s_stat",
        "CAST(var18 AS DOUBLE) / 18.0 AS var_s",
        f"{_MK_Z} AS z_mk",
    )


@query(
    "op-ext-theil-sen",
    oracle=f"""
    WITH per AS ({_MK_PER_SQL}),
    slopes AS (
      SELECT a.nk,
             CAST(b.v - a.v AS DOUBLE) / CAST(b.m - a.m AS DOUBLE) AS sl,
             a.m AS m1, b.m AS m2
      FROM per a JOIN per b ON a.nk = b.nk AND a.m < b.m
    ),
    rk AS (
      SELECT nk, sl,
             ROW_NUMBER() OVER (PARTITION BY nk ORDER BY sl, m1, m2)
               AS rn,
             COUNT(*) OVER (PARTITION BY nk) AS np
      FROM slopes
    )
    SELECT nk AS nationkey,
           CAST(MAX(np) AS BIGINT) AS n_pairs,
           SUM(sl) / CAST(COUNT(*) AS DOUBLE) AS ts_slope
    FROM rk
    WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
    GROUP BY 1
    """,
)
def op_ext_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope per nation on the same monthly revenue
    series op-ext-mann-kendall tests — median of all pairwise slopes
    (cents/month), the 29%-breakdown-point estimator that pairs with
    Mann-Kendall as the classical robust-trend readout. Each slope is
    ONE IEEE division of exact ints; the median picks the middle
    one-or-two SORTED VALUES (rn = ⌈np/2⌉ and ⌊np/2⌋+1 coincide for
    odd np) so engine-specific ordering of TIED slopes cannot change
    the result (tied values are interchangeable at the picked
    positions); the window tiebreaker (m1, m2) still makes rn total
    per the determinism rule. SCALE: same bounded nations×months
    broadcast frame — pair count is calendar-constant; the median
    window partitions by nation over ~3,200 slopes each."""
    per = F.broadcast(_mk_monthly(spark, sf_dir))
    a = per.select(
        F.col("nk"), F.col("m").alias("m1"), F.col("v").alias("v1")
    )
    b = per.select(
        F.col("nk"), F.col("m").alias("m2"), F.col("v").alias("v2")
    )
    slopes = (
        a.join(b, "nk")
        .filter(F.col("m1") < F.col("m2"))
        .select(
            "nk",
            (
                (F.col("v2") - F.col("v1")).cast("double")
                / (F.col("m2") - F.col("m1")).cast("double")
            ).alias("sl"),
            "m1",
            "m2",
        )
    )
    w = Window.partitionBy("nk").orderBy("sl", "m1", "m2")
    wn = Window.partitionBy("nk")
    rk = slopes.select(
        "nk",
        "sl",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("np"),
    )
    return (
        rk.filter(
            (F.col("rn") == F.expr("(np + 1) div 2"))
            | (F.col("rn") == F.expr("(np + 2) div 2"))
        )
        .groupBy("nk")
        .agg(
            F.max("np").cast("bigint").alias("n_pairs"),
            (F.sum("sl") / F.count(F.lit(1)).cast("double")).alias(
                "ts_slope"
            ),
        )
        .selectExpr("nk AS nationkey", "n_pairs", "ts_slope")
    )


#: Two-measure sibling of _MK_PER_SQL: the same calendar-bounded
#: monthly frame, carrying revenue (exact cents) AND order count per
#: (nation, month) — the inputs tau-b correlates. Same scale argument:
#: |months| is calendar-constant, so the per-nation pair join is O(1)
#: w.r.t. fact volume.
_KT_PER_SQL = """
      SELECT c.c_nationkey AS nk,
             CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                  AS BIGINT) AS m,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS q
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
"""

#: tau-b from exact int64 sufficient statistics: concordant−discordant
#: over sqrt of the tie-corrected pair products. int64→double casts
#: are IEEE-correctly-rounded in both engines, as are sqrt and /, so
#: this one shared tree is deterministic with no fixed-point staging
#: (unlike ln-based statistics). Zero-variance guard: all-tied v or q
#: ⇒ denominator 0 ⇒ tau-b defined as 0.
_KT_TAUB = (
    "(CASE WHEN (n0 - tv) <= 0 OR (n0 - tq) <= 0 THEN 0.0"
    " ELSE CAST(nc - nd AS DOUBLE)"
    " / sqrt(CAST(n0 - tv AS DOUBLE) * CAST(n0 - tq AS DOUBLE)) END)"
)


@query(
    "op-ext-kendall-tau",
    oracle=f"""
    WITH per AS ({_KT_PER_SQL}),
    pairs AS (
      SELECT a.nk,
             CAST(SUM(CASE WHEN (b.v - a.v) * (b.q - a.q) > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN (b.v - a.v) * (b.q - a.q) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS nd
      FROM per a JOIN per b ON a.nk = b.nk AND a.m < b.m
      GROUP BY 1
    ),
    nn AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n FROM per GROUP BY 1),
    tv AS (
      SELECT nk, CAST(SUM(tt * (tt - 1) / 2) AS BIGINT) AS tv
      FROM (SELECT nk, v, CAST(COUNT(*) AS BIGINT) AS tt
            FROM per GROUP BY 1, 2) g
      WHERE tt > 1 GROUP BY 1
    ),
    tq AS (
      SELECT nk, CAST(SUM(tt * (tt - 1) / 2) AS BIGINT) AS tq
      FROM (SELECT nk, q, CAST(COUNT(*) AS BIGINT) AS tt
            FROM per GROUP BY 1, 2) g
      WHERE tt > 1 GROUP BY 1
    ),
    st AS (
      SELECT nn.nk, nn.n, p.nc, p.nd,
             nn.n * (nn.n - 1) / 2 AS n0,
             COALESCE(tv.tv, 0) AS tv,
             COALESCE(tq.tq, 0) AS tq
      FROM nn JOIN pairs p ON nn.nk = p.nk
      LEFT JOIN tv ON nn.nk = tv.nk
      LEFT JOIN tq ON nn.nk = tq.nk
    )
    SELECT nk AS nationkey, n AS n_months, nc AS n_conc, nd AS n_disc,
           {_KT_TAUB} AS tau_b
    FROM st
    """,
)
def op_ext_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between monthly revenue and
    monthly order count per customer nation — the tie-corrected
    nonparametric association that completes the correlation cell:
    op-ext-corr is Pearson (linear), op-ext-spearman is rank-linear,
    tau-b is concordance-based (robust to any monotone transform and
    the standard readout when tied months are possible). Concordant /
    discordant counts come from the same bounded month-pair join as
    op-ext-mann-kendall (tau against TIME is exactly the MK S
    statistic; here the two VALUE series are correlated instead);
    tie corrections t_v, t_q are per-distinct-value arithmetic-series
    sums. All sufficient statistics are exact int64; the one shared
    _KT_TAUB tree (int64→double casts, one sqrt, one division — all
    IEEE-correctly-rounded, no libm transcendentals) crosses to the
    oracle bit-for-bit. SCALE: the series frame is nations×months
    (calendar-bounded, ~2,000 rows broadcast); the fact scan pays one
    join + one map-side-combined groupBy regardless of volume."""
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("m"),
        F.expr("CAST(o_totalprice AS DECIMAL(18,2)) * 100").alias("_c"),
    )
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nk"),
    )
    per = F.broadcast(
        o.join(c, "o_custkey")
        .groupBy("nk", "m")
        .agg(
            F.sum("_c").cast("bigint").alias("v"),
            F.count(F.lit(1)).cast("bigint").alias("q"),
        )
    )
    a = per.select("nk", F.col("m").alias("m1"), F.col("v").alias("v1"),
                   F.col("q").alias("q1"))
    b = per.select("nk", F.col("m").alias("m2"), F.col("v").alias("v2"),
                   F.col("q").alias("q2"))
    disc = (F.col("v2") - F.col("v1")) * (F.col("q2") - F.col("q1"))
    pairs = (
        a.join(b, "nk")
        .filter(F.col("m1") < F.col("m2"))
        .groupBy("nk")
        .agg(
            F.sum(F.when(disc > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("nc"),
            F.sum(F.when(disc < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("nd"),
        )
    )
    nn = per.groupBy("nk").agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def _ties(col: str, out: str) -> DataFrame:
        return (
            per.groupBy("nk", col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("tt"))
            .filter(F.col("tt") > 1)
            .groupBy("nk")
            .agg(
                F.sum(F.col("tt") * (F.col("tt") - 1) / 2)
                .cast("bigint")
                .alias(out)
            )
        )

    st = (
        nn.join(pairs, "nk")
        .join(_ties("v", "tv"), "nk", "left")
        .join(_ties("q", "tq"), "nk", "left")
        .select(
            "nk",
            "n",
            "nc",
            "nd",
            F.expr("n * (n - 1) / 2").cast("bigint").alias("n0"),
            F.coalesce("tv", F.lit(0)).alias("tv"),
            F.coalesce("tq", F.lit(0)).alias("tq"),
        )
    )
    return st.selectExpr(
        "nk AS nationkey",
        "n AS n_months",
        "nc AS n_conc",
        "nd AS n_disc",
        f"{_KT_TAUB} AS tau_b",
    )


#: Upper-tail normal probability P(Z > |z|) via the Abramowitz-Stegun
#: 26.2.17 five-term polynomial (|error| < 7.5e-8) — spelled ONCE and
#: formatted into both engines so every occurrence is the same IEEE
#: expression tree (the house rule that makes Φ cross the oracle
#: boundary bit-for-bit; no engine exposes erf with a pinned
#: implementation, so a shared explicit polynomial is the only
#: deterministic route).
_NORM_TAIL = (
    "(exp(-0.5 * {z} * {z}) / 2.5066282746310002"
    " * ((1.0 / (1.0 + 0.2316419 * abs({z})))"
    "    * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs({z})))"
    "    * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs({z})))"
    "    * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs({z})))"
    "    * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs({z})))"
    "    * 1.330274429))))))"
)

_AD_Z = "((CAST(c AS DOUBLE) - mu) / sd)"

#: Φ(z) clamped to (1e-300, 1 − 1e-16) so ln() is total even for a
#: pathological far-tail value (exp underflow would otherwise yield
#: ln(0) = −inf and poison the fixed-point sum).
_AD_PHI = (
    "LEAST(GREATEST(CASE WHEN " + _AD_Z + " >= 0.0 THEN 1.0 - "
    + _NORM_TAIL.format(z=_AD_Z)
    + " ELSE "
    + _NORM_TAIL.format(z=_AD_Z)
    + " END, 1e-300), 1.0 - 1e-16)"
)

#: One distinct value's contribution to the A² order-statistic sum,
#: collapsed over its tied ranks a..b (a−1 = cum_ct−ct, b = cum_ct) by
#: arithmetic series: Σ(2i−1) = b²−(a−1)² multiplies ln Φ, and the
#: mirrored Σ(2(n+1−i)−1) = ((2n+1)−(a+b))·ct + ... simplifies to
#: (2n+1)·ct − (2·cum_ct−ct+1)·ct multiplying ln(1−Φ) — so the whole
#: sorted-sample sum is computable on the DISTINCT-value frame. Weights
#: accumulate in DECIMAL(38,0) (cum² overflows int64 past ~3e9 rows);
#: the term is quantized to millionths (FLOOR on identical doubles)
#: so the cross-row SUM is exact-integer — the op-ext-retrieval-metrics
#: fixed-point pattern.
_AD_TERM_FP = (
    "CAST(FLOOR(("
    " CAST(CAST(cum_ct AS DECIMAL(38,0)) * cum_ct"
    "      - CAST(cum_ct - ct AS DECIMAL(38,0)) * (cum_ct - ct)"
    "      AS DOUBLE) * ln(" + _AD_PHI + ")"
    " + CAST((CAST(2 AS DECIMAL(38,0)) * n + 1) * ct"
    "        - (CAST(2 AS DECIMAL(38,0)) * cum_ct - ct + 1) * ct"
    "        AS DOUBLE) * ln(LEAST(GREATEST(1.0 - " + _AD_PHI + ","
    " 1e-300), 1.0 - 1e-16))"
    ") * 1000000.0) AS BIGINT)"
)

_AD_MU = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
_AD_SD = (
    "sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx"
    " - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
    " / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE))"
)

#: Final A² from the EXACT integer split s_fp = adq·n + adr (|adr| < n,
#: both truncated toward zero): (s_fp/1e6)/n = (adq + adr/n)/1e6 with
#: every CAST an exact small-integer→double conversion — casting s_fp
#: itself to DOUBLE would hit the cross-engine last-ulp divergence of
#: wide-int conversions near 1e19 (s_fp ≈ n²·10⁶ crosses 2⁵³ at
#: n ≈ 10⁵ rows/group). adq ≈ n·10⁶ stays double-exact to n ≈ 9e9.
_AD_A2 = (
    "(0.0 - CAST(n AS DOUBLE)"
    " - (CAST(adq AS DOUBLE)"
    "    + CAST(adr AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0)"
)
_AD_A2_MOD = (
    f"({_AD_A2} * (1.0 + 0.75 / CAST(n AS DOUBLE)"
    " + 2.25 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))"
)


@query(
    "op-ext-anderson-darling",
    oracle=f"""
    WITH x AS (
      SELECT event_type AS g,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS sx,
             SUM(CAST(c AS DECIMAL(38,0)) * c) AS sxx
      FROM x GROUP BY 1
    ),
    ms AS (
      SELECT g, n, {_AD_MU} AS mu, {_AD_SD} AS sd FROM s
    ),
    d AS (
      SELECT g, c, CAST(COUNT(*) AS BIGINT) AS ct FROM x GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, c, ct,
             CAST(SUM(ct) OVER (PARTITION BY g ORDER BY c) AS BIGINT)
               AS cum_ct
      FROM d
    ),
    terms AS (
      SELECT cum.g, {_AD_TERM_FP} AS term_fp
      FROM cum JOIN ms ON cum.g = ms.g
    ),
    agg AS (
      SELECT g, SUM(term_fp) AS s_fp FROM terms GROUP BY 1
    ),
    fin AS (
      SELECT ms.g, ms.n,
             s_fp // CAST(ms.n AS HUGEINT) AS adq,
             CAST(s_fp - (s_fp // CAST(ms.n AS HUGEINT))
                  * CAST(ms.n AS HUGEINT) AS BIGINT) AS adr
      FROM agg JOIN ms ON agg.g = ms.g
    )
    SELECT g AS event_type, n AS n_rows,
           {_AD_A2} AS a2,
           {_AD_A2_MOD} AS a2_mod
    FROM fin
    """,
)
def op_ext_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling normality test of event value per event type —
    the tail-weighted EDF goodness-of-fit that completes the
    distribution-shape cell next to op-ext-ks-test (two-sample,
    unweighted EDF): A² = −n − (1/n)Σ(2i−1)[ln Φ(zᵢ) + ln(1−Φ(z_{{n+1−i}}))]
    with the case-0 estimated-parameter z's, plus the small-sample
    modified A*² (Stephens 1974). Mean/σ come from exact integer cents
    power sums; Φ is the shared _NORM_TAIL polynomial (identical IEEE
    tree in both engines); each distinct value's tied ranks collapse by
    arithmetic series so the statistic is computed on the
    DISTINCT-value frame; terms are fixed-point-quantized so the final
    per-group SUM is exact integer, never an order-dependent float
    accumulation, and the sum crosses to double ONLY through an exact
    quotient/remainder split by n (s_fp ≈ n²·10⁶ would hit the
    wide-int→double last-ulp divergence past 2⁵³; adq ≈ n·10⁶ and
    adr < n stay double-exact to n ≈ 9e9 rows/group). Oracle-parity
    domain: per-term weights (≈ 2·n·ct) must stay below 2⁵³ for the
    weight→double cast to be exact — beyond ~10⁷ tied rows per distinct
    value the last ulp may differ; the statistic itself remains
    well-defined either way. SCALE: ranks ride operators/analytics
    .distributed_prefix (two-level value-range prefix sum, single-task
    exposure bounded by the constant bucket count) — no global-sort
    window anywhere; everything else is map-side-combined groupBys."""
    x = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("g"),
            F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .alias("c"),
        )
    )
    s = x.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sx"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("sxx"),
    )
    ms = s.selectExpr("g", "n", f"{_AD_MU} AS mu", f"{_AD_SD} AS sd")
    d = x.groupBy("g", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    )
    cum = an.distributed_prefix(d, "c", ["ct"], groups=["g"]).withColumn(
        "cum_ct", F.col("cum_ct").cast("bigint")
    )
    terms = cum.join(F.broadcast(ms), "g").selectExpr(
        "g", f"CAST({_AD_TERM_FP} AS DECIMAL(38,0)) AS term_fp"
    )
    agg = terms.groupBy("g").agg(F.sum("term_fp").alias("s_fp"))
    # Exact integer quotient/remainder split of s_fp by n BEFORE any
    # double conversion (registry_ml._sdiv sign-abs decimal division —
    # Spark `div` would overflow through int64; the oracle's HUGEINT
    # `//` truncates toward zero identically).
    from data_warehousing_assignment_spark.registry_ml import _sdiv

    j = agg.join(F.broadcast(ms), "g")
    adq = _sdiv(F.col("s_fp"), F.col("n"))
    fin = j.withColumn("adq", adq).withColumn(
        "adr",
        (
            F.col("s_fp")
            - F.col("adq") * F.col("n").cast("decimal(38,0)")
        ).cast("bigint"),
    )
    return fin.selectExpr(
        "g AS event_type",
        "n AS n_rows",
        f"{_AD_A2} AS a2",
        f"{_AD_A2_MOD} AS a2_mod",
    )


# --------------------------------------------------------------------------
# drift / effect-size cell (r11): PSI and Cliff's delta
# --------------------------------------------------------------------------

#: Per-bin PSI term, fixed-point nano-units — ONE shared IEEE tree
#: over exact int64 smoothed counts (the Anderson-Darling staging
#: pattern: quantize each term with FLOOR so the 10-term total is an
#: exact integer SUM, never an order-dependent float accumulation).
#: (p_a − p_b) is computed as one exact integer cross-difference over
#: one division; the ln argument is the same cross-ratio. Products
#: are ≤ (n+1)·(n+10) — int64-exact to n ≈ 3e9 rows per period.
_PSI_TERM_FP = (
    "CAST(FLOOR(1e9"
    " * (CAST(ca1 * nbp - cb1 * nap AS DOUBLE)"
    "    / CAST(nap * nbp AS DOUBLE))"
    " * ln(CAST(ca1 * nbp AS DOUBLE) / CAST(cb1 * nap AS DOUBLE))"
    ") AS BIGINT)"
)

#: Integer equal-width binning over the BASELINE range — spelled in
#: integer arithmetic only (least/greatest clamp + one integer
#: multiply/divide) so both engines bin identically; width_bucket was
#: rejected because its internal float order of operations is not
#: pinned cross-engine and a boundary cent must not flip bins.
_PSI_BIN = (
    "LEAST(9, CAST(((LEAST(mx, GREATEST(mn, c)) - mn) * 10)"
    " {div} (mx - mn + 1) AS BIGINT))"
)


@query(
    "op-ext-psi",
    oracle=f"""
    WITH base AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS c
      FROM orders WHERE year(o_orderdate) = 1995
    ),
    targ AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS c
      FROM orders WHERE year(o_orderdate) = 1996
    ),
    mm AS (SELECT MIN(c) AS mn, MAX(c) AS mx FROM base),
    ba AS (
      SELECT {_PSI_BIN.format(div='//')} AS bin,
             CAST(COUNT(*) AS BIGINT) AS ca
      FROM base, mm GROUP BY 1
    ),
    tb AS (
      SELECT {_PSI_BIN.format(div='//')} AS bin,
             CAST(COUNT(*) AS BIGINT) AS cb
      FROM targ, mm GROUP BY 1
    ),
    spine AS (SELECT unnest(range(0, 10)) AS bin),
    cells AS (
      SELECT s.bin,
             COALESCE(ba.ca, 0) + 1 AS ca1,
             COALESCE(tb.cb, 0) + 1 AS cb1
      FROM spine s
      LEFT JOIN ba ON s.bin = ba.bin
      LEFT JOIN tb ON s.bin = tb.bin
    ),
    tot AS (
      SELECT CAST(SUM(ca1) AS BIGINT) AS nap,
             CAST(SUM(cb1) AS BIGINT) AS nbp
      FROM cells
    ),
    terms AS (
      SELECT cells.bin, ca1, cb1, {_PSI_TERM_FP} AS t_fp
      FROM cells, tot
    )
    SELECT CAST(SUM(ca1 - 1) AS BIGINT) AS n_base,
           CAST(SUM(cb1 - 1) AS BIGINT) AS n_target,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(t_fp) AS BIGINT) AS psi_nano,
           CAST(SUM(t_fp) AS DOUBLE) / 1e9 AS psi
    FROM terms
    """,
)
def op_ext_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-value distribution,
    1995 baseline vs 1996 target — the standard drift monitor a
    production scoring/curation pipeline alarms on (PSI < 0.1 stable,
    > 0.25 shifted). Ten EQUAL-WIDTH bins over the baseline's exact-
    cents range, binned by integer arithmetic only (_PSI_BIN — no
    width_bucket: its float op order is not pinned cross-engine);
    add-one smoothing keeps ln finite on empty bins and is part of the
    stated statistic. Each bin's (p_a−p_b)·ln(p_a/p_b) term is the
    shared _PSI_TERM_FP tree quantized to nano-units with FLOOR, so
    the bin SUM is exact integer arithmetic (the Anderson-Darling
    fixed-point staging) and psi crosses the oracle as that integer
    over 1e9. Precision caveat (r11 advice #1): FLOOR fixes the
    SUMMATION ORDER, not the transcendental — ln() itself is libm
    (DuckDB) vs java.lang.Math (Spark), and a 1-ulp disagreement
    landing exactly on a FLOOR boundary would shift one term by 1
    nano-unit. The match is therefore EMPIRICALLY verified (exact at
    sf0.001/0.01/0.1 and the 100× sweep, 10 terms/run), not an
    arithmetic guarantee; a mismatch of ±n_bins nano-units in a future
    run should be read as that known boundary effect, not a logic bug. SCALE: two filtered fact scans → one map-side-combined
    10-cell groupBy each; the min/max frame is the 1-row broadcast
    watermark class; everything after is a 10-row frame."""
    o = t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("y"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .alias("c"),
    )
    base = o.filter(F.col("y") == 1995).select("c")
    targ = o.filter(F.col("y") == 1996).select("c")
    mm = base.agg(
        F.min("c").cast("bigint").alias("mn"),
        F.max("c").cast("bigint").alias("mx"),
    )
    bin_expr = _PSI_BIN.format(div="div")
    ba = (
        base.crossJoin(F.broadcast(mm))
        .selectExpr(f"{bin_expr} AS bin")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ca"))
    )
    tb = (
        targ.crossJoin(F.broadcast(mm))
        .selectExpr(f"{bin_expr} AS bin")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    )
    spine = spark.range(10).select(F.col("id").cast("bigint").alias("bin"))
    cells = (
        spine.join(ba, "bin", "left")
        .join(tb, "bin", "left")
        .select(
            "bin",
            (F.coalesce("ca", F.lit(0)) + 1).cast("bigint").alias("ca1"),
            (F.coalesce("cb", F.lit(0)) + 1).cast("bigint").alias("cb1"),
        )
    )
    tot = cells.agg(
        F.sum("ca1").cast("bigint").alias("nap"),
        F.sum("cb1").cast("bigint").alias("nbp"),
    )
    terms = cells.crossJoin(F.broadcast(tot)).selectExpr(
        "bin", "ca1", "cb1", f"{_PSI_TERM_FP} AS t_fp"
    )
    return terms.agg(
        F.sum(F.col("ca1") - 1).cast("bigint").alias("n_base"),
        F.sum(F.col("cb1") - 1).cast("bigint").alias("n_target"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("t_fp").cast("bigint").alias("psi_nano"),
        (F.sum("t_fp").cast("double") / F.lit(1e9)).alias("psi"),
    )


@query(
    "op-ext-cliffs-delta",
    oracle="""
    WITH q AS (
      SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
    ),
    ca AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM q
           WHERE f = 'A' GROUP BY 1),
    cb AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM q
           WHERE f = 'R' GROUP BY 1),
    x AS (
      SELECT CAST(SUM(CASE WHEN ca.v > cb.v THEN ca.c * cb.c
                           ELSE 0 END) AS BIGINT) AS gt,
             CAST(SUM(CASE WHEN ca.v < cb.v THEN ca.c * cb.c
                           ELSE 0 END) AS BIGINT) AS lt
      FROM ca, cb
    ),
    nn AS (
      SELECT CAST(SUM(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM q
    )
    SELECT n_a, n_b, gt AS n_gt, lt AS n_lt,
           CAST(gt - lt AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)
             AS cliffs_delta
    FROM x, nn
    """,
)
def op_ext_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between the A- and R-returnflag quantity
    distributions — the ordinal EFFECT SIZE that pairs with
    op-ext-mannwhitney's significance test (δ = P(X>Y) − P(X<Y);
    |δ| < 0.147 negligible by the standard benchmarks): a rank test on
    60M rows is nearly always "significant", δ says whether the shift
    is material. Pure counting statistic — collapse each side to its
    distinct-value counts (l_quantity has a CONSTANT domain of 50
    values), cross the two ≤50-row count frames, and every sufficient
    statistic is exact int64 (n_a·n_b < 2⁵³ to ~9e7 rows/side — cast
    exactness documented) with ONE final division. SCALE: two
    map-side-combined value-count aggregates over the fact scan; the
    50×50 cross join is value-domain-sized, independent of row count."""
    q = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "R"))
        .select(
            F.col("l_returnflag").alias("f"),
            F.col("l_quantity").cast("bigint").alias("v"),
        )
    )
    ca = (
        q.filter(F.col("f") == "A")
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .select(F.col("v").alias("va"), F.col("c").alias("cca"))
    )
    cb = (
        q.filter(F.col("f") == "R")
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .select(F.col("v").alias("vb"), F.col("c").alias("ccb"))
    )
    x = ca.crossJoin(F.broadcast(cb)).agg(
        F.sum(
            F.when(F.col("va") > F.col("vb"), F.col("cca") * F.col("ccb"))
            .otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("gt"),
        F.sum(
            F.when(F.col("va") < F.col("vb"), F.col("cca") * F.col("ccb"))
            .otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("lt"),
    )
    nn = q.agg(
        F.sum(F.when(F.col("f") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("f") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    return x.crossJoin(F.broadcast(nn)).selectExpr(
        "n_a",
        "n_b",
        "gt AS n_gt",
        "lt AS n_lt",
        "CAST(gt - lt AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)"
        " AS cliffs_delta",
    )
