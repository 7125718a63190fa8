"""Advanced-analytics registry: iterative graph ranking, snapshot
drift-diff, Pareto skyline, time-weighted averages, inequality (Gini)
profiling, lakehouse compaction planning, kNN label voting, and robust
(MAD) outlier screening.

No reference counterpart (the reference stops at SQL views + pandas
cleaning, ref ``04_SQL_queries_for_KPI/KPIs.sql``); this is SURVEY.md
§7.5 extension surface — the operations a warehouse/training-data team
reaches for next, each expressed Spark-first and held to the
registry.py cross-engine determinism rules (exact int64/decimal sums;
every surfaced double is a bounded number of IEEE ops over exact
integers; unique window tiebreakers everywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import exact as ex
from data_warehousing_assignment_spark.operators import analytics as an
from data_warehousing_assignment_spark.operators import diff as dff
from data_warehousing_assignment_spark.operators import graph as gr
from data_warehousing_assignment_spark.operators import similarity as sim
from data_warehousing_assignment_spark.operators import timeseries as ts
from data_warehousing_assignment_spark.registry import dec, query, t
from data_warehousing_assignment_spark.registry_extensions import (
    _HYBRID_C0_SQL,
    _QSAMPLE_WHERE,
    _exact_top,
    _hybrid_fused_ctes,
    _ivf_cand_ctes,
    audit_sample,
    hybrid_fused_frame,
)


# --------------------------------------------------------------------------
# iterative graph ranking
# --------------------------------------------------------------------------

_PAGERANK_ORACLE = """
    WITH cs AS (
      SELECT DISTINCT 'C' || CAST(o.o_custkey AS VARCHAR) AS c,
                      'S' || CAST(l.l_suppkey AS VARCHAR) AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM cs
      UNION ALL
      SELECT s AS src, c AS dst FROM cs
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
    c1 AS (SELECT e.dst AS node, SUM(r.r // d.d) AS csum
           FROM edges e JOIN r0 r ON e.src = r.node
                        JOIN deg d ON e.src = d.src GROUP BY 1),
    r1 AS (SELECT n.node,
                  CAST(150000000 + (85 * COALESCE(c1.csum, 0)) // 100
                       AS BIGINT) AS r
           FROM nodes n LEFT JOIN c1 ON n.node = c1.node),
    c2 AS (SELECT e.dst AS node, SUM(r.r // d.d) AS csum
           FROM edges e JOIN r1 r ON e.src = r.node
                        JOIN deg d ON e.src = d.src GROUP BY 1),
    r2 AS (SELECT n.node,
                  CAST(150000000 + (85 * COALESCE(c2.csum, 0)) // 100
                       AS BIGINT) AS r
           FROM nodes n LEFT JOIN c2 ON n.node = c2.node),
    c3 AS (SELECT e.dst AS node, SUM(r.r // d.d) AS csum
           FROM edges e JOIN r2 r ON e.src = r.node
                        JOIN deg d ON e.src = d.src GROUP BY 1),
    r3 AS (SELECT n.node,
                  CAST(150000000 + (85 * COALESCE(c3.csum, 0)) // 100
                       AS BIGINT) AS r
           FROM nodes n LEFT JOIN c3 ON n.node = c3.node)
    SELECT node, r AS rank_i FROM r3
"""


@query("op-ext-pagerank", oracle=_PAGERANK_ORACLE)
def op_ext_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (3 iterations, d=0.85) over the symmetrized
    customer↔supplier trade graph — "which counterparties matter most".
    Float PageRank can't cross an engine boundary (summation-order low
    bits flip ranks), so ranks are int64 fixed-point with floor-divided
    contributions (graph.pagerank_fixed_point): bit-identical in any
    engine, one shuffle per iteration, rank rows are two int64s."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = cs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(cs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    return gr.pagerank_fixed_point(edges, iters=3, damping_pct=85)


# --------------------------------------------------------------------------
# snapshot drift diff
# --------------------------------------------------------------------------


@query(
    "op-ext-snapshot-diff",
    oracle=f"""
    WITH o96 AS (
      SELECT o_custkey,
             {ex.sum_cents('o_totalprice')}
               AS rev
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
    ),
    o97 AS (
      SELECT o_custkey,
             {ex.sum_cents('o_totalprice')}
               AS rev
      FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1
    )
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS c_custkey,
           CASE WHEN a.o_custkey IS NULL THEN 'added'
                WHEN b.o_custkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           a.rev AS old_rev_cents,
           b.rev AS new_rev_cents,
           COALESCE(b.rev, 0) - COALESCE(a.rev, 0) AS delta_cents
    FROM o96 a FULL OUTER JOIN o97 b ON a.o_custkey = b.o_custkey
    WHERE a.o_custkey IS NULL OR b.o_custkey IS NULL OR a.rev <> b.rev
    """,
)
def op_ext_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift diff (diff.snapshot_diff): per-customer revenue in
    1996 vs 1997 classified added / removed / changed with an exact
    cents delta — the "what moved between these two snapshot versions"
    audit every warehouse backfill needs. ONE full-outer equi-join on
    the key; classification is row-local; unchanged rows never leave
    the join."""
    orders = t(spark, sf_dir, "orders")

    def year_rev(year: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .groupBy(F.col("o_custkey").alias("c_custkey"))
            .agg(
                F.expr(ex.sum_cents("o_totalprice")).alias("rev_cents")
            )
        )

    d = dff.snapshot_diff(
        year_rev(1996), year_rev(1997), ["c_custkey"], ["rev_cents"]
    )
    return d.select(
        "c_custkey",
        "change_type",
        F.col("old_rev_cents"),
        F.col("new_rev_cents"),
        (
            F.coalesce("new_rev_cents", F.lit(0))
            - F.coalesce("old_rev_cents", F.lit(0))
        ).alias("delta_cents"),
    )


# --------------------------------------------------------------------------
# Pareto skyline
# --------------------------------------------------------------------------


@query(
    "op-ext-skyline",
    oracle=f"""
    WITH pts AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
             {ex.cents('l_extendedprice')} AS price_cents, COUNT(*) AS n_points
      FROM lineitem GROUP BY 1, 2, 3
    ),
    flagged AS (
      SELECT *,
        COALESCE(MAX(price_cents) OVER (
            PARTITION BY l_returnflag ORDER BY qty
            RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
          >= price_cents, FALSE)
        OR (MAX(price_cents) OVER (
            PARTITION BY l_returnflag ORDER BY qty
            RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
          > price_cents) AS dom
      FROM pts
    )
    SELECT l_returnflag, qty, price_cents, n_points
    FROM flagged WHERE NOT dom
    """,
)
def op_ext_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier per return flag: lineitems not weakly dominated
    in (quantity, price) — the multi-objective "best tradeoff" screen.
    analytics.skyline_2d replaces the naive O(n²) NOT-EXISTS with a
    per-qty slice max + an O(n) running max over the DESC slice frame
    (Spark's unbounded-FOLLOWING frame recomputes per row — O(n²),
    measured as a hang at 600 k points — so the textbook RANGE-frame
    form is deliberately avoided engine-side). The oracle states that
    textbook window form as the independent check; pytest pins the
    quadratic definition."""
    pts = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("qty"),
        (dec("l_extendedprice") * 100).cast("bigint").alias("price_cents"),
    )
    return an.skyline_2d(pts, ["l_returnflag"], "qty", "price_cents")


# --------------------------------------------------------------------------
# time-weighted average
# --------------------------------------------------------------------------


@query(
    "op-ext-time-weighted-avg",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             {ex.cents('value')} AS vc
      FROM events
    ),
    seg AS (
      SELECT user_id, us, vc,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS next_us
      FROM ev
    ),
    agg AS (
      SELECT user_id, COUNT(*) AS n_obs,
             SUM(CAST(vc AS DECIMAL(38,0)) * (next_us - us)) AS num,
             MAX(us) - MIN(us) AS span_us
      FROM seg GROUP BY 1
    )
    SELECT user_id, n_obs,
           CAST(span_us // 1000000 AS BIGINT) AS span_s,
           CAST(num AS DOUBLE) / CAST(span_us AS DOUBLE) / 100.0 AS twa_value
    FROM agg WHERE span_us > 0
    """,
)
def op_ext_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user (LOCF weighting — the
    TimescaleDB ``time_weight`` shape): each observation counts for how
    LONG it held, not how often the sensor fired — the correct average
    for irregularly-sampled series. Exact decimal numerator, two final
    IEEE divides (timeseries.time_weighted_avg); one shuffle total."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("_us"),
        (dec("value") * 100).cast("bigint").alias("_vc"),
    )
    return ts.time_weighted_avg(ev, "user_id", "_us", "_vc", "event_id")


# --------------------------------------------------------------------------
# inequality profiling (Gini)
# --------------------------------------------------------------------------


@query(
    "op-ext-gini",
    oracle=f"""
    WITH cust AS (
      SELECT c.c_nationkey, o.o_custkey,
             {ex.sum_cents('o.o_totalprice')}
               AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT c_nationkey, x,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY x, o_custkey) AS rk
      FROM cust
    ),
    agg AS (
      SELECT c_nationkey, COUNT(*) AS n_customers,
             SUM(CAST(x AS DECIMAL(38,0))) AS s,
             SUM(CAST(rk AS DECIMAL(38,0)) * x) AS a
      FROM ranked GROUP BY 1
    )
    SELECT n.n_name AS nation, g.n_customers,
           CAST(g.s AS DOUBLE) / 100.0 AS total_spend,
           CAST(2 * g.a AS DOUBLE) / CAST(g.n_customers * g.s AS DOUBLE)
             - CAST(g.n_customers + 1 AS DOUBLE)
               / CAST(g.n_customers AS DOUBLE) AS gini
    FROM agg g JOIN nation n ON g.c_nationkey = n.n_nationkey
    """,
)
def op_ext_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer spend — the skew profile
    that tells a pipeline whether a key distribution needs salting
    before it needs a bigger cluster. Exact form: G = 2·Σi·xᵢ/(n·Σx) −
    (n+1)/n over cents with row_number ranks (unique tiebreaker), so
    every input to the two final IEEE divides is an exact integer.
    Ranking shuffles once on nation (25 partitions of customer-dim
    size); the rollup reuses the same key."""
    cust = (
        t(spark, sf_dir, "orders")
        .join(
            t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.expr(ex.sum_cents("o_totalprice")).alias("x"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("x", "o_custkey")
    ranked = cust.withColumn("rk", F.row_number().over(w))
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("x")).alias("a"),
    )
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return agg.join(
        F.broadcast(nation), agg["c_nationkey"] == nation["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        "n_customers",
        (F.col("s").cast("double") / 100.0).alias("total_spend"),
        (
            (F.col("a") * 2).cast("double")
            / (F.col("n_customers").cast("decimal(38,0)") * F.col("s")).cast(
                "double"
            )
            - (F.col("n_customers") + 1).cast("double")
            / F.col("n_customers").cast("double")
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# lakehouse compaction planning
# --------------------------------------------------------------------------


@query(
    "op-ext-compaction-plan",
    oracle="""
    WITH f AS (
      SELECT source, doc_id, n_chars,
             COALESCE(SUM(n_chars) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prior
      FROM documents
    )
    SELECT source, CAST(prior // 4000 AS BIGINT) AS group_id,
           COUNT(*) AS n_files, CAST(SUM(n_chars) AS BIGINT) AS group_chars,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM f GROUP BY 1, 2
    """,
)
def op_ext_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the Iceberg/Delta ``OPTIMIZE``
    bin-pack step): files ordered by id within each table partition,
    grouped by cumulative-size bucketing — group = floor(exclusive
    running size / target) — so every output group lands at
    target-size + at most one file, in ONE window pass. Documents stand
    in as the file manifest (n_chars = bytes, target 4000). At 100 TB
    the manifest is millions of rows, not the data itself — this plan
    costs one partition-keyed sort however big the lake is."""
    f = t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        "n_chars",
        F.coalesce(
            F.sum("n_chars").over(
                Window.partitionBy("source")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("prior"),
    )
    return (
        f.withColumn("group_id", F.expr("prior div 4000"))
        .groupBy("source", "group_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").alias("group_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --------------------------------------------------------------------------
# kNN label voting
# --------------------------------------------------------------------------

_KNN_ORACLE = f"""
    WITH {sim.oracle_vectors()},
    {_exact_top("top", "vec_id % 100 = 0", 5)},
    votes AS (
      SELECT t.query_id, e.label, COUNT(*) AS n
      FROM top t JOIN embeddings e ON t.neighbor_id = e.vec_id
      GROUP BY 1, 2
    ), pred AS (
      SELECT query_id, label AS pred_label, CAST(n AS BIGINT) AS n_votes
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY n DESC, label) AS rn
            FROM votes)
      WHERE rn = 1
    )
    SELECT p.query_id, p.pred_label, p.n_votes,
           e.label AS true_label,
           (p.pred_label = e.label) AS is_correct
    FROM pred p JOIN embeddings e ON p.query_id = e.vec_id
"""


@query("op-ext-knn-classify", oracle=_KNN_ORACLE)
def op_ext_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification by majority vote (k=5, ties → smallest
    label): predict each held-out query vector's label from its
    nearest neighbors — the standard embedding-quality probe run over
    every new encoder. Rides the exact quantized-int64 cosine top-k
    (similarity.brute_force_cosine_topk, same machinery as
    op-ext-ann-bruteforce — the IVF/LSH variants are the drop-in scale
    path); the vote is a k-row-per-query count + WindowGroupLimit."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    topk = sim.brute_force_cosine_topk(emb, queries, k=5)
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(labels, topk["neighbor_id"] == labels["vec_id"])
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n"), F.asc("label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("label").alias("pred_label"),
            F.col("n").alias("n_votes"),
        )
    )
    truth = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return pred.join(F.broadcast(truth), on="query_id").withColumn(
        "is_correct", F.col("pred_label") == F.col("true_label")
    )


# --------------------------------------------------------------------------
# retrieval evaluation: MRR / NDCG@k over the exact cosine ranking
# --------------------------------------------------------------------------

_RM_K = 10
#: fixed-point NDCG discount weights w_r = round(1e9 / log2(r+1)),
#: computed ONCE in Python and embedded as identical integer literals in
#: both engines — log2() never runs engine-side, so the metric is exact
#: integer arithmetic everywhere (same trick as the _sdiv fixed points).
_RM_W = [round(1e9 / __import__("math").log2(r + 1)) for r in range(1, _RM_K + 1)]
#: ideal-DCG prefix sums: IDCG for m relevant results in the top-k
_RM_P = [0]
for _w in _RM_W:
    _RM_P.append(_RM_P[-1] + _w)

_RM_DISC_SQL = "CASE rank " + " ".join(
    f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_RM_W)
) + " END"
_RM_IDCG_SQL = "CASE n_rel " + " ".join(
    f"WHEN {m} THEN {p}" for m, p in enumerate(_RM_P)
) + " END"


def _metrics_tail_sql(top_cte: str) -> str:
    """The exact fixed-point MRR/NDCG@10 aggregation over a ranked-list
    CTE ``top_cte(query_id, neighbor_id, rank)`` with label relevance —
    ONE definition shared by the retrieval-metrics, fusion-gain and
    fusion-baseline oracles, so every ranking is graded by literally the
    same arithmetic (that's what makes the fusion delta a measured
    gain)."""
    return f"""
    rel AS (
      SELECT t.query_id, ql.label AS true_label, t.rank,
             CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS is_rel
      FROM {top_cte} t
      JOIN embeddings ql ON ql.vec_id = t.query_id
      JOIN embeddings nl ON nl.vec_id = t.neighbor_id
    ),
    per_q AS (
      SELECT query_id, true_label,
             MIN(CASE WHEN is_rel = 1 THEN rank END) AS first_rel,
             CAST(SUM(is_rel * ({_RM_DISC_SQL})) AS BIGINT) AS dcg_x1e9,
             CAST(SUM(is_rel) AS BIGINT) AS n_rel
      FROM rel GROUP BY 1, 2
    )
    SELECT true_label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_hit,
           CAST(SUM(COALESCE(1000000000 // first_rel, 0)) AS BIGINT)
             AS sum_rr_x1e9,
           CAST(SUM(dcg_x1e9) AS BIGINT) AS sum_dcg_x1e9,
           CAST(SUM({_RM_IDCG_SQL}) AS BIGINT) AS sum_idcg_x1e9
    FROM per_q GROUP BY 1
    """


def _retrieval_metrics_over(top: DataFrame, emb: DataFrame) -> DataFrame:
    """Engine twin of :func:`_metrics_tail_sql` over a ranked frame
    ``(query_id, neighbor_id, rank)`` — the one engine tail of
    op-ext-retrieval-metrics, op-ext-fusion-gain and
    op-ext-fusion-baseline, with the same discount and IDCG literals.

    Join strategy (r13 verdict #7 + the same defect class as #1): the
    label frames are CORPUS-SIZED (one row per embedding — a broadcast
    hint on them is a designed-in 100 TB driver OOM, invisible at tested
    SFs), while ``top`` is Q-BOUNDED by construction (≤ _RM_K·|Q| rows).
    So the broadcast hints go on the rank-bounded side of BOTH label
    joins — the corpus side streams with zero exchange; pinned in
    tests/test_plan_shapes.py::test_retrieval_metrics_broadcasts_rank_frame.
    The joined rows (≤ _RM_K·|Q|) are then hash-partitioned once on the
    query's label: a query has one label, so that one shuffle serves
    both the per-query and the per-label aggregate."""
    qlab = emb.selectExpr("vec_id AS query_id", "label AS true_label")
    nlab = emb.selectExpr("vec_id AS neighbor_id", "label AS _nl")
    rel = (
        F.broadcast(F.broadcast(top).join(qlab, "query_id"))
        .join(nlab, "neighbor_id")
        .selectExpr(
            "query_id", "true_label", "rank",
            "CAST(_nl = true_label AS BIGINT) AS is_rel",
        )
        .repartition("true_label")
    )
    per_q = rel.groupBy("query_id", "true_label").agg(
        F.expr("min(CASE WHEN is_rel = 1 THEN rank END) AS first_rel"),
        F.expr(f"CAST(sum(is_rel * ({_RM_DISC_SQL})) AS BIGINT) AS dcg_x1e9"),
        F.expr("CAST(sum(is_rel) AS BIGINT) AS n_rel"),
    )
    return per_q.groupBy("true_label").agg(
        F.expr("count(1) AS n_queries"),
        F.expr(
            "CAST(sum(CAST(first_rel IS NOT NULL AS BIGINT)) AS BIGINT)"
            " AS n_with_hit"
        ),
        F.expr(
            "CAST(sum(coalesce(1000000000 div first_rel, 0)) AS BIGINT)"
            " AS sum_rr_x1e9"
        ),
        F.expr("CAST(sum(dcg_x1e9) AS BIGINT) AS sum_dcg_x1e9"),
        F.expr(f"CAST(sum({_RM_IDCG_SQL}) AS BIGINT) AS sum_idcg_x1e9"),
    )


@query(
    "op-ext-retrieval-metrics",
    oracle=f"""
    WITH {sim.oracle_vectors()},
    {_exact_top("top", "vec_id % 100 = 0", _RM_K)},
    {_metrics_tail_sql("top")}
    """,
)
def op_ext_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation — exact MRR and NDCG@10 per label class for
    the label-retrieval task over the embedding corpus (queries =
    vec_id%100, relevance = neighbor shares the query's label, ranking
    = the exact quantized-cosine top-k every ANN op in this repo is
    anchored to). The metrics every retrieval/RAG pipeline reports
    before swapping encoders — and the exact ground layer under an
    approximate variant: rerunning with lsh/ivf_cosine_topk instead of
    brute force measures THEIR quality drop with the same arithmetic.

    Exactness: the NDCG log2 discounts and IDCG prefix sums are
    precomputed in Python as ×1e9 integers and embedded as IDENTICAL
    literals in both engines (log2 never runs engine-side); reciprocal
    ranks are integer division. Every surfaced column is an exact
    BIGINT sum. 100 TB: top-k is the documented O(Q·C) exact anchor
    (IVF/LSH are the scale path); the metric aggregation is two
    map-side-combined passes over k·|Q| rows."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    topk = sim.brute_force_cosine_topk(emb, queries, k=_RM_K)
    return _retrieval_metrics_over(
        topk.select("query_id", "neighbor_id", "rank"), emb
    )


# --------------------------------------------------------------------------
# fusion evaluation: the retrieval metrics over the HYBRID ranking
# --------------------------------------------------------------------------


@query(
    "op-ext-fusion-gain",
    oracle=f"""
    {_hybrid_fused_ctes()},
    ftop AS ({sim.oracle_top(
        "fused", _RM_K, "rrf_micro DESC", cols="query_id, neighbor_id, rank"
    )}),
    {_metrics_tail_sql("ftop")}
    """,
)
def op_ext_fusion_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval metrics over the HYBRID ranking (r13, closing the
    fusion loop): exact MRR and NDCG@10 per label class for the fused
    BM25×IVF RRF list — the same fixed-point arithmetic as
    op-ext-retrieval-metrics (log2 discounts precomputed as ×1e9
    integer literals, reciprocal ranks integer-divided), so comparing
    the two ops' outputs IS the measured fusion gain a retrieval stack
    reads before shipping a hybrid ranker. The ranking side is the
    shared hybrid_fused_frame / _hybrid_fused_ctes body (fixed
    100-query md5 audit sample, Q-bounded at scale); relevance =
    neighbor shares the query's label. SCALE: metric aggregation is
    two map-side-combined passes over 10·|Q| rank rows on top of the
    hybrid pipeline's documented shapes."""
    top = sim.top_per_query(
        hybrid_fused_frame(spark, sf_dir), "rrf_micro DESC, neighbor_id", _RM_K
    ).select("query_id", "neighbor_id", "rank")
    return _retrieval_metrics_over(top, t(spark, sf_dir, "embeddings"))


@query(
    "op-ext-fusion-baseline",
    oracle=f"""
    {_ivf_cand_ctes(_HYBRID_C0_SQL, query_where=_QSAMPLE_WHERE)},
    {sim.oracle_cosine("scored", "cand")},
    dtop AS ({sim.oracle_top("scored", _RM_K, cols="query_id, neighbor_id, rank")}),
    {_metrics_tail_sql("dtop")}
    """,
)
def op_ext_fusion_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The like-for-like CONTROL for op-ext-fusion-gain: the identical
    fixed-point MRR/NDCG@10 arithmetic (shared _metrics_tail_sql /
    _retrieval_metrics_over bodies) over the DENSE-ONLY IVF ranking —
    the same cost-balanced-k*/4-probe index the hybrid's dense leg
    probes (auto_n_clusters / the shared _HYBRID_C0_SQL kk CTE, r13
    verdict #2; at the pinned Q=100 sample k* floors at 16 for every
    tested corpus, so values are unchanged from the former constant) —
    on the SAME md5-ordered 100-query audit sample. Subtracting this op's
    per-label sums from op-ext-fusion-gain's is the exact measured
    fusion gain: same queries, same relevance labels, same metric
    literals, only the ranking differs. (op-ext-retrieval-metrics is
    NOT that control — it grades the exact brute-force ranking on the
    %100 modulus spine, a different query set and a different ranking
    ceiling.) SCALE: the probed-cell scan + 10·|Q| metric rows; Q
    pinned at 100."""
    from data_warehousing_assignment_spark.operators import ivf as iv

    emb = t(spark, sf_dir, "embeddings")
    top = iv.ivf_cosine_topk(
        emb, audit_sample(emb), k=_RM_K, n_clusters="auto", n_probe=4
    ).select("query_id", "neighbor_id", "rank")
    return _retrieval_metrics_over(top, emb)


# --------------------------------------------------------------------------
# robust (MAD) outlier screening
# --------------------------------------------------------------------------


@query(
    "op-ext-mad-outliers",
    oracle=f"""
    WITH pc AS (SELECT l_returnflag, 2 * {ex.cents('l_extendedprice')} AS c2
                FROM lineitem),
    med AS (SELECT l_returnflag, quantile_cont(c2, 0.5) AS m2
            FROM pc GROUP BY 1),
    dev AS (SELECT p.l_returnflag, 2 * abs(p.c2 - m.m2) AS dev4
            FROM pc p JOIN med m USING (l_returnflag)),
    mad AS (SELECT l_returnflag, quantile_cont(dev4, 0.5) AS mad4
            FROM dev GROUP BY 1)
    SELECT d.l_returnflag, COUNT(*) AS n_rows,
           MIN(m.mad4) / 400.0 AS mad_dollars,
           CAST(SUM(CASE WHEN d.dev4 > 4.4478 * m.mad4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (l_returnflag)
    GROUP BY 1
    """,
)
def op_ext_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per flag: |x − median| > 3·1.4826·MAD —
    the median-absolute-deviation rule that, unlike the 3σ z-score
    (op-ext-zscore-outliers), is not itself dragged by the outliers it
    hunts. Exactness trick: prices enter as DOUBLED cents so every
    median interpolation midpoint is integer-valued, and deviations are
    doubled again before the MAD percentile — no non-representable
    value ever crosses the engine boundary; the threshold compare is
    one IEEE multiply. Exact percentiles sort per group — the
    approx_percentile sketch (op-ext-approx-quantile) is the 100 TB
    path, anchored by this exact twin."""
    pc = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        ((dec("l_extendedprice") * 100).cast("bigint") * 2).alias("c2"),
    )
    med = pc.groupBy("l_returnflag").agg(
        F.expr("percentile(c2, 0.5)").alias("m2")
    )
    dev = pc.join(F.broadcast(med), on="l_returnflag").select(
        "l_returnflag", (F.abs(F.col("c2") - F.col("m2")) * 2).alias("dev4")
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.expr("percentile(dev4, 0.5)").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), on="l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.min("mad4") / 400.0).alias("mad_dollars"),
            F.sum(
                F.when(F.col("dev4") > F.lit(4.4478) * F.col("mad4"), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# incremental ingest dedup
# --------------------------------------------------------------------------


@query(
    "op-ext-dedup-incremental",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
      FROM documents
    ),
    batch AS (SELECT * FROM d WHERE doc_id % 5 = 0),
    corpus AS (SELECT DISTINCT h FROM d WHERE doc_id % 5 <> 0),
    firsts AS (SELECT h, MIN(doc_id) AS first_id FROM batch GROUP BY 1)
    SELECT b.doc_id,
           CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.doc_id > f.first_id THEN 'dup_in_batch'
                ELSE 'unique' END AS status
    FROM batch b
    LEFT JOIN corpus c ON b.h = c.h
    JOIN firsts f ON b.h = f.h
    """,
)
def op_ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the DAILY form of corpus dedup: a new
    crawl batch (doc_id % 5 = 0 stands in for "today") is classified
    against the standing corpus WITHOUT re-deduping the corpus itself:
    'dup_of_corpus' (hash already ingested), 'dup_in_batch' (first
    same-hash batch doc wins), or 'unique'. Everything shuffles on the
    32-char hash, never bodies; the corpus side reduces to DISTINCT
    hashes before the join — at 100 TB that is the hash index a real
    ingest keeps materialized, so per-batch cost is O(batch + matching
    hash partitions), not O(corpus)."""
    from data_warehousing_assignment_spark.operators import dedup as dd  # noqa: F401

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("h"),
    )
    batch = d.filter(F.col("doc_id") % 5 == 0)
    corpus = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select("h")
        .distinct()
        .withColumn("_in_corpus", F.lit(True))
    )
    firsts = batch.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    return (
        batch.join(corpus, on="h", how="left")
        .join(firsts, on="h")
        .select(
            "doc_id",
            F.when(F.col("_in_corpus").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("doc_id") > F.col("first_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("unique"))
            .alias("status"),
        )
    )


# --------------------------------------------------------------------------
# zone-map manifest stats (data skipping)
# --------------------------------------------------------------------------


@query(
    "op-ext-zonemap",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS part_month,
           COUNT(*) AS n_rows,
           MIN({ex.cents('o_totalprice')})
             AS min_cents,
           MAX({ex.cents('o_totalprice')})
             AS max_cents,
           (MAX({ex.cents('o_totalprice')})
             < 40000000) AS skippable_under_400k
    FROM orders GROUP BY 1
    """,
)
def op_ext_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map manifest for the orders fact partitioned by month —
    exactly the per-file min/max stats Parquet footers and
    Iceberg/Delta manifests store, plus the skip decision they enable:
    a predicate ``o_totalprice > 400k`` can skip every partition whose
    max is below the bound WITHOUT reading it. ONE map-side-combined
    aggregate builds the whole manifest; at 100 TB this is the
    data-skipping index that turns full scans into partition reads."""
    o = t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("part_month"),
        (dec("o_totalprice") * 100).cast("bigint").alias("_pc"),
    )
    return o.groupBy("part_month").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("_pc").alias("min_cents"),
        F.max("_pc").alias("max_cents"),
        (F.max("_pc") < 40000000).alias("skippable_under_400k"),
    )


# --------------------------------------------------------------------------
# Benford first-digit screen
# --------------------------------------------------------------------------

#: log10(1 + 1/d) literals, identical text in both engines so the doubles
#: are bit-identical (never evaluate log10 cross-engine)
_BENFORD = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}

_BENFORD_CASE_SQL = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {v}" for d, v in _BENFORD.items())
    + " END"
)


@query(
    "op-ext-benford",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (SELECT digit, COUNT(*) AS n_orders FROM digits GROUP BY 1)
    SELECT digit, n_orders,
           CAST(n_orders AS DOUBLE)
             / CAST(SUM(n_orders) OVER () AS DOUBLE) AS share,
           CAST({_BENFORD_CASE_SQL} AS DOUBLE) AS benford_share
    FROM counts
    """,
)
def op_ext_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen over order totals — the forensic DQ
    check for fabricated or truncated monetary data: observed
    first-digit shares next to the Benford expectation log10(1+1/d).
    The digit is exact (floor → int64 → leading char, no float log);
    shares are one IEEE division of exact counts; the expectation is a
    shared LITERAL per digit, never a cross-engine log10. One map-side
    aggregate + a 9-row global window."""
    digits = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("bigint")
            .alias("digit")
        )
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    w = Window.partitionBy()
    return counts.select(
        "digit",
        "n_orders",
        (
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(w).cast("double")
        ).alias("share"),
        F.expr(f"CAST({_BENFORD_CASE_SQL} AS DOUBLE)")
        .alias("benford_share"),
    )


# --------------------------------------------------------------------------
# A/B-test z-score
# --------------------------------------------------------------------------

_Z_EXPR = (
    "(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
    " - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
    " / sqrt(NULLIF("
    "   (CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
    "   * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
    "   * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)), 0.0))"
)


@query(
    "op-ext-abtest-ztest",
    oracle=f"""
    WITH s AS (
      SELECT user_id, MIN(epoch_us(ts)) AS signup_us
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > s.signup_us
        AND epoch_us(e.ts) <= s.signup_us + 86400000000
      GROUP BY 1
    ),
    u AS (
      SELECT s.user_id, s.user_id % 2 AS variant,
             CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS converted
      FROM s LEFT JOIN p ON s.user_id = p.user_id
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT)
          AS conv_a,
        CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT)
          AS conv_b
      FROM u
    )
    SELECT n_a, n_b, conv_a, conv_b,
           CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
           CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
           {_Z_EXPR} AS z_score
    FROM agg
    """,
)
def op_ext_abtest_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between the even/odd user-id variants on
    the windowed-funnel conversion (purchase within 24 h of first
    signup — the metric op-ext-funnel-windowed materializes) — the
    experimentation readout every product pipeline ships. All inputs
    to the closed form are exact integer counts; the z statistic is
    ONE shared expression tree of IEEE ops (_Z_EXPR — identical text
    in both engines, denominator NULLIF-guarded so a degenerate
    all-convert split yields NULL, not an engine-specific inf). The
    funnel stages are keyed MIN aggregates on user_id; the final frame
    is one row."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_ns div 1000").alias("us")
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("signup_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, on="user_id")
        .filter(
            (F.col("us") > F.col("signup_us"))
            & (F.col("us") <= F.col("signup_us") + 86400000000)
        )
        .select("user_id")
        .distinct()
        .withColumn("_conv", F.lit(1))
    )
    u = s.join(p, on="user_id", how="left").select(
        "user_id",
        (F.col("user_id") % 2).alias("variant"),
        F.coalesce("_conv", F.lit(0)).alias("converted"),
    )
    agg = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.expr("CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)").alias("rate_a"),
        F.expr("CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)").alias("rate_b"),
        F.expr(_Z_EXPR).alias("z_score"),
    )


# --------------------------------------------------------------------------
# windowed conversion funnel
# --------------------------------------------------------------------------


@query(
    "op-ext-funnel-windowed",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(epoch_us(ts)) AS signup_us
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS purchase_us
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > s.signup_us
        AND epoch_us(e.ts) <= s.signup_us + 86400000000
      GROUP BY 1
    )
    SELECT s.user_id, s.signup_us, p.purchase_us,
           (p.user_id IS NOT NULL) AS converted_24h,
           CAST((p.purchase_us - s.signup_us) // 1000000 AS BIGINT)
             AS delay_s
    FROM s LEFT JOIN p ON s.user_id = p.user_id
    """,
)
def op_ext_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed conversion funnel: first signup → first purchase WITHIN
    24 h — the attribution-window form of op-ext-funnel (unbounded
    funnels overcount; real experiments bound the window). Both stages
    are map-side MIN aggregates on user_id and the join reuses that
    key: one shuffle end-to-end, per-user state is two int64s at any
    corpus size."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_ns div 1000").alias("us")
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("signup_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, on="user_id")
        .filter(
            (F.col("us") > F.col("signup_us"))
            & (F.col("us") <= F.col("signup_us") + 86400000000)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("purchase_us"))
    )
    return s.join(p, on="user_id", how="left").select(
        "user_id",
        "signup_us",
        "purchase_us",
        F.col("purchase_us").isNotNull().alias("converted_24h"),
        F.expr("(purchase_us - signup_us) div 1000000").alias("delay_s"),
    )


# --------------------------------------------------------------------------
# LSH quality metrics (precision / recall vs exact ground truth)
# --------------------------------------------------------------------------

from data_warehousing_assignment_spark.operators import dedup as dd  # noqa: E402
from data_warehousing_assignment_spark.registry_extensions import (  # noqa: E402
    _CAND_SQL,
    _SHINGLES,
)


@query(
    "op-ext-lsh-eval",
    oracle=f"""
    WITH sh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS s
                FROM documents),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                   AS DOUBLE) >= 0.5
    ),
    cand AS ({_CAND_SQL}),
    j AS (
      SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
             CASE WHEN t.doc_a IS NULL THEN 0 ELSE 1 END AS in_t,
             CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS in_c
      FROM truth t FULL OUTER JOIN cand c
        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT CAST(SUM(in_c) AS BIGINT) AS n_candidates,
           CAST(SUM(in_t) AS BIGINT) AS n_truth,
           CAST(SUM(in_t * in_c) AS BIGINT) AS n_hits,
           CAST(SUM(in_t * in_c) AS DOUBLE)
             / CAST(NULLIF(SUM(in_c), 0) AS DOUBLE) AS precision,
           CAST(SUM(in_t * in_c) AS DOUBLE)
             / CAST(NULLIF(SUM(in_t), 0) AS DOUBLE) AS recall
    FROM j
    """,
)
def op_ext_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality metrics for the MinHash-LSH pipeline:
    precision / recall of the banded candidates (k=12, 4×3) against
    EXACT shingle-Jaccard ≥ 0.5 ground truth — the measurement every
    approximate-dedup rollout needs before trusting its operating
    point. Ground truth comes from the PPJoin prefix-filter exact join
    (dedup.set_similarity_join_prefix — never all-pairs engine-side;
    the oracle brute-forces the same definition independently); the
    comparison is ONE full-outer join on the pair key + a single
    aggregate, and both ratios are one IEEE division of exact
    counts."""
    docs = t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.array_distinct(
            dd.word_shingles(dd.tokens("text"), 3)
        ).alias("s"),
    )
    truth = dd.set_similarity_join_prefix(sh, "doc_id", "s", 0.5).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    cand = dd.minhash_lsh_candidates(docs, "doc_id", "text", 12, 4)
    hits = "SUM(in_t * in_c)"
    return (
        truth.selectExpr("doc_a", "doc_b", "1 AS _t")
        .join(cand.selectExpr("doc_a", "doc_b", "1 AS _c"), ["doc_a", "doc_b"], "full_outer")
        .selectExpr("coalesce(_t, 0) AS in_t", "coalesce(_c, 0) AS in_c")
        .selectExpr(
            "CAST(SUM(in_c) AS BIGINT) AS n_candidates",
            "CAST(SUM(in_t) AS BIGINT) AS n_truth",
            f"CAST({hits} AS BIGINT) AS n_hits",
            f"CAST({hits} AS DOUBLE) / CAST(NULLIF(SUM(in_c), 0) AS DOUBLE) AS precision",
            f"CAST({hits} AS DOUBLE) / CAST(NULLIF(SUM(in_t), 0) AS DOUBLE) AS recall",
        )
    )


# --------------------------------------------------------------------------
# training-data mixture schedule
# --------------------------------------------------------------------------


@query(
    "op-ext-mixture-schedule",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN 3 ELSE 1 END AS weight,
             md5('mix:' || CAST(doc_id AS VARCHAR)) AS shuf
      FROM documents
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY shuf, doc_id) AS rn_in_source
      FROM w
    )
    SELECT doc_id, lang, CAST(weight AS BIGINT) AS weight,
           CAST(rn_in_source AS BIGINT) AS rn_in_source,
           CAST((rn_in_source * 1000) // weight AS BIGINT) AS sched_pos
    FROM r
    """,
)
def op_ext_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture schedule — the deterministic interleave a
    training pipeline uses to mix sources at fixed rates (3:1
    en-upweighting here): each source is shuffled by a content-addressed
    hash (stable across reruns/engines — no rand()), ranked within
    source, and assigned ``sched_pos = rn·1000 div weight`` so that
    reading in sched_pos order consumes sources proportionally to their
    weights at every prefix. NO global ranking window: the schedule key
    is row-local after one per-source ranking shuffle, and consumers
    sort by it lazily (a total sort only ever happens at sink time,
    range-partitioned). The weighted-interleave property is pinned in
    tests/test_advanced.py."""
    w = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.when(F.col("lang") == "en", 3).otherwise(1).alias("weight"),
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))).alias(
            "shuf"
        ),
    )
    r = w.withColumn(
        "rn_in_source",
        F.row_number().over(
            Window.partitionBy("lang").orderBy("shuf", "doc_id")
        ),
    )
    return r.select(
        "doc_id",
        "lang",
        F.col("weight").cast("bigint"),
        F.col("rn_in_source").cast("bigint"),
        F.expr("(rn_in_source * 1000) div weight")
        .cast("bigint")
        .alias("sched_pos"),
    )


# --------------------------------------------------------------------------
# k-hop reachability (BFS frontier)
# --------------------------------------------------------------------------


@query(
    "op-ext-khop",
    oracle="""
    WITH cs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    h0 AS (SELECT DISTINCT s_suppkey AS s FROM supplier
           WHERE s_suppkey % 17 = 0),
    h1 AS (SELECT DISTINCT cs.c FROM cs JOIN h0 ON cs.s = h0.s),
    h2 AS (
      SELECT DISTINCT cs.s FROM cs JOIN h1 ON cs.c = h1.c
      WHERE cs.s NOT IN (SELECT s FROM h0)
    )
    SELECT 'S' || CAST(s AS VARCHAR) AS node, CAST(0 AS BIGINT) AS hops
    FROM h0
    UNION ALL
    SELECT 'C' || CAST(c AS VARCHAR) AS node, CAST(1 AS BIGINT) AS hops
    FROM h1
    UNION ALL
    SELECT 'S' || CAST(s AS VARCHAR) AS node, CAST(2 AS BIGINT) AS hops
    FROM h2
    """,
)
def op_ext_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop reachability (BFS, k=2) from a supplier seed set over the
    customer↔supplier trade graph: "which counterparties are within two
    hops of these suppliers" — the blast-radius / exposure query every
    graph-shaped warehouse gets asked. Each hop is ONE distinct
    equi-join of the current frontier against the edge list (frontier
    rows are single keys); dedup against earlier hops is a key
    anti-join. Fixed k = fixed plan depth — no driver loop, no action
    per hop."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
    )
    h0 = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 17 == 0)
        .select(F.col("s_suppkey").alias("s"))
        .distinct()
    )
    h1 = cs.join(h0, on="s").select("c").distinct()
    h2 = (
        cs.join(h1, on="c")
        .select("s")
        .distinct()
        .join(h0, on="s", how="left_anti")
    )
    lab = lambda pfx, col: F.concat(F.lit(pfx), F.col(col).cast("string"))
    return (
        h0.select(lab("S", "s").alias("node"), F.lit(0).cast("bigint").alias("hops"))
        .unionByName(
            h1.select(
                lab("C", "c").alias("node"),
                F.lit(1).cast("bigint").alias("hops"),
            )
        )
        .unionByName(
            h2.select(
                lab("S", "s").alias("node"),
                F.lit(2).cast("bigint").alias("hops"),
            )
        )
    )


# --------------------------------------------------------------------------
# Poisson bootstrap confidence intervals
# --------------------------------------------------------------------------

_BOOT_G = 6  # hash groups: one md5 yields EIGHT 16-bit uniforms (128 bits)
#: Poisson(1) inverse-CDF thresholds on a 16-bit uniform: u16 < T[k] -> k
_POIS_T = [24109, 48218, 60273, 64291, 65296, 65497, 65530, 65535]


def _pois_case(u16: str) -> str:
    branches = " ".join(
        f"WHEN {u16} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {branches} ELSE 8 END"


#: one md5 per (replicate group g, line): its 32 hex digits are the 8
#: 16-bit uniforms of replicates 8g..8g+7
_BOOT_H = (
    "md5('boot:' || CAST(g AS STRING) || ':' || CAST(l_orderkey AS STRING)"
    " || ':' || CAST(l_linenumber AS STRING))"
)


@query(
    "op-ext-bootstrap-ci",
    oracle=f"""
    WITH li AS (
      SELECT l_returnflag, l_orderkey, l_linenumber, {ex.cents('l_extendedprice')} AS x
      FROM lineitem
    ),
    hashed AS (
      SELECT li.*, g.g, {_BOOT_H} AS h
      FROM li, (SELECT unnest(range(0, {_BOOT_G})) AS g) g
    ),
    rep AS (
      SELECT l_returnflag, x, g.g * 8 + j.j AS b,
             {_pois_case(ex.hex_int_oracle("h", "j.j * 4 + 1", 4))} AS w
      FROM hashed g, (SELECT unnest(range(0, 8)) AS j) j
    ),
    means AS (
      SELECT l_returnflag, b,
             CAST(SUM(CAST(w AS DECIMAL(38,0)) * x) AS DOUBLE)
               / CAST(NULLIF(SUM(w), 0) AS DOUBLE) AS m
      FROM rep GROUP BY 1, 2
    ),
    base AS (
      SELECT l_returnflag, COUNT(*) AS n_rows,
             CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)
               AS mean_cents
      FROM li GROUP BY 1
    )
    SELECT b.l_returnflag, b.n_rows,
           b.mean_cents / 100.0 AS mean_price,
           quantile_cont(m.m, 0.025) / 100.0 AS ci_lo,
           quantile_cont(m.m, 0.975) / 100.0 AS ci_hi
    FROM base b JOIN means m ON b.l_returnflag = m.l_returnflag
    GROUP BY 1, 2, 3
    """,
)
def op_ext_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean price per flag — the SCALABLE
    bootstrap (Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams", Google 2012): instead of B resamples-with-replacement
    (B full shuffles), every row draws a deterministic Poisson(1) weight
    per replicate from a content-addressed hash, so all 48 replicates
    accumulate in ONE map-side-combined pass and the shuffle carries
    |groups|·B partial sums. One md5 serves EIGHT replicates (128 bits =
    8 × 16-bit uniforms — 6 hashes/row, not 48; 32→6 s at sf0.1).
    Replicate means divide exact decimal sums; the CI is a percentile
    over the 48 replicate means (identical doubles in any engine — the
    Poisson inverse-CDF is integer thresholds on the 16-bit hash
    slices, never a cross-engine exp()). Pipeline body shared with the
    sf10 value pin via bootstrap_ci_frame (ADVICE r12: a pin that
    re-implements the pipeline inline attests the OLD pipeline once
    the op drifts)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        (dec("l_extendedprice") * 100).cast("bigint").alias("x"),
    )
    return bootstrap_ci_frame(li)


def bootstrap_ci_frame(li: DataFrame) -> DataFrame:
    """The exact Poisson-bootstrap pipeline over a prepared
    (l_returnflag, l_orderkey, l_linenumber, x-in-cents) frame —
    frame-parameterized so op-ext-bootstrap-ci (full lineitem) and
    tools/scale_pins.pin_bootstrap_ci (0.5% sf10 row sample) run ONE
    body and cannot drift apart."""
    hashed = li.withColumn(
        "g", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_G - 1)))
    ).withColumn("h", F.expr(_BOOT_H))
    rep = hashed.withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.lit(7)))
    ).select(
        "l_returnflag",
        "x",
        (F.col("g") * 8 + F.col("j")).alias("b"),
        F.expr(_pois_case(ex.hex_int("h", "j * 4 + 1", 4))).alias("w"),
    )
    means = rep.groupBy("l_returnflag", "b").agg(
        (
            F.sum(F.col("w").cast("decimal(38,0)") * F.col("x")).cast("double")
            / F.nullif(F.sum("w"), F.lit(0)).cast("double")
        ).alias("m")
    )
    base = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum(F.col("x").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_cents"),
    )
    return (
        base.join(means, on="l_returnflag")
        .groupBy("l_returnflag", "n_rows", "mean_cents")
        .agg(
            F.expr("percentile(m, 0.025) / 100.0").alias("ci_lo"),
            F.expr("percentile(m, 0.975) / 100.0").alias("ci_hi"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            (F.col("mean_cents") / 100.0).alias("mean_price"),
            "ci_lo",
            "ci_hi",
        )
    )


# --------------------------------------------------------------------------
# dataset profiling (the "dataset card" scan)
# --------------------------------------------------------------------------

_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@query(
    "op-ext-profile",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_val,
               CAST(MAX({c}) AS VARCHAR) AS max_val,
               CAST(SUM(length(CAST({c} AS VARCHAR))) AS DOUBLE) / COUNT({c})
                 AS avg_len
        FROM documents
        """
        for c in _PROFILE_COLS
    ),
)
def op_ext_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profile card — per-column row/null/exact-distinct counts,
    native-typed min/max (cast to string AFTER the aggregate, so
    numeric columns order numerically), and mean rendered length: the
    table every catalog (DataHub / dbt-profiler / Deequ) materializes
    before a dataset ships. ONE scan computes every metric for every
    column (a single wide aggregate; Spark plans the multi-distinct via
    expand), then a stack() unpivots the 1×N row to N column rows —
    profile cost is one pass however wide the table is. The oracle
    brute-forces the same metrics one column at a time."""
    d = t(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            (
                F.sum(F.length(F.col(c).cast("string"))).cast("double")
                / F.count(c)
            ).alias(f"{c}__avglen"),
        ]
    wide = d.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max,"
        f" {c}__avglen"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, min_val, max_val, avg_len)"
    )


# --------------------------------------------------------------------------
# FK / join-key discovery
# --------------------------------------------------------------------------

#: (label, child table, child col, parent table, parent col) — three true
#: FKs plus a deliberate negative control
_FK_CANDIDATES = [
    ("lineitem.l_orderkey->orders.o_orderkey",
     "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey",
     "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer.c_custkey",
     "orders", "o_custkey", "customer", "c_custkey"),
    # wrong-key control: joining orders to supplier on custkey=suppkey
    # is a schema mistake — containment exposes it decisively (~0.07)
    ("orders.o_custkey->supplier.s_suppkey",
     "orders", "o_custkey", "supplier", "s_suppkey"),
]


@query(
    "op-ext-fk-discovery",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{label}' AS candidate,
               (SELECT COUNT(DISTINCT {cc}) FROM {ct}) AS n_child_keys,
               (SELECT COUNT(DISTINCT {pc}) FROM {pt}) AS n_parent_keys,
               (SELECT COUNT(*) FROM
                  (SELECT DISTINCT {cc} FROM {ct}) c
                  JOIN (SELECT DISTINCT {pc} FROM {pt}) p ON c.{cc} = p.{pc})
                 AS n_contained,
               CAST((SELECT COUNT(*) FROM
                  (SELECT DISTINCT {cc} FROM {ct}) c
                  JOIN (SELECT DISTINCT {pc} FROM {pt}) p ON c.{cc} = p.{pc})
                 AS DOUBLE)
                 / (SELECT COUNT(DISTINCT {cc}) FROM {ct}) AS containment
        """
        for label, ct, cc, pt, pc in _FK_CANDIDATES
    ),
)
def op_ext_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK/join-key discovery by inclusion-dependency profiling: for each
    candidate (child, parent) column pair, exact distinct counts and
    the containment ratio |child ∩ parent| / |child| — 1.0 ⇒ a valid
    foreign key, fractional ⇒ a wrong join key (the custkey→suppkey
    control scores ~0.07). The schema-inference primitive behind automatic
    star-schema detection. Per pair: distinct-reduce each side (shuffle
    carries keys only) + one equi-join of the REDUCED key sets — never
    row-level joins; candidate pairs are metadata-sized."""
    out = None
    for label, ct, cc, pt, pc in _FK_CANDIDATES:
        child = t(spark, sf_dir, ct).select(F.col(cc).alias("k")).distinct()
        parent = t(spark, sf_dir, pt).select(F.col(pc).alias("k")).distinct()
        hit = child.join(parent, on="k", how="left_semi")
        row = (
            child.agg(F.count(F.lit(1)).alias("n_child_keys"))
            .crossJoin(parent.agg(F.count(F.lit(1)).alias("n_parent_keys")))
            .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_contained")))
            .select(
                F.lit(label).alias("candidate"),
                "n_child_keys",
                "n_parent_keys",
                "n_contained",
                (
                    F.col("n_contained").cast("double")
                    / F.col("n_child_keys")
                ).alias("containment"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# BPE merge-table learning
# --------------------------------------------------------------------------


@query(
    "op-ext-bpe-learn",
    oracle=r"""
    WITH uni AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents
    ),
    words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM uni WHERE len(w) > 0 GROUP BY 1
    ),
    syms AS (
      SELECT n, list_append(regexp_extract_all(w, '.'), '▁') AS s
      FROM words
    ),
    bg AS (
      SELECT unnest(list_transform(range(1, len(s)), i -> s[i])) AS l,
             unnest(list_transform(range(1, len(s)), i -> s[i + 1])) AS r,
             n
      FROM syms WHERE len(s) >= 2
    ),
    pc AS (SELECT l, r, CAST(SUM(n) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2),
    top AS (SELECT l, r, cnt FROM pc ORDER BY cnt DESC, l, r LIMIT 1)
    SELECT CAST(8 AS BIGINT) AS n_merges,
           CAST(1 AS BIGINT) AS ranks_contiguous,
           CAST(7 AS BIGINT) AS n_monotone,
           CAST(8 AS BIGINT) AS n_composed,
           l AS first_left, r AS first_right, cnt AS first_count
    FROM top
    """,
    eager=True,  # the merge loop collects each round at build
)
def op_ext_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 8 BPE merges from the documents corpus (Sennrich
    et al. 2016) — the tokenizer-training step of an LLM data pipeline.
    text.learn_bpe_merges does ONE corpus pass to build the
    (word, freq) vocab, then every merge round runs on the vocab alone
    (pair explode → map-side-combined count → 1-row argmax scalar →
    row-local left-to-right fold applying the merge) — at 100 TB the
    rounds cost vocab-sized shuffles, never corpus passes. The merge
    TABLE is driver-sized by definition (it ships inside the tokenizer
    binary).

    STRUCTURAL ORACLE (r12 verdict #3, the fn-uuid recipe): the full
    8-round loop is SQL-inexpressible (iterative driver argmax), but
    the learned table's STRUCTURE is oracle-predictable, so the
    registered query returns a 1-row structural audit instead of riding
    rows-only: ROUND 1 is exactly one SQL round of weighted pair
    counting — the oracle recomputes (first_left, first_right,
    first_count) VALUE-exactly with the same (cnt desc, l, r) tiebreak
    — and rank contiguity (1..8), monotone non-increasing selected
    counts (a theorem: every new pair occurrence consumes a merge site
    of the round's argmax, so round k+1's max ≤ round k's; 7 of 7
    transitions), and closure (each merge's left/right is a single
    char, the ▁ end-of-word marker, or the concat of an EARLIER merge;
    8 of 8) are invariants a broken learner breaks. The raw merge
    table stays available via text.learn_bpe_merges (pytest-pinned
    against a pure-Python reference BPE in tests/test_advanced.py) and
    ships frozen as text.BPE_MERGES_V1 for the oracle-exact encode
    path (op-ext-bpe-apply)."""
    from data_warehousing_assignment_spark.operators import text as tx

    merges = tx.learn_bpe_merges(
        t(spark, sf_dir, "documents"), "text", n_merges=8
    )
    ranks = [m[0] for m in merges]
    counts = [m[3] for m in merges]
    learned: set[str] = set()
    n_composed = 0
    for _, left, right, _ in merges:
        if all(len(s) == 1 or s in learned for s in (left, right)):
            n_composed += 1
        learned.add(left + right)
    # Degenerate/empty corpus: learn_bpe_merges returns [] (no pair ever
    # reaches the threshold). Emit the zero audit row instead of crashing
    # on merges[0] — the oracle mismatch then reports the failure through
    # the gate rather than as a Python IndexError (r13 advice 2).
    if not merges:
        row = (0, 1, 0, 0, None, None, None)
    else:
        row = (
            len(merges),
            int(ranks == list(range(1, len(merges) + 1))),
            sum(1 for i in range(1, len(counts)) if counts[i] <= counts[i - 1]),
            n_composed,
            merges[0][1],
            merges[0][2],
            merges[0][3],
        )
    return spark.createDataFrame(
        [row],
        "n_merges: bigint, ranks_contiguous: bigint, n_monotone: bigint,"
        " n_composed: bigint, first_left: string, first_right: string,"
        " first_count: bigint",
    )


from data_warehousing_assignment_spark.operators.text import (  # noqa: E402
    bpe_apply_oracle_sql,
)


@query("op-ext-bpe-apply", oracle=bpe_apply_oracle_sql())
def op_ext_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with a pre-learned BPE merge table (text.BPE_MERGES_V1 —
    the 12 merges op-ext-bpe-learn produces on this corpus, frozen the
    way a shipped tokenizer freezes merges.txt): per document, the
    post-merge token count alongside word and pre-merge symbol counts.
    This is the half of BPE that actually runs at 100 TB — and unlike
    the learning loop it is a pure Column expression (paren-encoded
    symbols + one replace() per merge rule, see text.bpe_apply_counts),
    so it gets a full exact DuckDB oracle where op-ext-bpe-learn is
    rows-only by nature (r8 verdict #4). Embarrassingly parallel, zero
    shuffle before the final per-doc projection; the merge table rides
    in the plan as literals — nothing to broadcast."""
    from data_warehousing_assignment_spark.operators import text as tx

    return tx.bpe_apply_counts(t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# declarative constraint suite (Deequ-style)
# --------------------------------------------------------------------------


@query(
    "op-ext-constraints",
    oracle="""
    SELECT 'orders.o_orderkey UNIQUE' AS constraint_name,
           (SELECT COUNT(*) FROM orders) AS n_checked,
           CAST((SELECT COALESCE(SUM(n - 1), 0) FROM
              (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey
               HAVING COUNT(*) > 1)) AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orders.o_custkey NOT NULL',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
    UNION ALL
    SELECT 'lineitem.l_quantity IN [1,50]',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem
            WHERE l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'lineitem.l_orderkey REFERENCES orders',
           (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem),
           (SELECT COUNT(*) FROM
              (SELECT DISTINCT l_orderkey FROM lineitem) c
            LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) p
              ON c.l_orderkey = p.o_orderkey
            WHERE p.o_orderkey IS NULL)
    UNION ALL
    SELECT 'orders.o_totalprice > 0',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
    """,
)
def op_ext_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (the Deequ/dbt-test
    shape, generalizing the reference's per-repair DQ log,
    ref ``A2_hr_etl.py:32-36``): key uniqueness, non-null, value-range,
    referential integrity, and positivity — one report row per
    constraint with checked/violation counts. Each check is a
    map-side-combined aggregate (uniqueness = groupBy on the key,
    RI = distinct-reduced anti-join); the report is metadata-sized
    however big the fact is. The cross-joined 1-row count frames are
    the sanctioned degenerate pattern (plan_audit ALLOWED)."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")

    def report(name: str, checked: DataFrame, violations: DataFrame):
        return (
            checked.crossJoin(violations)
            .select(
                F.lit(name).alias("constraint_name"),
                F.col("n_checked"),
                F.col("n_violations"),
            )
        )

    uniq = report(
        "orders.o_orderkey UNIQUE",
        orders.agg(F.count(F.lit(1)).alias("n_checked")),
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(
            F.coalesce(F.sum(F.col("n") - 1), F.lit(0))
            .cast("bigint")
            .alias("n_violations")
        ),
    )
    notnull = report(
        "orders.o_custkey NOT NULL",
        orders.agg(F.count(F.lit(1)).alias("n_checked")),
        orders.agg(
            F.count_if(F.col("o_custkey").isNull())
            .cast("bigint")
            .alias("n_violations")
        ),
    )
    rng = report(
        "lineitem.l_quantity IN [1,50]",
        li.agg(F.count(F.lit(1)).alias("n_checked")),
        li.agg(
            F.count_if(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
            )
            .cast("bigint")
            .alias("n_violations")
        ),
    )
    child = li.select(F.col("l_orderkey").alias("k")).distinct()
    parent = orders.select(F.col("o_orderkey").alias("k")).distinct()
    ri = report(
        "lineitem.l_orderkey REFERENCES orders",
        child.agg(F.count(F.lit(1)).alias("n_checked")),
        child.join(parent, on="k", how="left_anti").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_violations")
        ),
    )
    pos = report(
        "orders.o_totalprice > 0",
        orders.agg(F.count(F.lit(1)).alias("n_checked")),
        orders.agg(
            F.count_if(F.col("o_totalprice") <= 0)
            .cast("bigint")
            .alias("n_violations")
        ),
    )
    return uniq.unionByName(notnull).unionByName(rng).unionByName(ri).unionByName(pos)


# --------------------------------------------------------------------------
# incremental view maintenance (partial-aggregate merge)
# --------------------------------------------------------------------------


@query(
    "op-ext-ivm",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(SUM({ex.cents('l_extendedprice')}) AS BIGINT) AS rev_cents
    FROM lineitem WHERE l_shipdate < DATE '1997-01-01'
    GROUP BY 1
    """,
)
def op_ext_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the materialized per-flag rollup
    is kept current by MERGING the standing partial aggregates (rows
    shipped before 1996) with the new delta's partials (1996) instead
    of recomputing history — the Σ-combine at the heart of every
    incremental pipeline (count and sum are self-combinable; avg is
    maintained as sum+count). The oracle recomputes the post-merge view
    from scratch: merged partials must equal the full recompute
    EXACTLY, which integer cents guarantee at any scale. Each side is
    one map-side-combined agg; the merge shuffles |groups| rows."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_shipdate",
        (dec("l_extendedprice") * 100).cast("bigint").alias("_pc"),
    )

    def partials(pred) -> DataFrame:
        return (
            li.filter(pred)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("_pc").alias("rev_cents"),
            )
        )

    base = partials(F.col("l_shipdate") < F.lit("1996-01-01"))
    delta = partials(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    return (
        base.unionByName(delta)
        .groupBy("l_returnflag")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("rev_cents").cast("bigint").alias("rev_cents"),
        )
    )


# --------------------------------------------------------------------------
# incremental view maintenance for JOINS (signed-delta / Z-set algebra)
# --------------------------------------------------------------------------



@query(
    "op-ext-ivm-join",
    oracle=f"""
    WITH cust_new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 97 = 0 THEN 'MOVED'
                  ELSE c_mktsegment END AS seg
      FROM customer
    )
    SELECT cn.seg,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({ex.cents('o_totalprice')}) AS BIGINT) AS rev_cents
    FROM orders o JOIN cust_new cn ON o.o_custkey = cn.c_custkey
    GROUP BY 1
    """,
)
def op_ext_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view with UPDATES — the
    signed-delta (Z-set) algebra of DBSP / differential dataflow
    (Budiu et al., "DBSP: Automatic Incremental View Maintenance for
    Rich Query Languages"): the per-segment revenue view over
    orders⋈customer absorbs one batch containing BOTH new orders
    (1997+, weight +1) and customer-dimension updates (every %97
    customer moves segment: a −1 retraction of the old row plus a +1
    insertion of the new one). The view delta is the bilinear rule

        ΔV = ΔO⋈C ∪ O⋈ΔC ∪ ΔO⋈ΔC   (weights multiply)

    applied as signed contributions into the standing aggregate —
    NOTHING re-scans history: the old-orders⋈ΔC leg touches only the
    updated customers' orders, and the standing view merges |segments|
    rows. The oracle recomputes the post-update view from scratch;
    signed integer-cents arithmetic makes incremental ≡ recompute
    EXACT (retraction cancellation is integer cancellation).
    op-ext-ivm is the aggregate-only sibling; this is the join case
    every warehouse materialization actually needs. Idempotent-replay
    and retraction-correctness also pinned in tests/test_advanced.py.

    100 TB: the expensive leg (O_old⋈ΔC) is an equi-join pruned to the
    delta's keys (broadcast when the update batch is dim-sized); the
    standing view never re-aggregates history."""
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.expr(ex.cents("o_totalprice")).alias("_pc"),
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    is_new = F.year("o_orderdate") >= 1997
    o_old = orders.filter(~is_new).withColumn("z", F.lit(1))
    d_o = orders.filter(is_new).withColumn("z", F.lit(1))
    upd = F.col("c_custkey") % 97 == 0
    # customer update delta: retract old segment row, insert MOVED row
    d_c = (
        cust.filter(upd)
        .withColumn("z", F.lit(-1))
        .unionByName(
            cust.filter(upd)
            .withColumn("seg", F.lit("MOVED"))
            .withColumn("z", F.lit(1))
        )
    )

    def leg(o: DataFrame, c: DataFrame) -> DataFrame:
        return (
            o.join(
                F.broadcast(
                    c.select(
                        "c_custkey", "seg", F.col("z").alias("_zc")
                    )
                ),
                o["o_custkey"] == F.col("c_custkey"),
            )
            .select(
                "seg",
                (F.col("z") * F.col("_zc")).alias("w"),
                "_pc",
            )
        )

    # standing view V_old = O_old ⋈ C_old, kept as the aggregate
    v_old = leg(o_old, cust.withColumn("z", F.lit(1)))
    # ΔV legs: ΔO⋈C_old, O_old⋈ΔC, ΔO⋈ΔC
    dv = (
        leg(d_o, cust.withColumn("z", F.lit(1)))
        .unionByName(leg(o_old, d_c))
        .unionByName(leg(d_o, d_c))
    )
    return (
        v_old.unionByName(dv)
        .groupBy("seg")
        .agg(
            F.sum("w").cast("bigint").alias("n_orders"),
            F.sum(F.col("w") * F.col("_pc")).cast("bigint").alias(
                "rev_cents"
            ),
        )
        .filter(F.col("n_orders") > 0)  # fully-retracted groups vanish
    )


# --------------------------------------------------------------------------
# CUPED variance reduction
# --------------------------------------------------------------------------


@query(
    "op-ext-cuped",
    oracle=f"""
    WITH u AS (
      SELECT user_id, user_id % 2 AS variant,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                            AND ts < TIMESTAMP '2024-01-16'
                           THEN {ex.cents('value')} ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                            AND ts >= TIMESTAMP '2024-01-16'
                           THEN {ex.cents('value')} ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      FROM u
    ),
    th AS (
      SELECT n, sx,
             CAST(CAST(n AS DECIMAL(38,0)) * sxy
                  - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                    - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) AS theta
      FROM g
    ),
    v AS (
      SELECT variant, COUNT(*) AS n_users,
             SUM(CAST(x AS DECIMAL(38,0))) AS vx,
             SUM(CAST(y AS DECIMAL(38,0))) AS vy
      FROM u GROUP BY 1
    )
    SELECT CAST(v.variant AS BIGINT) AS variant, v.n_users,
           CAST(v.vy AS DOUBLE) / v.n_users / 100.0 AS mean_y,
           (CAST(v.vy AS DOUBLE) / v.n_users
            - th.theta * (CAST(v.vx AS DOUBLE) / v.n_users
                          - CAST(th.sx AS DOUBLE) / th.n)) / 100.0
             AS mean_y_adj,
           th.theta AS theta
    FROM v, th
    """,
)
def op_ext_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13) — the adjusted
    experiment readout every mature A/B platform ships: each user's
    post-period purchase value is shifted by θ·(pre-period value −
    grand mean), with θ = cov(x,y)/var(x), shrinking variance without
    biasing the treatment contrast. All moments come from exact
    DECIMAL(38,0) power sums over integer cents (one map-side pass over
    the per-user frame); θ and the adjusted means are a fixed handful
    of IEEE ops — deterministic cross-engine. The 1-row θ frame joins
    the 2-row variant frame (sanctioned degenerate cross join)."""
    ev = t(spark, sf_dir, "events")
    cents = (dec("value") * 100).cast("bigint")
    split = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    u = ev.groupBy(
        "user_id", (F.col("user_id") % 2).alias("variant")
    ).agg(
        F.sum(
            F.when((F.col("event_type") == "purchase") & split, cents)
            .otherwise(0)
        ).cast("bigint").alias("x"),
        F.sum(
            F.when((F.col("event_type") == "purchase") & ~split, cents)
            .otherwise(0)
        ).cast("bigint").alias("y"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")
    g = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d("x")).alias("sx"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x") * F.col("x")).alias("sxx"),
        F.sum(d("x") * F.col("y")).alias("sxy"),
    )
    th = g.select(
        "n",
        "sx",
        (
            (d("n") * F.col("sxy") - d("sx") * F.col("sy")).cast("double")
            / (d("n") * F.col("sxx") - d("sx") * F.col("sx")).cast("double")
        ).alias("theta"),
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(d("x")).alias("vx"),
        F.sum(d("y")).alias("vy"),
    )
    return v.crossJoin(F.broadcast(th)).select(
        F.col("variant").cast("bigint"),
        "n_users",
        (F.col("vy").cast("double") / F.col("n_users") / 100.0).alias(
            "mean_y"
        ),
        (
            (
                F.col("vy").cast("double") / F.col("n_users")
                - F.col("theta")
                * (
                    F.col("vx").cast("double") / F.col("n_users")
                    - F.col("sx").cast("double") / F.col("n")
                )
            )
            / 100.0
        ).alias("mean_y_adj"),
        F.col("theta"),
    )


# --------------------------------------------------------------------------
# Z-order (Morton) clustering layout
# --------------------------------------------------------------------------


def _morton16(a: str, b: str, dialect: str) -> str:
    """Bit-interleave two 16-bit ints into a 32-bit Morton key — the
    Z-order curve behind Delta OPTIMIZE ZORDER / Iceberg sort orders.
    Emitted as pure integer bit-ops in either dialect (Spark:
    shiftleft/shiftright; DuckDB: << >>), exact everywhere."""
    terms = []
    for i in range(16):
        if dialect == "spark":
            terms.append(
                f"shiftleft(shiftright({a}, {i}) & 1, {2 * i})"
                f" + shiftleft(shiftright({b}, {i}) & 1, {2 * i + 1})"
            )
        else:
            terms.append(
                f"((({a} >> {i}) & 1) << {2 * i})"
                f" + ((({b} >> {i}) & 1) << {2 * i + 1})"
            )
    return "(" + " + ".join(terms) + ")"


def _zorder_sql(dialect: str) -> str:
    day = (
        "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)"
        if dialect == "spark"
        else "CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)"
    )
    ck = "((o_custkey * 65535) // mck)"
    dy = "((day_no * 65535) // mday)"
    if dialect == "spark":
        ck, dy = ck.replace("//", "div"), dy.replace("//", "div")
    morton = _morton16(ck, dy, dialect)
    return f"""
    WITH raw AS (
      SELECT o_custkey, {day} AS day_no FROM orders
    ),
    mx AS (
      SELECT MAX(o_custkey) AS mck, MAX(day_no) AS mday FROM raw
    ),
    pts AS (
      SELECT o_custkey, day_no, {morton} AS zkey
      FROM raw, mx
    ),
    ks AS (
      SELECT GREATEST(1, (MAX(zkey) + 1) // 64) AS kz,
             GREATEST(1, (MAX(day_no) + 1) // 64) AS kd
      FROM pts
    ),
    zoned AS (
      SELECT 'zorder' AS layout, zkey // ks.kz AS file_id,
             o_custkey, day_no
      FROM pts, ks
      UNION ALL
      SELECT 'datesort' AS layout, day_no // ks.kd AS file_id,
             o_custkey, day_no
      FROM pts, ks
    ),
    files AS (
      SELECT layout, file_id, COUNT(*) AS n_rows,
             MIN(o_custkey) AS ck_lo, MAX(o_custkey) AS ck_hi,
             MIN(day_no) AS d_lo, MAX(day_no) AS d_hi
      FROM zoned GROUP BY 1, 2
    )
    SELECT layout, COUNT(*) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(SUM(ck_hi - ck_lo) AS DOUBLE) / COUNT(*) AS avg_ck_span,
           CAST(SUM(d_hi - d_lo) AS DOUBLE) / COUNT(*) AS avg_day_span,
           CAST(SUM(CASE WHEN ck_lo <= 42 AND 42 <= ck_hi
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS files_hit_ck42
    FROM files GROUP BY 1
    """.replace("//", "div" if dialect == "spark" else "//")


@query("op-ext-zorder", oracle=_zorder_sql("duckdb"))
def op_ext_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering layout audit — WHY multidimensional
    clustering beats single-key sorting for data skipping (the Delta
    ``OPTIMIZE ZORDER BY`` / Iceberg sort-order decision): orders are
    binned into files under (a) a Morton-interleaved
    (custkey, order-day) key and (b) a plain date sort, then each
    layout's per-file min/max zone maps are rolled up. The date-sorted
    layout leaves every file spanning ~the full custkey range (a
    custkey point predicate hits EVERY file); the Z-ordered layout
    bounds both dimensions, so the same predicate prunes to a handful —
    ``files_hit_ck42`` shows the difference as a number. Both dimensions are first normalized to a shared 16-bit domain
    (max-scaled — unequal bit widths would let one dimension's high
    bits dominate the curve, which is why real ZORDER implementations
    rank-normalize); the Morton key is then 32 integer bit-ops,
    row-local; binning is value-based (zkey
    ranges), (bin width adapts from a 1-row max-stats broadcast targeting ~64
    files), so NO global ranking window exists anywhere — at 100 TB
    this is exactly a clustered write's sort key + maxPartitionBytes
    file cut."""
    day = "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)"
    morton = _morton16(
        "((o_custkey * 65535) div mck)",
        "((day_no * 65535) div mday)",
        "spark",
    )
    raw = t(spark, sf_dir, "orders").selectExpr(
        "o_custkey", f"{day} AS day_no"
    )
    mx = raw.selectExpr(
        "MAX(o_custkey) AS mck", "MAX(day_no) AS mday"
    )
    pts = raw.crossJoin(F.broadcast(mx)).selectExpr(
        "o_custkey", "day_no", f"{morton} AS zkey"
    )
    ks = pts.selectExpr(
        "GREATEST(1L, (MAX(zkey) + 1) div 64) AS kz",
        "GREATEST(1L, (MAX(day_no) + 1) div 64) AS kd",
    )
    pk = pts.crossJoin(F.broadcast(ks))
    zoned = pk.selectExpr(
        "'zorder' AS layout", "zkey div kz AS file_id",
        "o_custkey", "day_no",
    ).unionByName(
        pk.selectExpr(
            "'datesort' AS layout", "day_no div kd AS file_id",
            "o_custkey", "day_no",
        )
    )
    files = zoned.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_custkey").alias("ck_lo"),
        F.max("o_custkey").alias("ck_hi"),
        F.min("day_no").alias("d_lo"),
        F.max("day_no").alias("d_hi"),
    )
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        (
            F.sum(F.col("ck_hi") - F.col("ck_lo")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_ck_span"),
        (
            F.sum(F.col("d_hi") - F.col("d_lo")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_day_span"),
        F.sum(
            F.when(
                (F.col("ck_lo") <= 42) & (F.lit(42) <= F.col("ck_hi")), 1
            ).otherwise(0)
        ).cast("bigint").alias("files_hit_ck42"),
    )


# --------------------------------------------------------------------------
# Hilbert-curve clustering layout (vs Z-order)
# --------------------------------------------------------------------------

#: Grid is 2^16 per dimension — matches the 16-bit normalization the
#: Morton op uses, so the two curves bin the SAME quantized points.
_HILBERT_N = 1 << 16


def _hilbert_stage(s: int) -> list[str]:
    """One descent step of the classic Hilbert xy2d walk (the public
    Wikipedia/Warren formulation) at scale ``s``, as THREE SQL
    expressions over columns (x, y, d) — text shared VERBATIM by Spark
    and DuckDB (only `&`, CASE, + / -, all exact integer ops).

    Per step: the quadrant index is the Gray-ish code (3·rx) XOR ry
    (spelled as a CASE — DuckDB's ``^`` is POWER, not XOR), d advances
    by s²·quadrant, and for the lower quadrants (ry=0) the frame is
    flipped around n−1 when rx=1 (keeps intermediates in [0, n) —
    nonnegative in both engines) then x/y are swapped. All three
    expressions read the PREVIOUS stage's columns, so each stage is one
    projection; the bijectivity + unit-step adjacency of the exact
    recurrence is property-tested in tests/test_advanced.py."""
    flip = _HILBERT_N - 1
    return [
        f"CASE WHEN (y & {s}) > 0 THEN x "
        f"WHEN (x & {s}) > 0 THEN {flip} - y ELSE y END AS x",
        f"CASE WHEN (y & {s}) > 0 THEN y "
        f"WHEN (x & {s}) > 0 THEN {flip} - x ELSE x END AS y",
        f"d + CAST({s * s} AS BIGINT) * (CASE "
        f"WHEN (x & {s}) > 0 AND (y & {s}) > 0 THEN 2 "
        f"WHEN (x & {s}) > 0 THEN 3 "
        f"WHEN (y & {s}) > 0 THEN 1 ELSE 0 END) AS d",
    ]


_HILBERT_SCALES = [1 << i for i in range(15, -1, -1)]


def _hilbert_sql() -> str:
    stages = []
    prev = "h0"
    for idx, s in enumerate(_HILBERT_SCALES, 1):
        exprs = ", ".join(_hilbert_stage(s))
        stages.append(
            f"h{idx} AS (SELECT ck, day_no, x0, y0, {exprs} FROM {prev})"
        )
        prev = f"h{idx}"
    morton = _morton16("x0", "y0", "duckdb")
    return f"""
    WITH raw AS (
      SELECT CAST(o_custkey AS BIGINT) AS ck,
             CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                  AS BIGINT) AS day_no
      FROM orders
    ),
    mx AS (SELECT MAX(ck) AS mck, MAX(day_no) AS mday FROM raw),
    h0 AS (
      SELECT ck, day_no,
             ((ck * 65535) // mck) AS x0, ((day_no * 65535) // mday) AS y0,
             ((ck * 65535) // mck) AS x, ((day_no * 65535) // mday) AS y,
             CAST(0 AS BIGINT) AS d
      FROM raw, mx
    ),
    {', '.join(stages)},
    keys AS (
      SELECT ck, day_no, d AS hkey, {morton} AS zkey FROM {prev}
    ),
    ks AS (
      SELECT GREATEST(1, (MAX(hkey) + 1) // 64) AS kh,
             GREATEST(1, (MAX(zkey) + 1) // 64) AS kz
      FROM keys
    ),
    binned AS (
      SELECT 'hilbert' AS layout, hkey // kh AS file_id, ck, day_no
      FROM keys, ks
      UNION ALL
      SELECT 'zorder' AS layout, zkey // kz AS file_id, ck, day_no
      FROM keys, ks
    ),
    files AS (
      SELECT layout, file_id, COUNT(*) AS n_rows,
             MIN(ck) AS ck_lo, MAX(ck) AS ck_hi,
             MIN(day_no) AS d_lo, MAX(day_no) AS d_hi
      FROM binned GROUP BY 1, 2
    )
    SELECT layout, COUNT(*) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(SUM(ck_hi - ck_lo) AS DOUBLE) / COUNT(*) AS avg_ck_span,
           CAST(SUM(d_hi - d_lo) AS DOUBLE) / COUNT(*) AS avg_day_span,
           CAST(SUM(CASE WHEN ck_lo <= 42 AND 42 <= ck_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_ck42
    FROM files GROUP BY 1
    """


@query("op-ext-hilbert-order", oracle=_hilbert_sql())
def op_ext_hilbert_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering layout audit — the locality UPGRADE
    over op-ext-zorder (Delta Lake's Liquid Clustering moved from
    Z-order to Hilbert for exactly this): both curves bin the same
    16-bit-normalized (custkey, order-day) points into ~64 files, and
    the per-file min/max zone maps are rolled up side by side. Morton
    has unbounded "seam" jumps (consecutive keys can be grid-distant,
    so file bounding boxes stretch); every Hilbert step is a unit grid
    move, so file bboxes stay tight and a point predicate on EITHER
    dimension prunes to fewer files (``files_hit_ck42``).

    The xy2d walk is 16 chained projections of exact integer CASE/&/
    arithmetic (one per bit, text-shared with the DuckDB oracle via
    :func:`_hilbert_stage`) — row-local, zero shuffle until the final
    two-level rollup; the one-row max-stats frames ride broadcast
    cross-joins exactly like op-ext-zorder. At 100 TB this is a
    clustered write's sort key: hkey costs 16 projections per row at
    write time and never at read time. Stage recurrence property-
    tested (bijective + unit-adjacent) in tests/test_advanced.py."""
    raw = t(spark, sf_dir, "orders").selectExpr(
        "CAST(o_custkey AS BIGINT) AS ck",
        "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)"
        " AS day_no",
    )
    mx = raw.selectExpr("MAX(ck) AS mck", "MAX(day_no) AS mday")
    pts = raw.crossJoin(F.broadcast(mx)).selectExpr(
        "ck", "day_no",
        "((ck * 65535) div mck) AS x0",
        "((day_no * 65535) div mday) AS y0",
    ).selectExpr(
        "ck", "day_no", "x0", "y0",
        "x0 AS x", "y0 AS y", "CAST(0 AS BIGINT) AS d",
    )
    for s in _HILBERT_SCALES:
        pts = pts.selectExpr(
            "ck", "day_no", "x0", "y0", *_hilbert_stage(s)
        )
    keys = pts.selectExpr(
        "ck", "day_no", "d AS hkey",
        _morton16("x0", "y0", "spark") + " AS zkey",
    )
    ks = keys.selectExpr(
        "GREATEST(1L, (MAX(hkey) + 1) div 64) AS kh",
        "GREATEST(1L, (MAX(zkey) + 1) div 64) AS kz",
    )
    kk = keys.crossJoin(F.broadcast(ks))
    binned = kk.selectExpr(
        "'hilbert' AS layout", "hkey div kh AS file_id", "ck", "day_no"
    ).unionByName(
        kk.selectExpr(
            "'zorder' AS layout", "zkey div kz AS file_id", "ck", "day_no"
        )
    )
    files = binned.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("day_no").alias("d_lo"),
        F.max("day_no").alias("d_hi"),
    )
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        (
            F.sum(F.col("ck_hi") - F.col("ck_lo")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_ck_span"),
        (
            F.sum(F.col("d_hi") - F.col("d_lo")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_day_span"),
        F.sum(
            F.when(
                (F.col("ck_lo") <= 42) & (F.lit(42) <= F.col("ck_hi")), 1
            ).otherwise(0)
        ).cast("bigint").alias("files_hit_ck42"),
    )


# --------------------------------------------------------------------------
# grid-bucketed spatial nearest-neighbor join
# --------------------------------------------------------------------------

#: 20-bit integer coordinate space; cells of 2^16 → a 16×16 grid.
_GEO_BITS_HEX = 5          # 5 hex nibbles = 20 bits
_GEO_CELL = 1 << 16


def _coord(decode, axis: str, key: str) -> str:
    """20-bit coordinate of ``key`` on ``axis`` from its salted md5, read
    by ``decode`` (``ex.hex_int``, or ``ex.hex_int_oracle`` in the
    oracles)."""
    return decode(ex.salted_md5(f"{axis}:", key), 1, _GEO_BITS_HEX)


#: exact integer distance² of a (customer, supplier) pair, in both engines
_GEO_D2 = "(xc - xs) * (xc - xs) + (yc - ys) * (yc - ys)"

#: the oracles' twin of :func:`_geo_pairs`: ``cand(c_custkey, s_suppkey,
#: dist2)``, every pair in the customer's 3×3 cell neighborhood
_GEO_CTES = f"""cust AS (
      SELECT c_custkey,
             {_coord(ex.hex_int_oracle, 'gx', 'c_custkey')} AS xc,
             {_coord(ex.hex_int_oracle, 'gy', 'c_custkey')} AS yc
      FROM customer
    ),
    supp AS (
      SELECT s_suppkey,
             {_coord(ex.hex_int_oracle, 'gx', 's_suppkey')} AS xs,
             {_coord(ex.hex_int_oracle, 'gy', 's_suppkey')} AS ys
      FROM supplier
    ),
    probes AS (
      SELECT c.c_custkey, c.xc, c.yc,
             (c.xc // {_GEO_CELL}) + dxy.dx AS pcx,
             (c.yc // {_GEO_CELL}) + dxy.dy AS pcy
      FROM cust c, (SELECT dx, dy
                    FROM range(-1, 2) t1(dx), range(-1, 2) t2(dy)) dxy
    ),
    cand AS (
      SELECT p.c_custkey, s.s_suppkey, {_GEO_D2} AS dist2
      FROM probes p
      JOIN supp s ON p.pcx = (s.xs // {_GEO_CELL})
                 AND p.pcy = (s.ys // {_GEO_CELL})
    )"""


def _geo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (customer, supplier) pair in the customer's 3×3 cell
    neighborhood, with both coordinates: the customers' nine probe cells
    equi-joined to the suppliers' own cells — the candidate set of the
    three spatial ops."""
    cust = t(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        f"{_coord(ex.hex_int, 'gx', 'c_custkey')} AS xc",
        f"{_coord(ex.hex_int, 'gy', 'c_custkey')} AS yc",
    )
    supp = t(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey",
        f"{_coord(ex.hex_int, 'gx', 's_suppkey')} AS xs",
        f"{_coord(ex.hex_int, 'gy', 's_suppkey')} AS ys",
    ).selectExpr(
        "s_suppkey", "xs", "ys",
        f"xs div {_GEO_CELL} AS scx",
        f"ys div {_GEO_CELL} AS scy",
    )
    offsets = spark.range(9).selectExpr(
        "CAST(id div 3 AS BIGINT) - 1 AS dx",
        "CAST(id % 3 AS BIGINT) - 1 AS dy",
    )
    probes = cust.crossJoin(F.broadcast(offsets)).selectExpr(
        "c_custkey", "xc", "yc",
        f"xc div {_GEO_CELL} + dx AS pcx",
        f"yc div {_GEO_CELL} + dy AS pcy",
    )
    return probes.join(
        supp,
        (F.col("pcx") == F.col("scx")) & (F.col("pcy") == F.col("scy")),
    )


@query(
    "op-ext-spatial-nn",
    oracle=f"""
    WITH {_GEO_CTES},
    ranked AS (
      SELECT c_custkey, s_suppkey, dist2,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY dist2, s_suppkey) AS rn
      FROM cand
    )
    SELECT c_custkey, s_suppkey AS nn_suppkey, CAST(dist2 AS BIGINT)
             AS dist2
    FROM ranked WHERE rn = 1
    """,
)
def op_ext_spatial_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial nearest-neighbor join — the scale shape
    every geo engine uses (geohash/S2 cell bucketing): each customer
    probes its 3×3 cell neighborhood and takes the closest supplier by
    exact integer distance² (planar; sin/cos-based haversine is NOT
    bit-guaranteed cross-engine, squared integer deltas are). The
    contract is bounded-radius NN — the standard grid-join guarantee:
    the true nearest neighbor is found whenever it lies within one
    cell width; customers with an empty neighborhood drop out.

    Coordinates are md5-derived 20-bit integers (same
    content-addressed-literal trick as the LSH hyperplanes — the
    testdata ships no geo columns, and deriving them from keys keeps
    the operator deterministic and the oracle exact). Candidate cost
    is 9·(suppliers per cell) per customer — Σ cell² like every
    banded join, never |cust|×|supp|; the final pick is a
    customer-partitioned top-1 (WindowGroupLimit), no global window.
    Tie-break (dist2, suppkey) keeps the pick total-ordered."""
    cand = _geo_pairs(spark, sf_dir).select(
        "c_custkey", "s_suppkey", F.expr(_GEO_D2).alias("dist2")
    )
    w = Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            F.col("s_suppkey").alias("nn_suppkey"),
            F.col("dist2").cast("bigint").alias("dist2"),
        )
    )


@query(
    "op-ext-spatial-knn",
    oracle=f"""
    WITH {_GEO_CTES},
    ranked AS (
      SELECT c_custkey, s_suppkey, dist2,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY dist2, s_suppkey) AS rn
      FROM cand
    )
    SELECT c_custkey, CAST(rn AS BIGINT) AS rnk, s_suppkey,
           CAST(dist2 AS BIGINT) AS dist2
    FROM ranked WHERE rn <= 3
    """,
)
def op_ext_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed k-NN (k=3) — the retrieval shape of the spatial
    family: same 3×3 bounded-radius contract as op-ext-spatial-nn but
    returning the three closest suppliers per customer with their
    ranks, the form a geo-recommendation or assignment pipeline
    consumes. The per-customer top-3 is a WindowGroupLimit pushdown
    (rank filter right after the window — only k rows per customer
    survive the stage); tie-break (dist2, suppkey) keeps ranks
    total-ordered and both engines identical."""
    cand = _geo_pairs(spark, sf_dir).select(
        "c_custkey", "s_suppkey", F.expr(_GEO_D2).alias("dist2")
    )
    w = Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "c_custkey",
            F.col("rn").cast("bigint").alias("rnk"),
            "s_suppkey",
            F.col("dist2").cast("bigint").alias("dist2"),
        )
    )


#: Range-join radius: half a cell, so every in-range partner is in the
#: 3×3 neighborhood — the probe is COMPLETE and the join exact.
_GEO_R = _GEO_CELL // 2


@query(
    "op-ext-spatial-range",
    oracle=f"""
    WITH {_GEO_CTES}
    SELECT c_custkey, s_suppkey, CAST(dist2 AS BIGINT) AS dist2
    FROM cand WHERE dist2 <= {_GEO_R * _GEO_R}
    """,
)
def op_ext_spatial_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT spatial range join (all customer-supplier pairs within
    radius R) — unlike the bounded-radius NN (op-ext-spatial-nn), this
    contract is complete: R is half a cell width, so every partner
    within R is guaranteed inside the 3×3 probed neighborhood (the
    standard grid-join radius≤cell proof). Same md5-derived integer
    coordinates and exact distance² filter; candidate cost stays
    9·(suppliers per cell) per customer; each (c, s) pair appears at
    most once because a supplier lives in exactly one cell. Output is
    the pair list with its exact integer distance² — the shape a
    delivery-assignment or geo-dedup pipeline consumes."""
    d2 = F.expr(_GEO_D2)
    return (
        _geo_pairs(spark, sf_dir)
        .where(d2 <= _GEO_R * _GEO_R)
        .select(
            "c_custkey",
            "s_suppkey",
            d2.cast("bigint").alias("dist2"),
        )
    )


# --------------------------------------------------------------------------
# out-of-orderness / late-arrival audit (watermark calibration)
# --------------------------------------------------------------------------


@query(
    "op-ext-late-arrivals",
    oracle="""
    WITH seq AS (
      SELECT event_type, user_id, event_id, epoch_us(ts) AS us,
             MAX(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS high_water
      FROM events
    ),
    lat AS (
      SELECT event_type,
             GREATEST(COALESCE(high_water - us, 0), 0) AS late_us
      FROM seq
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_out_of_order,
           CAST(SUM(CASE WHEN late_us > 900000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_beyond_15min,
           CAST(MAX(late_us) // 1000000 AS BIGINT) AS max_late_s
    FROM lat GROUP BY 1
    """,
)
def op_ext_late_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit — the measurement that CALIBRATES a
    stream's watermark delay (SURVEY §7.5 streaming surface: our
    windows drop rows later than the watermark; this op tells you what
    delay loses how much): per ingest stream (user), each event's
    lateness = how far it arrives behind the stream's running
    event-time high-water mark (arrival order = event_id). Reported
    per event type: out-of-order count, count beyond the 15-minute
    delay the streaming ops use, and worst lateness. One running-max
    window per user partition (O(n) incremental frame) + one
    aggregate — a single shuffle each."""
    seq = t(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("us"),
    ).withColumn(
        "high_water",
        F.max("us").over(
            Window.partitionBy("user_id")
            .orderBy("event_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    lat = seq.select(
        "event_type",
        F.greatest(
            F.coalesce(F.col("high_water") - F.col("us"), F.lit(0)),
            F.lit(0),
        ).alias("late_us"),
    )
    return lat.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_out_of_order"),
        F.sum(F.when(F.col("late_us") > 900_000_000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_beyond_15min"),
        F.expr("MAX(late_us) div 1000000").cast("bigint").alias("max_late_s"),
    )


# --------------------------------------------------------------------------
# k-anonymity risk audit
# --------------------------------------------------------------------------


@query(
    "op-ext-kanonymity",
    oracle=f"""
    SELECT CAST(c_nationkey AS BIGINT) AS nation_key, c_mktsegment,
           CAST(FLOOR({ex.money('c_acctbal')} / 1000)
                AS BIGINT) AS bal_band,
           COUNT(*) AS n_individuals,
           (COUNT(*) < 5) AS at_risk
    FROM customer
    GROUP BY 1, 2, 3
    """,
)
def op_ext_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier tuple
    (nation, market segment, $1000 balance band) — the re-identification
    risk check a governance pipeline runs before releasing
    "de-identified" data: any equivalence class smaller than k can
    single people out and must be suppressed or generalized
    (op-ext-pii-redact handles direct identifiers; THIS catches the
    indirect ones). One map-side-combined aggregate over the
    quasi-identifier key; the risky-class report is the input to a
    generalization loop (widen bands → re-audit). Band edges come from
    exact decimal division — no float binning drift across engines."""
    c = t(spark, sf_dir, "customer")
    return (
        c.groupBy(
            F.col("c_nationkey").cast("bigint").alias("nation_key"),
            "c_mktsegment",
            F.floor(dec("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("n_individuals"))
        .withColumn("at_risk", F.col("n_individuals") < 5)
    )


# --------------------------------------------------------------------------
# HLL sketch partials + reaggregation (mergeable distinct counts)
# --------------------------------------------------------------------------


@query(
    "op-ext-hll-merge",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT)
             AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS merged_within_rsd,
           TRUE AS onepass_within_rsd
    FROM events GROUP BY 1
    """,
)
def op_ext_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct counting — the pattern that makes DAU→MAU
    scale: per (day, event_type) HLL sketches (datasketches
    hll_sketch_agg) are stored ONCE, then any coarser rollup is a
    register-wise UNION of the partials (hll_union_agg) — never a
    re-scan of raw events. Unions are associative + commutative (max of
    registers), so re-aggregation is exact w.r.t. the sketch.

    Oracle-backed since r8 via the accuracy-bound contract (the
    estimate itself is spec-approximate; same pattern as
    op-ext-approx-quantile): BOTH the merged-daily estimate and the
    one-pass estimate must land within 5·rsd of the exact distinct
    count (lgConfigK=12 → rsd≈1.6%, bound 8%), surfaced as booleans
    the oracle pins TRUE next to the exact per-type counts. The
    stronger merged == one-pass EQUALITY holds only while sketches
    stay in sparse (exact) mode — the sf0.1 gate caught it drifting
    at ~20k distinct once dense HLL unions engage (r8), so equality is
    pinned at small SF in tests/test_advanced.py where it is actually
    an invariant, not claimed in the oracle. In production only the
    sketch path runs (the exact twin is op-ext-rolling-dau). At 100 TB
    the sketch table is |days|·|types| rows of ~KB blobs while the
    exact path re-shuffles raw user ids."""
    ev = t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "user_id",
    )
    daily = ev.groupBy("day", "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("bigint")
        .alias("_est_merged"),
    )
    # one-pass sketch and exact distinct aggregate SEPARATELY, joined
    # on the |types| key: mixing a sketch agg with COUNT(DISTINCT) in
    # one .agg threads the sketch buffer through the per-(type, user)
    # distinct pre-aggregation (the approx-count-distinct r8 lesson)
    onepass = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
        .cast("bigint")
        .alias("_est_onepass")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    def _within(col: str) -> F.Column:
        return (
            F.abs(F.col(col) - F.col("exact_users")).cast("double")
            <= 0.08 * F.col("exact_users").cast("double")
        )

    return merged.join(onepass, "event_type").join(exact, "event_type").select(
        "event_type",
        "n_days",
        "n_events",
        "exact_users",
        _within("_est_merged").alias("merged_within_rsd"),
        _within("_est_onepass").alias("onepass_within_rsd"),
    )


# --------------------------------------------------------------------------
# differential privacy: Laplace-noised count release
# --------------------------------------------------------------------------


@query("op-ext-dp-counts")  # DP noise is inherently non-SQL-oracle-able
# (ln() is not bit-guaranteed cross-engine); rows-only + an EXACT pytest
# pin that recomputes the hash-seeded noise in numpy (tests/test_advanced.py)
def op_ext_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private count release (ε=1, Laplace mechanism):
    per-nation customer counts with noise drawn from the inverse-CDF of
    Laplace(1/ε) over a CONTENT-ADDRESSED uniform (md5 of the group
    key) — the governance sibling of op-ext-kanonymity for when
    aggregate counts themselves must not reveal membership. Hash-seeded
    noise makes the release REPRODUCIBLE (same table → same noise; no
    rand(), no seed plumbing) while remaining DP w.r.t. the data,
    because the noise seed depends only on the group label, never the
    count. One map-side aggregate + row-local noise expression.

    Caveat (documented, standard): deterministic per-label noise means
    repeated releases of the SAME label reuse noise — the ε budget is
    per label-set version; rotate the salt per release to re-draw.
    """
    c = t(spark, sf_dir, "customer")
    counts = c.groupBy(
        F.col("c_nationkey").cast("bigint").alias("nation_key")
    ).agg(F.count(F.lit(1)).alias("true_count_DO_NOT_SHIP"))
    # u in (0,1): 16-bit hash slice, offset half a step from the edges
    u16 = ex.hex_int(ex.salted_md5("dp:", "nation_key"), 1, 4)
    # D-suffixed literals: bare 0.5/65536.0 parse as DECIMAL in Spark
    # SQL and the division would round to 8 fractional digits
    u = f"(({u16}) + 0.5D) / 65536.0D"
    noise = (
        f"(CASE WHEN {u} < 0.5D THEN ln(2.0D * {u})"
        f" ELSE -ln(2.0D * (1.0D - {u})) END)"
    )  # inverse-CDF of Laplace(b=1), b = sensitivity/epsilon = 1
    return counts.select(
        "nation_key",
        F.col("true_count_DO_NOT_SHIP").alias("true_count"),
        F.expr(noise).alias("noise"),
        (F.col("true_count_DO_NOT_SHIP") + F.expr(noise)).alias(
            "released_count"
        ),
    )


#: Discrete-Laplace(ε=1) inverse-CDF thresholds on the 16-bit uniform
#: grid: u16 < T -> k (two-sided geometric with p = e^-1, P(k) ∝ p^|k|;
#: k < -11 and k > 11 have zero mass at 16-bit resolution). Frozen from
#: round(CDF(k)·65536); re-derived from math.exp in
#: tests/test_advanced.py so the constant can't drift from the math.
_DLAP_T = [
    (-11, 1), (-10, 2), (-9, 6), (-8, 16), (-7, 44), (-6, 119),
    (-5, 323), (-4, 878), (-3, 2385), (-2, 6484), (-1, 17625),
    (0, 47911), (1, 59052), (2, 63151), (3, 64658), (4, 65213),
    (5, 65417), (6, 65492), (7, 65520), (8, 65530), (9, 65534),
    (10, 65535),
]


def _dlap_case(u16: str) -> str:
    branches = " ".join(f"WHEN {u16} < {t} THEN {k}" for k, t in _DLAP_T)
    return f"CASE {branches} ELSE 11 END"


#: the 16-bit uniform of each label: its md5's first 4 hex digits
_DLAP_H = ex.salted_md5("dlap:", "nation_key")


@query(
    "op-ext-dp-counts-discrete",
    oracle=f"""
    WITH counts AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation_key,
             CAST(COUNT(*) AS BIGINT) AS true_count
      FROM customer GROUP BY 1
    )
    SELECT nation_key, true_count,
           CAST({_dlap_case(ex.hex_int_oracle(_DLAP_H, 1, 4))} AS BIGINT) AS noise,
           CAST(true_count + ({_dlap_case(ex.hex_int_oracle(_DLAP_H, 1, 4))}) AS BIGINT)
             AS released_count
    FROM counts
    """,
)
def op_ext_dp_counts_discrete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private count release via the DISCRETE Laplace
    (two-sided geometric) mechanism — the oracle-exact sibling of
    op-ext-dp-counts. The continuous version's ln() makes cross-engine
    bit-identity non-structural; here the inverse-CDF over the same
    content-addressed 16-bit uniform is a frozen INTEGER threshold
    ladder (_DLAP_T, the _POIS_T/bootstrap trick applied to DP), so
    noise and release are pure integer arithmetic — bit-identical on
    any engine by construction, and integer noise is what production
    DP systems deploy anyway (the mechanism of Canonne et al.'s
    discrete-Laplace line of work). Same caveat as op-ext-dp-counts:
    per-label seeding means the ε budget is per label-set version.
    One map-side aggregate + a row-local CASE — zero extra shuffles."""
    c = t(spark, sf_dir, "customer")
    counts = c.groupBy(
        F.col("c_nationkey").cast("bigint").alias("nation_key")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    noise = _dlap_case(ex.hex_int(_DLAP_H, 1, 4))
    return counts.select(
        "nation_key",
        "true_count",
        F.expr(noise).cast("bigint").alias("noise"),
        (F.col("true_count") + F.expr(noise)).cast("bigint").alias(
            "released_count"
        ),
    )
