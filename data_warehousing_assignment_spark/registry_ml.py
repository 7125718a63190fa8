"""In-engine statistics/ML registry: closed-form OLS regression,
lagged autocorrelation, and a bag-of-words posterior-vote text
classifier — the models a warehouse answers WITHOUT exporting data,
each expressed as exact-sum aggregations so results cross the engine
boundary bit-identically (registry.py rules: exact integer/decimal
sufficient statistics; wide ratios surface as fixed-point integers via
sign-abs exact decimal division, never wide-int→double casts whose last
ulp differs between engines).

No reference counterpart (SURVEY.md §7.5 extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import exact as ex
from data_warehousing_assignment_spark.operators import analytics as an
from data_warehousing_assignment_spark.operators import similarity as sim
from data_warehousing_assignment_spark.operators.text import tokens
from data_warehousing_assignment_spark.registry import _TOKS, query, t


def _sdiv(a, b):
    """Exact scaled integer division of wide decimals, sign-abs so both
    engines agree on negatives (Spark `div`/DuckDB `//` both truncate
    toward zero for ints, but neither takes decimal(38,0) operands —
    int64 would overflow first). For nonneg p, q: p div q is computed
    as (p - p % q) / q, whose decimal division is EXACT because the
    numerator is a multiple of q."""
    aa = F.abs(a).cast("decimal(38,0)")
    bb = b.cast("decimal(38,0)")
    q = ((aa - aa % bb) / bb).cast("decimal(38,0)")
    return F.when(a < 0, -q).otherwise(q)


# --------------------------------------------------------------------------
# closed-form simple linear regression
# --------------------------------------------------------------------------


@query(
    "op-ext-linreg",
    oracle=f"""
    WITH daily AS (
      SELECT l_returnflag AS flag, l_shipdate AS d,
             CAST(SUM({ex.money('l_extendedprice')} * 100)
                  AS BIGINT) AS y
      FROM lineitem GROUP BY 1, 2
    ),
    xy AS (
      SELECT flag,
             date_diff('day', MIN(d) OVER (PARTITION BY flag), d) AS x, y
      FROM daily
    ),
    s AS (
      SELECT flag, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM xy GROUP BY 1
    ),
    q AS (
      SELECT flag, n, sx, sy,
             n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
      FROM s
    ),
    sl AS (
      SELECT flag, n, sx, sy, den,
             CASE WHEN num < 0 THEN -(((-num) * 1000000) // den)
                  ELSE (num * 1000000) // den END AS slope_x1e6
      FROM q
    )
    SELECT flag AS l_returnflag, CAST(n AS BIGINT) AS n_days,
           CAST(slope_x1e6 AS BIGINT) AS slope_x1e6,
           CAST(CASE WHEN sy * 1000000 - slope_x1e6 * sx < 0
                  THEN -((-(sy * 1000000 - slope_x1e6 * sx)) // n)
                  ELSE (sy * 1000000 - slope_x1e6 * sx) // n END
                AS BIGINT) AS intercept_x1e6
    FROM sl
    """,
)
def op_ext_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS trend per return flag: regress daily revenue
    cents on the day index (days since the series start). The
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) are EXACT decimal sums
    — order-independent — and slope/intercept surface as fixed-point
    ×10⁶ integers via sign-abs exact decimal division (_sdiv): a wide
    int → double conversion differs in the last ulp between engines,
    so no double ever crosses the boundary here.
    This is the map-side-combinable formulation (each partition emits
    its partial sums; the merge is +), i.e. the only OLS that scales:
    no gram-matrix collect, no driver math. Slope in cents/day is the
    drift KPI a finance close watches."""
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_shipdate").alias("d"),
    ).agg(F.expr(ex.sum_cents("l_extendedprice")).alias("y"))
    wf = Window.partitionBy("flag")
    xy = daily.select(
        "flag",
        F.datediff("d", F.min("d").over(wf)).cast("long").alias("x"),
        "y",
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = xy.groupBy("flag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec("x")).cast("decimal(38,0)").alias("sx"),
        F.sum(dec("y")).cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * dec("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec("x") * dec("x")).cast("decimal(38,0)").alias("sxx"),
    )
    q = s.select(
        "flag",
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    sl = q.withColumn(
        "slope_x1e6", _sdiv(F.col("num") * F.lit(1000000), F.col("den"))
    )
    return sl.select(
        F.col("flag").alias("l_returnflag"),
        F.col("n").cast("bigint").alias("n_days"),
        F.col("slope_x1e6").cast("bigint").alias("slope_x1e6"),
        _sdiv(
            F.col("sy") * F.lit(1000000) - F.col("slope_x1e6") * F.col("sx"),
            F.col("n"),
        )
        .cast("bigint")
        .alias("intercept_x1e6"),
    )


# --------------------------------------------------------------------------
# lagged autocorrelation
# --------------------------------------------------------------------------


@query(
    "op-ext-autocorr",
    oracle=f"""
    WITH daily AS (
      SELECT l_returnflag AS flag, l_shipdate AS d,
             CAST(SUM({ex.money('l_extendedprice')} * 100)
                  AS BIGINT) AS y
      FROM lineitem GROUP BY 1, 2
    ),
    m AS (
      SELECT flag, d, y,
             CAST(SUM(y) OVER (PARTITION BY flag) AS BIGINT)
               // CAST(COUNT(*) OVER (PARTITION BY flag) AS BIGINT) AS mu
      FROM daily
    ),
    r AS (
      SELECT flag, d, y - mu AS res,
             lead(y - mu, 1) OVER (PARTITION BY flag ORDER BY d) AS res1,
             lead(y - mu, 7) OVER (PARTITION BY flag ORDER BY d) AS res7
      FROM m
    ),
    den AS (SELECT flag,
                   CAST(SUM(CAST(res AS HUGEINT) * res) AS HUGEINT) AS ss
            FROM r GROUP BY 1),
    num AS (
      SELECT flag, 1 AS lag_k,
             CAST(COUNT(res1) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(res AS HUGEINT) * res1) AS HUGEINT) AS sp
      FROM r WHERE res1 IS NOT NULL GROUP BY 1
      UNION ALL
      SELECT flag, 7,
             CAST(COUNT(res7) AS BIGINT),
             CAST(SUM(CAST(res AS HUGEINT) * res7) AS HUGEINT)
      FROM r WHERE res7 IS NOT NULL GROUP BY 1
    )
    SELECT n.flag AS l_returnflag, CAST(n.lag_k AS BIGINT) AS lag_k,
           n.n_pairs,
           CAST(CASE WHEN n.sp < 0
                  THEN -(((-n.sp) * 1000000000) // d.ss)
                  ELSE (n.sp * 1000000000) // d.ss END
                AS BIGINT) AS autocorr_x1e9
    FROM num n JOIN den d ON n.flag = d.flag
    """,
)
def op_ext_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of daily revenue per return flag
    — the "is there weekly seasonality worth modeling" screen that
    picks thresholds for op-ext-seasonal-anomaly. Residual products sum
    in exact decimal(38,0) (int64 would overflow at 10× revenue:
    (10⁸)²·2500 days ≈ 2.5·10¹⁹); the coefficient surfaces as a
    fixed-point ×10⁹ integer via sign-abs exact division (_sdiv — wide
    int→double conversions differ in the last ulp across engines). The
    lead() windows run over the post-aggregate daily frame partitioned
    by flag — never raw lineitem."""
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_shipdate").alias("d"),
    ).agg(F.expr(ex.sum_cents("l_extendedprice")).alias("y"))
    m = daily.select(
        "flag",
        "d",
        "y",
        F.expr(
            "CAST(sum(y) OVER (PARTITION BY flag) AS BIGINT)"
            " div CAST(count(1) OVER (PARTITION BY flag) AS BIGINT)"
        ).alias("mu"),
    )
    w = Window.partitionBy("flag").orderBy("d")
    r = m.select(
        "flag",
        (F.col("y") - F.col("mu")).alias("res"),
        F.lead(F.col("y") - F.col("mu"), 1).over(w).alias("res1"),
        F.lead(F.col("y") - F.col("mu"), 7).over(w).alias("res7"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    den = r.groupBy("flag").agg(
        F.sum(dec("res") * dec("res")).cast("decimal(38,0)").alias("ss")
    )
    num1 = (
        r.filter(F.col("res1").isNotNull())
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(dec("res") * dec("res1")).cast("decimal(38,0)").alias("sp"),
        )
        .withColumn("lag_k", F.lit(1).cast("bigint"))
    )
    num7 = (
        r.filter(F.col("res7").isNotNull())
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(dec("res") * dec("res7")).cast("decimal(38,0)").alias("sp"),
        )
        .withColumn("lag_k", F.lit(7).cast("bigint"))
    )
    num = num1.unionByName(num7)
    return num.join(den, "flag").select(
        F.col("flag").alias("l_returnflag"),
        "lag_k",
        "n_pairs",
        _sdiv(F.col("sp") * F.lit(1000000000), F.col("ss"))
        .cast("bigint")
        .alias("autocorr_x1e9"),
    )


# --------------------------------------------------------------------------
# Naive Bayes text classifier
# --------------------------------------------------------------------------


@query(
    "op-ext-text-classify",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS l FROM documents),
    tok AS (SELECT doc_id, lang, unnest(l) AS w FROM t),
    cwc AS (SELECT w, lang AS cls, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tok GROUP BY 1, 2),
    cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt_w
           FROM tok GROUP BY 1),
    ncls AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS k FROM tok),
    cls AS (SELECT DISTINCT lang AS cls FROM tok),
    fan AS (
      SELECT tok.doc_id, tok.lang AS actual_lang, tok.w, cls.cls
      FROM tok CROSS JOIN cls
    ),
    scored AS (
      SELECT f.doc_id, f.actual_lang, f.cls,
             CAST(SUM((1000000 * (COALESCE(c.cnt, 0) + 1))
                      // (cw.cnt_w + ncls.k)) AS BIGINT) AS score_ppm
      FROM fan f
      LEFT JOIN cwc c ON f.w = c.w AND f.cls = c.cls
      JOIN cw ON f.w = cw.w
      CROSS JOIN ncls
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT doc_id, actual_lang, cls, score_ppm,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score_ppm DESC, cls) AS rk
      FROM scored
    )
    SELECT doc_id, cls AS predicted_lang, actual_lang,
           cls = actual_lang AS correct
    FROM ranked WHERE rk = 1
    """,
)
def op_ext_text_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words posterior-vote language classifier trained and
    applied in-engine (the linear count-based classifier family behind
    fastText-style lang-id, next to the heuristic op-ext-lang-id):
    each document token votes its smoothed word→class posterior
    P(cls|w) = (c(w,cls)+1)/(c(w)+k) in fixed-point ppm (integer floor
    division — engine-exact; true log-likelihood NB needs ln, whose
    last ulp differs across engines, so the decision rule is the
    posterior-vote ensemble instead — shared words vote ≈uniformly and
    cancel, discriminative words decide). Train = one (token, class)
    count over the corpus; classify = each doc's tokens fanned out ×
    the broadcast class frame against the count table, one
    per-(doc, class) rollup, one per-doc ranking window. In-sample by
    design (the demo is the PLAN shape; swap the train scan for a
    labeled split via op-ext-hash-split). Accuracy is pinned >> chance
    in tests/test_warehouse_wave.py — near ceiling here because the
    synthetic corpus carries only a weak lexical language signal."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("actual_lang"), tokens("text").alias("l")
    )
    tok = docs.select(
        "doc_id", "actual_lang", F.explode("l").alias("w")
    )
    cwc = tok.groupBy(
        F.col("w"), F.col("actual_lang").alias("cls")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cw = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt_w"))
    ncls = tok.agg(F.countDistinct("actual_lang").alias("k"))
    cls = tok.select(F.col("actual_lang").alias("cls")).distinct()
    fan = tok.crossJoin(F.broadcast(cls))
    scored = (
        fan.join(cwc, ["w", "cls"], "left")
        .join(cw, "w")
        .crossJoin(F.broadcast(ncls))
        .groupBy("doc_id", "actual_lang", "cls")
        .agg(
            F.sum(
                F.expr("(1000000 * (coalesce(cnt, 0) + 1)) div (cnt_w + k)")
            )
            .cast("bigint")
            .alias("score_ppm")
        )
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.desc("score_ppm"), F.asc("cls")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("cls").alias("predicted_lang"),
            "actual_lang",
            (F.col("cls") == F.col("actual_lang")).alias("correct"),
        )
    )


# --------------------------------------------------------------------------
# classifier evaluation: confusion matrix + per-class precision/recall
# --------------------------------------------------------------------------


@query(
    "op-ext-confusion",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS l FROM documents),
    tok AS (SELECT doc_id, lang, unnest(l) AS w FROM t),
    cwc AS (SELECT w, lang AS cls, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tok GROUP BY 1, 2),
    cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt_w
           FROM tok GROUP BY 1),
    ncls AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS k FROM tok),
    cls AS (SELECT DISTINCT lang AS cls FROM tok),
    fan AS (
      SELECT tok.doc_id, tok.lang AS actual_lang, tok.w, cls.cls
      FROM tok CROSS JOIN cls
    ),
    scored AS (
      SELECT f.doc_id, f.actual_lang, f.cls,
             CAST(SUM((1000000 * (COALESCE(c.cnt, 0) + 1))
                      // (cw.cnt_w + ncls.k)) AS BIGINT) AS score_ppm
      FROM fan f
      LEFT JOIN cwc c ON f.w = c.w AND f.cls = c.cls
      JOIN cw ON f.w = cw.w
      CROSS JOIN ncls
      GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT doc_id, actual_lang, cls AS predicted_lang
      FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score_ppm DESC, cls) = 1
    ),
    cm AS (
      SELECT actual_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2
    ),
    m AS (
      SELECT c.cls,
             CAST(COALESCE(SUM(CASE WHEN cm.actual_lang = c.cls
                               AND cm.predicted_lang = c.cls
                          THEN cm.n END), 0) AS BIGINT) AS tp,
             CAST(COALESCE(SUM(CASE WHEN cm.predicted_lang = c.cls
                          THEN cm.n END), 0) AS BIGINT) AS pred_n,
             CAST(COALESCE(SUM(CASE WHEN cm.actual_lang = c.cls
                          THEN cm.n END), 0) AS BIGINT) AS actual_n
      FROM cls c LEFT JOIN cm ON TRUE
      GROUP BY 1
    )
    SELECT cls, tp, pred_n, actual_n,
           CAST(CASE WHEN pred_n = 0 THEN 0
                ELSE (1000000 * tp) // pred_n END AS BIGINT)
             AS precision_ppm,
           CAST(CASE WHEN actual_n = 0 THEN 0
                ELSE (1000000 * tp) // actual_n END AS BIGINT)
             AS recall_ppm
    FROM m
    """,
)
def op_ext_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall off the posterior-vote classifier's
    confusion matrix (op-ext-text-classify's predictions rolled up) —
    the evaluation artifact that tells you WHICH class the classifier
    confuses, in exact fixed-point ppm. The confusion matrix is
    |classes|² rows; the per-class rollup joins it against the class
    frame so zero-support classes still report (precision 0 by
    convention, not NULL). At 100 TB the eval is one groupBy over
    predictions — the expensive part is the classifier, already
    measured flat-ish (BASELINE.md)."""
    pred = op_ext_text_classify(spark, sf_dir).select(
        "actual_lang", "predicted_lang"
    )
    cm = pred.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    cls = pred.select(F.col("actual_lang").alias("cls")).distinct()
    m = (
        cls.crossJoin(F.broadcast(cm))
        .groupBy("cls")
        .agg(
            F.sum(
                F.when(
                    (F.col("actual_lang") == F.col("cls"))
                    & (F.col("predicted_lang") == F.col("cls")),
                    F.col("n"),
                )
            ).alias("_tp"),
            F.sum(
                F.when(F.col("predicted_lang") == F.col("cls"), F.col("n"))
            ).alias("_pred"),
            F.sum(
                F.when(F.col("actual_lang") == F.col("cls"), F.col("n"))
            ).alias("_act"),
        )
        .select(
            "cls",
            F.coalesce("_tp", F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce("_pred", F.lit(0)).cast("bigint").alias("pred_n"),
            F.coalesce("_act", F.lit(0)).cast("bigint").alias("actual_n"),
        )
    )
    return m.select(
        "cls",
        "tp",
        "pred_n",
        "actual_n",
        F.expr(
            "CAST(CASE WHEN pred_n = 0 THEN 0"
            " ELSE (1000000 * tp) div pred_n END AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(CASE WHEN actual_n = 0 THEN 0"
            " ELSE (1000000 * tp) div actual_n END AS BIGINT)"
        ).alias("recall_ppm"),
    )


# --------------------------------------------------------------------------
# exact rank-based AUC (Mann-Whitney with midranks)
# --------------------------------------------------------------------------


@query(
    "op-ext-auc",
    oracle=f"""
    WITH resp AS (SELECT DISTINCT o_custkey FROM orders
                  WHERE year(o_orderdate) = 1997),
    s AS (
      SELECT c.c_custkey,
             {ex.cents('c.c_acctbal')}
               AS score,
             CASE WHEN r.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
      FROM customer c LEFT JOIN resp r ON c.c_custkey = r.o_custkey
    ),
    rk AS (
      SELECT y, score,
             ROW_NUMBER() OVER (ORDER BY score, c_custkey) AS rn
      FROM s
    ),
    mid AS (
      -- midrank×2 = min(rn)+max(rn) within a tied-score group: integer
      SELECT y,
             CAST(MIN(rn) OVER (PARTITION BY score)
                  + MAX(rn) OVER (PARTITION BY score) AS BIGINT) AS mr2
      FROM rk
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN y = 1 THEN mr2 ELSE 0 END) AS BIGINT)
               AS pos_mr2,
             CAST(SUM(y) AS BIGINT) AS p,
             CAST(SUM(1 - y) AS BIGINT) AS n
      FROM mid
    )
    SELECT p AS n_pos, n AS n_neg,
           CAST((1000000 * (pos_mr2 - p * (p + 1)))
                // (2 * p * n) AS BIGINT) AS auc_ppm
    FROM agg
    """,
)
def op_ext_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC via the Mann–Whitney rank identity with midranks
    for ties (AUC = (Σ_pos midrank − P(P+1)/2)/(P·N)) — account
    balance scoring 1997-response, the same setup as
    op-ext-decile-lift, now as the single-number ranking metric.
    Midrank×2 = min(rank)+max(rank) over the tied-score group keeps
    every quantity an exact integer, so auc_ppm is engine-exact where
    trapezoidal float AUC is not — and min(rank)+max(rank) is exactly
    the doubled average rank an.distributed_ar2 computes, so the rank
    pass is the two-level DISTRIBUTED prefix sum over the distinct
    SCORE frame (no global row_number window serializing the scored
    set through one task; scores are near-continuous cents)."""
    resp = (
        t(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1997)
        .select("o_custkey")
        .distinct()
        .withColumn("_r", F.lit(1))
    )
    s = (
        t(spark, sf_dir, "customer")
        .join(resp, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            F.expr(ex.cents("c_acctbal")).alias("score"),
            F.coalesce("_r", F.lit(0)).alias("y"),
        )
    )
    g = s.groupBy("score").agg(
        F.sum("y").cast("bigint").alias("cp"),
        F.count(F.lit(1)).cast("bigint").alias("ct"),
    )
    r = an.distributed_ar2(g, v="score")
    agg = r.agg(
        F.sum(F.col("cp") * F.col("ar2"))
        .cast("bigint")
        .alias("pos_mr2"),
        F.sum("cp").cast("bigint").alias("p"),
        F.sum(F.col("ct") - F.col("cp")).cast("bigint").alias("n"),
    )
    return agg.select(
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.expr(
            "CAST((1000000 * (pos_mr2 - p * (p + 1))) div (2 * p * n)"
            " AS BIGINT)"
        ).alias("auc_ppm"),
    )


# --------------------------------------------------------------------------
# exact two-sample Kolmogorov-Smirnov statistic
# --------------------------------------------------------------------------


@query(
    "op-ext-ks-test",
    oracle=f"""
    WITH a AS (SELECT {ex.cents('o_totalprice')} AS v
               FROM orders WHERE year(o_orderdate) = 1995),
    b AS (SELECT {ex.cents('o_totalprice')} AS v
          FROM orders WHERE year(o_orderdate) = 1996),
    na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM a),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM b),
    pts AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS c1, CAST(0 AS BIGINT) AS c2
      FROM a GROUP BY 1
      UNION ALL
      SELECT v, 0, CAST(COUNT(*) AS BIGINT) FROM b GROUP BY 1
    ),
    merged AS (
      SELECT v, SUM(c1) AS c1, SUM(c2) AS c2 FROM pts GROUP BY 1
    ),
    cdf AS (
      SELECT v,
             CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS cum1,
             CAST(SUM(c2) OVER (ORDER BY v) AS BIGINT) AS cum2
      FROM merged
    )
    SELECT (SELECT n1 FROM na) AS n_1995,
           (SELECT n2 FROM nb) AS n_1996,
           CAST(MAX(abs((1000000 * cum1) // (SELECT n1 FROM na)
                        - (1000000 * cum2) // (SELECT n2 FROM nb)))
                AS BIGINT) AS ks_d_ppm
    FROM cdf
    """,
)
def op_ext_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic between the 1995
    and 1996 order-total distributions — the CONTINUOUS drift screen
    beside the categorical op-ext-chisq: D = max |F₁(v) − F₂(v)| over
    the merged observed support, with each empirical CDF in fixed-point
    ppm (integer floor division — one consistent quantization on both
    sides; the max of exact integers is exact). Both CDF prefixes run
    as ONE two-level distributed prefix sum over the merged
    distinct-value frame (an.distributed_prefix) — near-continuous
    cent values never serialize through a single-task window."""
    o = t(spark, sf_dir, "orders")
    cents = F.expr(ex.cents("o_totalprice"))
    a = o.filter(F.year("o_orderdate") == 1995).select(cents.alias("v"))
    b = o.filter(F.year("o_orderdate") == 1996).select(cents.alias("v"))
    na = a.agg(F.count(F.lit(1)).alias("n1"))
    nb = b.agg(F.count(F.lit(1)).alias("n2"))
    pts = (
        a.groupBy("v")
        .agg(F.count(F.lit(1)).alias("c1"))
        .withColumn("c2", F.lit(0).cast("bigint"))
        .unionByName(
            b.groupBy("v")
            .agg(F.count(F.lit(1)).alias("c2"))
            .withColumn("c1", F.lit(0).cast("bigint"))
            .select("v", "c1", "c2")
        )
    )
    merged = pts.groupBy("v").agg(
        F.sum("c1").alias("c1"), F.sum("c2").alias("c2")
    )
    cdf = an.distributed_prefix(merged, "v", ["c1", "c2"]).select(
        F.col("cum_c1").alias("cum1"), F.col("cum_c2").alias("cum2")
    )
    return (
        cdf.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .agg(
            F.max(
                F.abs(
                    F.expr("(1000000 * cum1) div n1")
                    - F.expr("(1000000 * cum2) div n2")
                )
            )
            .cast("bigint")
            .alias("ks_d_ppm"),
            F.first("n1").alias("n_1995"),
            F.first("n2").alias("n_1996"),
        )
        .select("n_1995", "n_1996", "ks_d_ppm")
    )


# --------------------------------------------------------------------------
# ML feature-engineering encoders (round 10)
# --------------------------------------------------------------------------

#: shared verbatim with the oracle — one IEEE divide over exact int64
#: sufficient statistics; groups of one encode NULL (no ELSE branch).
_LOO_EXPR = (
    "CASE WHEN n > 1 THEN CAST(s - y_c AS DOUBLE)"
    " / CAST(n - 1 AS DOUBLE) END"
)


@query(
    "op-ext-target-encode",
    oracle=f"""
    WITH y AS (
      SELECT o_orderkey, o_orderpriority AS prio,
             {ex.cents('o_totalprice')} AS y_c
      FROM orders
    ),
    g AS (
      SELECT prio, CAST(SUM(y_c) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM y GROUP BY 1
    )
    SELECT o_orderkey, prio, {_LOO_EXPR} AS loo_mean_c
    FROM y JOIN g USING (prio)
    """,
)
def op_ext_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature — the
    standard leakage-safe encoder for tree/linear models: each row's
    category value is replaced by the mean target of OTHER rows in its
    category, (Σy_c − y_i)/(n_c − 1), so a row never sees its own label
    (plain mean encoding leaks the target; LOO is the fix). Exact
    int64 cents through the aggregate; the single divide is shared
    verbatim with the oracle (_LOO_EXPR — groups of one encode NULL).
    Spark-first shape: one tiny groupBy (|categories| rows) broadcast
    back onto the fact — NO per-category window, so nothing is
    single-task at 100 TB."""
    y = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.expr(ex.cents("o_totalprice")).alias("y_c"),
    )
    g = y.groupBy("prio").agg(
        F.sum("y_c").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return y.join(F.broadcast(g), "prio").select(
        "o_orderkey", "prio", F.expr(_LOO_EXPR).alias("loo_mean_c")
    )


#: md5 of each feature: its first two hex digits pick the bucket (mod
#: 64), the parity of the third the sign
_FH_H = ex.salted_md5("fh:", "f")


@query(
    "op-ext-feature-hash",
    oracle=f"""
    WITH feats AS (
      SELECT 'seg=' || c_mktsegment AS f FROM customer
      UNION ALL
      SELECT 'nat=' || CAST(c_nationkey AS VARCHAR) AS f FROM customer
    )
    SELECT CAST({ex.hex_int_oracle(_FH_H, 1, 2)} % 64 AS BIGINT) AS bucket,
           CAST(SUM(CASE WHEN {ex.hex_int_oracle(_FH_H, 3, 1)} % 2 = 0
                         THEN 1 ELSE -1 END) AS BIGINT) AS signed_sum,
           CAST(COUNT(*) AS BIGINT) AS n_feats
    FROM feats GROUP BY 1
    """,
)
def op_ext_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML'09 — sklearn's
    HashingVectorizer/FeatureHasher): categorical features map into a
    FIXED 64-bucket space via a content hash, with a second hash bit
    choosing ±1 so colliding features cancel in expectation instead of
    piling up — the standard way to one-hot unbounded vocabularies
    without a fitted dictionary (new categories at inference need no
    re-fit, and the feature matrix width is independent of cardinality:
    exactly what a 100 TB training pipeline needs). md5-derived bucket
    and sign (bit-identical cross-engine, same rule as hash-split);
    explode + one map-side-combined 64-group aggregate."""
    cust = t(spark, sf_dir, "customer")
    feats = cust.select(
        F.explode(
            F.array(
                F.concat(F.lit("seg="), F.col("c_mktsegment")),
                F.concat(F.lit("nat="), F.col("c_nationkey").cast("string")),
            )
        ).alias("f")
    )
    bucket = F.expr(f"CAST({ex.hex_int(_FH_H, 1, 2)} % 64 AS BIGINT)")
    sign = F.expr(f"CASE WHEN {ex.hex_int(_FH_H, 3, 1)} % 2 = 0 THEN 1 ELSE -1 END")
    return feats.groupBy(bucket.alias("bucket")).agg(
        F.sum(sign).cast("bigint").alias("signed_sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_feats"),
    )


# --------------------------------------------------------------------------
# calibration: expected-calibration-error bins (round 11)
# --------------------------------------------------------------------------

@query(
    "op-ext-calibration-ece",
    oracle=f"""
    WITH {sim.oracle_vectors(["label"])},
    cent AS (
      SELECT label, idx.i AS pos,
             CAST(SUM(v[idx.i]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM emb, idx GROUP BY 1, 2
    ),
    cvec AS (
      SELECT label AS clabel,
             list(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                       ELSE -((2 * (-s) + n) // (2 * n)) END
                  ORDER BY pos) AS c
      FROM cent GROUP BY 1
    ),
    dd AS (
      SELECT e.vec_id, e.label, c.clabel,
             CAST(SUM((e.v[idx.i] - c.c[idx.i])
                      * (e.v[idx.i] - c.c[idx.i])) AS BIGINT) AS d
      FROM emb e, cvec c, idx GROUP BY 1, 2, 3
    ),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY d, clabel) AS r
      FROM dd
    ),
    pr AS (
      SELECT a.vec_id, a.label, a.clabel AS pred,
             a.d // 1000 AS d1, b.d // 1000 AS d2
      FROM rk a JOIN rk b USING (vec_id) WHERE a.r = 1 AND b.r = 2
    ),
    sc AS (
      SELECT CASE WHEN label = pred THEN 1 ELSE 0 END AS ok,
             CASE WHEN d1 + d2 = 0 THEN 500000
                  ELSE (1000000 * d2) // (d1 + d2) END AS conf_ppm
      FROM pr
    )
    SELECT LEAST((conf_ppm - 500000) // 2000, 4) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           (1000000 * CAST(SUM(ok) AS BIGINT)) // COUNT(*) AS acc_ppm,
           CAST(SUM(conf_ppm) AS BIGINT) // COUNT(*) AS avg_conf_ppm,
           abs((1000000 * CAST(SUM(ok) AS BIGINT)) // COUNT(*)
               - CAST(SUM(conf_ppm) AS BIGINT) // COUNT(*)) AS gap_ppm
    FROM sc GROUP BY 1
    """,
)
def op_ext_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-calibration-error bins (Guo et al., "On Calibration of
    Modern Neural Networks", ICML 2017): bucket a classifier's
    predictions by confidence and compare each bucket's MEAN confidence
    to its ACTUAL accuracy — the per-bin |acc − conf| gaps are the ECE
    summands (weight n_b/N to get the scalar). The classifier under
    test is nearest-centroid over the embeddings (exact-integer
    centroid means, operators/ivf.lloyd_means, one argmin
    over |labels| broadcast centroids); its confidence is the margin
    ratio d₂/(d₁+d₂) ∈ [0.5, 1] over milli-scaled integer distances
    (the `// 1000` keeps 1e6·d₂ inside int64 — raw d can reach 2.6e14
    — and is applied identically in both engines, so the ratio stays
    engine-exact), binned into five 2000-ppm buckets sized to the MEASURED margin
    spread (nearest-centroid margins on 64-dim data concentrate just
    above 0.5 — quartiles 502k/504k/508k ppm — so paper-style
    [0.5,1]-wide bins would put 100%% of rows in bin 0 and the ECE
    decomposition would be vacuous; width-adapted bins are the
    standard fix, cf. adaptive/equal-mass binning in Nixon et al.
    2019). Everything
    is integer floor-divide arithmetic — no ln/exp/softmax to drift
    cross-engine. Scale shape: one broadcast-centroid argmin pass
    (row-local), one 5-group map-side-combined aggregate; nothing
    data-sized shuffles."""
    from data_warehousing_assignment_spark.operators.ivf import _l2sq, lloyd_means
    from data_warehousing_assignment_spark.operators.similarity import quantize

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", quantize("embedding").alias("qv")
    )
    cvec = lloyd_means(emb, ["label"], "qv", "c").select(
        F.col("label").alias("clabel"), "c"
    )
    dd = emb.crossJoin(F.broadcast(cvec)).select(
        "vec_id",
        "label",
        "clabel",
        _l2sq("qv", "c").alias("d"),
    )
    w = Window.partitionBy("vec_id").orderBy("d", "clabel")
    rk = dd.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 2)
    pr = (
        rk.filter(F.col("r") == 1)
        .select(
            "vec_id",
            "label",
            F.col("clabel").alias("pred"),
            F.expr("d div 1000").alias("d1"),
        )
        .join(
            rk.filter(F.col("r") == 2).select(
                "vec_id", F.expr("d div 1000").alias("d2")
            ),
            "vec_id",
        )
    )
    sc = pr.select(
        F.when(F.col("label") == F.col("pred"), 1).otherwise(0).alias("ok"),
        F.expr(
            "CASE WHEN d1 + d2 = 0 THEN 500000"
            " ELSE (1000000 * d2) div (d1 + d2) END"
        ).alias("conf_ppm"),
    )
    return sc.groupBy(
        F.expr("least((conf_ppm - 500000) div 2000, 4)").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr(
            "(1000000 * CAST(SUM(ok) AS BIGINT)) div COUNT(*)"
        ).alias("acc_ppm"),
        F.expr("CAST(SUM(conf_ppm) AS BIGINT) div COUNT(*)").alias(
            "avg_conf_ppm"
        ),
        F.expr(
            "abs((1000000 * CAST(SUM(ok) AS BIGINT)) div COUNT(*)"
            " - CAST(SUM(conf_ppm) AS BIGINT) div COUNT(*))"
        ).alias("gap_ppm"),
    )
