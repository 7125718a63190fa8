"""Window/statistics analytics operators (extension surface, SURVEY.md
§7.5 — no reference counterpart; the reference's only window use is the
row_number dedup in A3_load_dim_emp.sql).

Everything here is a declarative DataFrame composition — window specs,
exact-integer statistics, bucket assignment — so Catalyst plans the
shuffle-minimal physical form and whole-stage codegen keeps it JVM-side.

Cross-engine determinism (registry.py rules): window sums run on exact
DECIMAL or int64; every interpolated/divided value is ONE final IEEE op
over exact integers, identical in Spark and DuckDB; every window order
carries a unique tiebreaker.

Scale notes:

* Sessionization — a lag + running-sum window partitioned by the entity
  key: one shuffle on ``user_id``, then both window passes and the
  session aggregate reuse that partitioning (no second exchange).
  State per task is one partition's rows, never global.
* Moving average / cumulative sum — windows ordered by time partitioned
  by a series key. The window input is the POST-AGGREGATE daily/monthly
  frame (thousands of rows per series even at 100 TB of raw fact), so
  the per-partition sort is trivially cheap; never run these directly
  over the raw fact table.
* Exact moments (variance / correlation) — single map-side-combinable
  aggregate over int64/decimal power sums; the final moment is computed
  from the exact sums in one expression. This is the scalable exact
  form: no second pass, no double-accumulation nondeterminism.
* ntile / top-k per group — row_number/ntile windows shuffle once on
  the partition key; top-k filters rn <= k immediately after, so only
  k rows per group survive the stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def distributed_prefix(
    g: DataFrame,
    v: str,
    cols: list[str],
    n_buckets: int = 64,
    groups: list[str] | None = None,
) -> DataFrame:
    """INCLUSIVE running sums (``cum_<col>``) of each count column over
    the value order of ``v``, WITHOUT a global single-task window —
    the two-level distributed prefix sum that rank/CDF statistics
    (op-ext-mannwhitney, op-ext-kruskal-wallis, op-ext-auc,
    op-ext-ks-test) ride at scale: on continuous data
    |distinct values| ≈ |rows| and a global ORDER BY window would
    serialize the whole frame through one task.

    Level 1: value-RANGE bucketing — ``width_bucket`` against the
    broadcast 1-row min/max stats (value-based, so the assignment is
    layout-independent; a degenerate min==max frame collapses to
    bucket 1). Per-bucket prefix sums run under
    ``PARTITION BY bucket ORDER BY v`` — v is unique in a distinct
    frame, so every window order is total (determinism rule).
    Level 2: per-bucket totals (one tiny aggregate) get their running
    offsets from a window over ≤ n_buckets+1 rows — bounded by the
    CONSTANT bucket count, not by the data — and broadcast-join back.

    All arithmetic is exact int64 (counts and their prefix sums); the
    only float op is the width_bucket boundary test, which affects
    WHERE a value's prefix is assembled, never the prefix itself.

    With ``groups``, every stage is additionally keyed by the group
    columns (per-group min/max stats joined back, windows partitioned
    by (groups, bucket), offsets per group over its ≤ n_buckets+1
    bucket rows) — a GROUPED prefix sum whose single-task exposure is
    bounded by the constant bucket count per group, never by group
    size (op-ext-percentile-cont's shape).

    NULL handling (r9 advice): a NULL ``v`` gets bucket 0 — it prefixes
    BEFORE every non-null value, i.e. the declared order is NULLS FIRST,
    matching Spark's ascending-window default, so behavior equals the
    single-task ``ORDER BY v`` window the oracles replay (previously
    width_bucket(NULL) → NULL bkt silently dropped such rows at the
    offset equi-join). Group KEYS must be non-null (precondition): the
    stats/offset equi-joins drop NULL group keys, and every caller
    groups by engineered non-null columns."""
    groups = list(groups or [])
    keys = [f"`{c}`" for c in groups]
    # the output keeps the input's columns, group keys first
    out = keys + [f"`{c}`" for c in g.columns if c not in groups]
    stats = g.groupBy(*groups).agg(F.expr(f"min(`{v}`) AS vmin"), F.expr(f"max(`{v}`) AS vmax"))
    b = g.join(F.broadcast(stats), groups) if groups else g.crossJoin(F.broadcast(stats))
    loc = b.selectExpr(
        *out,
        # NULLS FIRST, see docstring
        f"CASE WHEN `{v}` IS NULL THEN 0 WHEN vmin = vmax THEN 1"
        f" ELSE width_bucket(`{v}`, vmin, vmax, {n_buckets}) END AS bkt",
    ).selectExpr(
        "*",
        *[
            f"SUM(`{c}`) OVER (PARTITION BY {', '.join(keys + ['bkt'])} ORDER BY `{v}`"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS `_cum_{c}`"
            for c in cols
        ],
    )
    tot = loc.groupBy(*groups, "bkt").agg(*[F.expr(f"SUM(`{c}`) AS `_tot_{c}`") for c in cols])
    part = f"PARTITION BY {', '.join(keys)} " if groups else ""
    off = tot.selectExpr(
        *keys,
        "bkt",
        *[
            f"coalesce(SUM(`_tot_{c}`) OVER ({part}ORDER BY bkt"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS `_off_{c}`"
            for c in cols
        ],
    )
    return loc.join(F.broadcast(off), groups + ["bkt"]).selectExpr(
        *out,
        *[f"CAST(`_off_{c}` + `_cum_{c}` AS BIGINT) AS `cum_{c}`" for c in cols],
    )


def distributed_ar2(g: DataFrame, v: str = "v") -> DataFrame:
    """Doubled tie-group average ranks over a distinct-value frame with
    count column ``ct``, built on :func:`distributed_prefix`:
    ``ar2 = 2·cum_before + ct + 1 = 2·cum_inclusive − ct + 1`` — also
    exactly the tie group's ``min(rank) + max(rank)`` (the midrank×2
    op-ext-auc needs). Exact int64 throughout."""
    return (
        distributed_prefix(g, v, ["ct"])
        .withColumn("ar2", F.expr("CAST(2 * cum_ct - ct + 1 AS BIGINT)"))
        .drop("cum_ct")
    )


def distributed_ntile(
    df: DataFrame,
    value: str,
    tiebreak: str,
    n_tiles: int,
    descending: bool = False,
) -> DataFrame:
    """NTILE(n) over ``(value ASC|DESC, tiebreak ASC)`` with Spark's
    exact remainder semantics (first ``n_rows mod n`` tiles get one
    extra row), computed WITHOUT the global single-task window
    ``F.ntile`` requires: per-row rank = the distributed prefix sum
    over the distinct-value frame (:func:`distributed_prefix`) plus a
    row_number PARTITIONED by value (tie groups only — bounded by tie
    width, never the data). The tile index is then pure integer
    arithmetic on (rank, n_rows): the untaken CASE branch divides by
    zero only when n_rows < n_tiles, where the taken branch already
    assigned rank-as-tile. Adds a BIGINT ``ntile`` column; ``tiebreak``
    must be unique within a value group so the order is total
    (determinism rule)."""
    d2 = df.withColumn("_v", F.expr(f"-`{value}`" if descending else f"`{value}`"))
    gb = d2.groupBy("_v").agg(F.expr("CAST(count(1) AS BIGINT) AS _ct"))
    base = distributed_prefix(gb, "_v", ["_ct"]).selectExpr(
        "_v", "cum__ct - _ct AS _base"
    )
    nrow = d2.selectExpr("CAST(count(1) AS BIGINT) AS _n")
    k = n_tiles
    return (
        d2.join(base, "_v")
        .selectExpr(
            "*", f"_base + row_number() OVER (PARTITION BY _v ORDER BY `{tiebreak}`) AS _rn"
        )
        .crossJoin(F.broadcast(nrow))
        .selectExpr(
            *[f"`{c}`" for c in df.columns],
            f"CAST(CASE WHEN _rn <= (_n % {k}) * (_n div {k} + 1)"
            f" THEN (_rn - 1) div (_n div {k} + 1) + 1"
            f" ELSE (_n % {k}) + (_rn - (_n % {k}) * (_n div {k} + 1) - 1)"
            f" div (_n div {k}) + 1 END AS BIGINT) AS ntile",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based batch sessionization of events ``(user_id, ts_us,
    event_id)``: a new session starts when the inter-event gap exceeds
    ``gap_minutes``. Returns the input plus ``session_seq`` (1-based
    per-user session index).

    Classic lag → boundary-flag → running-sum formulation; both windows
    share one (user) partitioning so it costs a single shuffle. The
    event-time order carries ``event_id`` so equal timestamps are
    deterministic (registry.py determinism rules)."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    prev = F.lag("ts_us").over(w)
    is_new = F.when(
        prev.isNull() | (F.col("ts_us") - prev > gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    running = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn("_is_new", is_new).withColumn(
        "session_seq", F.sum("_is_new").over(running).cast("bigint")
    ).drop("_is_new")


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column], k: int
) -> DataFrame:
    """Top-k rows per group via row_number ≤ k. ``order_cols`` must end
    in a unique tiebreaker. Adds ``rnk`` (1-based)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn("rnk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rnk") <= k
    )


def exact_var_samp(n: str, s: str, ss: str) -> str:
    """SQL for the sample variance from exact power sums (count, Σx, Σx²)
    — column names of exact integer/decimal sums. One double division at
    the end: var = (n·Σx² − (Σx)²) / (n·(n−1)), bit-identical
    cross-engine (the text is Spark and DuckDB SQL alike)."""
    return (
        f"CAST(CAST({n} AS DECIMAL(38,0)) * {ss} - CAST({s} AS DECIMAL(38,0)) * {s}"
        f" AS DOUBLE) / CAST(CAST({n} AS DECIMAL(38,0)) * ({n} - 1) AS DOUBLE)"
    )


def exact_corr(n: str, sx: str, sy: str, sxx: str, syy: str, sxy: str) -> str:
    """SQL for the Pearson correlation from exact power sums (column
    names): every term is computed in DECIMAL(38,0) (no int64 overflow
    at 100 TB row counts), then exactly three IEEE ops (two sqrt, one
    divide) — deterministic in any engine that evaluates the same
    expression; the text is Spark and DuckDB SQL alike."""
    def ss(a: str, b: str, ab: str) -> str:
        return f"CAST({n} AS DECIMAL(38,0)) * {ab} - CAST({a} AS DECIMAL(38,0)) * {b}"

    return (
        f"CAST({ss(sx, sy, sxy)} AS DOUBLE)"
        f" / (sqrt(CAST({ss(sx, sx, sxx)} AS DOUBLE))"
        f" * sqrt(CAST({ss(sy, sy, syy)} AS DOUBLE)))"
    )


def pack_sequences(
    docs: DataFrame,
    tokens_col: Column,
    budget: int = 512,
    part_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a stable
    order and cut training sequences every ``budget`` tokens (documents
    may span a boundary). Emits per-doc packing coordinates:
    ``n_tokens``, running ``cum_tokens``, the 0-based ``chunk_start`` /
    ``chunk_end`` sequence ids, and ``spans`` (# sequences touched).

    Packing is per-``part_col`` (shard): a global concatenation order
    would serialize the cumulative sum through one partition; per-shard
    packing is how the real pipelines do it (pack within a shard, shard
    count scales with the cluster). All math is int64 — deterministic
    everywhere."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tk = tokens_col.cast("bigint")
    out = docs.withColumn("n_tokens", tk).filter(F.col("n_tokens") > 0)
    cum = F.sum("n_tokens").over(w)
    return (
        out.withColumn("cum_tokens", cum)
        # integer `div`, never double division: double loses exactness
        # past 2^53 cumulative tokens — real at 100 TB corpus scale
        .withColumn(
            "chunk_start", F.expr(f"(cum_tokens - n_tokens) div {budget}")
        )
        .withColumn("chunk_end", F.expr(f"(cum_tokens - 1) div {budget}"))
        .withColumn("spans", F.col("chunk_end") - F.col("chunk_start") + 1)
    )


def chunk_totals(packed: DataFrame, budget: int = 512) -> DataFrame:
    """Materialize the per-sequence view of :func:`pack_sequences`: each
    doc explodes over the chunk range it spans, contributing the integer
    token overlap ``min(cum, (c+1)·B) − max(cum−tk, c·B)`` to chunk c.
    Output per (``source`` shard, chunk): token total (== budget for every chunk
    except a shard's last — the packing invariant), docs touching, docs
    starting.

    Explode fan-out is bounded by doc_tokens/budget + 1; the aggregate
    shuffles on (shard, chunk) — both scale linearly."""
    chunks = packed.withColumn(
        "chunk", F.explode(F.sequence("chunk_start", "chunk_end"))
    )
    lo = F.greatest(
        F.col("cum_tokens") - F.col("n_tokens"), F.col("chunk") * budget
    )
    hi = F.least(F.col("cum_tokens"), (F.col("chunk") + 1) * budget)
    return chunks.groupBy("source", "chunk").agg(
        F.sum(hi - lo).alias("n_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("chunk_start") == F.col("chunk"), 1).otherwise(0)
        ).alias("n_docs_starting"),
    )


def ewma(
    df: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Exponentially-weighted moving average per series:
    ``y_i = α·x_i + (1−α)·y_{i−1}``, seeded with ``y_0 = x_0``.

    The recursion is inherently sequential WITHIN a series, so the
    scalable decomposition is: parallel across series, sequential
    inside each — ``applyInPandas`` with the series key as the group.
    Run it on POST-AGGREGATE frames (daily/hourly rollups) where each
    series is calendar-bounded; at 100 TB the number of series, not the
    raw fact count, sets the parallelism (same contract as the
    gap-fill / sessionize operators).

    Output: part_col, order_col, value_col, ``ewma`` (double).
    """
    import pandas as pd

    schema = df.select(part_col, order_col, value_col).schema.add(
        "ewma", "double"
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        # Explicit loop, NOT pandas ewm(adjust=False): ewm internally
        # computes ((1−α)·y + α·x)/((1−α)+α) and short-circuits when the
        # running average equals the incoming value — bit-identical to
        # the plain recurrence for some α/data but not structurally
        # guaranteed. The loop below IS the documented op sequence
        # (one multiply each side, one add), so any engine replaying
        # the recurrence (DuckDB's WITH RECURSIVE oracle) agrees
        # bit-for-bit for EVERY α, not just the registered 0.3 (r8
        # advice). Series are calendar-bounded post-aggregate frames,
        # so the per-group Python loop is thousands of steps, not
        # billions — the parallelism is across series.
        x = pdf[value_col].astype("float64").to_list()
        ys: list[float] = []
        for v in x:
            ys.append(v if not ys else alpha * v + (1.0 - alpha) * ys[-1])
        pdf["ewma"] = ys
        return pdf[[part_col, order_col, value_col, "ewma"]]

    return (
        df.select(part_col, order_col, value_col)
        .groupBy(part_col)
        .applyInPandas(smooth, schema)
    )


def skyline_2d(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Pareto frontier (2-D skyline, maximize both axes) per group.

    A point is ON the frontier iff no other point in its group weakly
    dominates it: ``x' ≥ x AND y' ≥ y`` with at least one strict.
    Duplicate (x, y) points neither dominate each other nor leave the
    frontier together — they are collapsed to one output row with a
    multiplicity count.

    Scale design — the naive formulation is an O(n²) NOT-EXISTS self
    join; the textbook window form (max(y) over the ``[x+1, ∞)`` RANGE
    frame) is no better in Spark, whose
    UnboundedFollowingWindowFunctionFrame RECOMPUTES the aggregate for
    every row — O(partition²), measured as a hang on a 200 k-point
    partition. This decomposition is all-incremental:

    1. collapse to one row per (group, x): ``y_slice = max(y)`` — only
       the top-y point of an x-slice can be on the frontier (any lower
       y in the slice is weakly dominated by it);
    2. over the slice frame ORDERED BY x DESC, running
       ``max(y_slice) OVER (rows unbounded preceding .. 1 preceding)``
       = best y among strictly-greater x — an O(n) incremental frame;
    3. a slice survives iff ``y_slice > that running max``; join back
       to the distinct-point frame to recover the multiplicity count.

    Both aggregation steps and the window share the (group-, x-)keyed
    shuffle; the window partition is |distinct x| rows per group — at
    100 TB the slice frame is the cardinality of the x domain, not the
    fact table.

    Output: ``(*group_cols, x_col, y_col, n_points)`` — frontier points
    only.
    """
    pts = df.groupBy(*group_cols, x_col, y_col).agg(
        F.count(F.lit(1)).alias("n_points")
    )
    slices = pts.groupBy(*group_cols, x_col).agg(
        F.max(y_col).alias("_y_slice")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(x_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        slices.withColumn("_best_gt", F.max("_y_slice").over(w))
        .filter(
            F.col("_best_gt").isNull()
            | (F.col("_y_slice") > F.col("_best_gt"))
        )
        .select(*group_cols, x_col, F.col("_y_slice").alias(y_col))
    )
    return frontier.join(pts, on=[*group_cols, x_col, y_col])


def holt_linear(
    df: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per series
    (Holt 1957): level ``l_i = α·x_i + (1−α)(l_{i−1}+b_{i−1})``, trend
    ``b_i = β(l_i−l_{i−1}) + (1−β)b_{i−1}``, seeded l₀=x₀, b₀=x₁−x₀
    (0 for 1-point series); one-step forecast = l+b. EWMA's upgrade
    when series drift — same scalable decomposition (parallel across
    series via ``applyInPandas``, sequential inside; run on
    POST-AGGREGATE calendar-bounded frames).

    Output: part_col, order_col, value_col, ``level``, ``trend``,
    ``forecast`` (doubles).
    """
    import pandas as pd

    schema = (
        df.select(part_col, order_col, value_col)
        .schema.add("level", "double")
        .add("trend", "double")
        .add("forecast", "double")
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        x = pdf[value_col].astype("float64").to_list()
        lv, tr = [x[0]], [x[1] - x[0] if len(x) > 1 else 0.0]
        for i in range(1, len(x)):
            lv.append(alpha * x[i] + (1 - alpha) * (lv[-1] + tr[-1]))
            tr.append(beta * (lv[-1] - lv[-2]) + (1 - beta) * tr[-1])
        pdf["level"] = lv
        pdf["trend"] = tr
        pdf["forecast"] = [a + b for a, b in zip(lv, tr)]
        return pdf[[part_col, order_col, value_col, "level", "trend",
                    "forecast"]]

    return (
        df.select(part_col, order_col, value_col)
        .groupBy(part_col)
        .applyInPandas(smooth, schema)
    )
