"""Iterative graph operators for dedup clustering (extension surface,
SURVEY.md §7.5 — no reference counterpart; the reference's dedup stops
at pandas drop_duplicates, ref ``ET_combined.py:118-132``).

Near-duplicate detection yields PAIRS (MinHash-LSH candidates verified
by n-gram Jaccard, operators/dedup.py); a training-data pipeline needs
CLUSTERS — "these 5 documents are all the same article" — so it can keep
one representative per group. That is connected components over the
pair graph.

Scale design: min-label propagation with POINTER DOUBLING. Each
iteration forwards labels along the (pre-partitioned, pinned) edge
list and re-aggregates with ONE map-side-combinable min per node —
a single exchange keyed by node id, never materializing anything
super-linear in |edges| — followed — once the graph has survived two
rounds unconverged — by a shortcut join
``label(v) <- label(label(v))`` — the path-doubling step of
Shiloach-Vishkin-style CC (same O(log) mechanics as the
large-star/small-star alternation of Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14, which contracts edges
instead of labels). One propagation hop then doubles the distance a
label has already travelled, so rounds scale with LOG(diameter)
instead of diameter — a 100 TB dup graph with an adversarial chain
converges in ~log₂(chain) rounds while dense near-dup blobs still
finish in 2-3. The shortcut join is keyed on the current label: its
shuffle is |V| rows of two int64s, the same order as the propagation
join it rides behind.

The driver-side ``while`` loop is inherent to iterative graph
algorithms (GraphX/GraphFrames do the same): each iteration is fully
distributed; the only driver data is the 1-scalar convergence count,
observed on the eager ``localCheckpoint`` that also truncates the
lineage each round so the plan does not grow exponentially with
iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.caching import pin


def _observed_checkpoint(df: DataFrame, agg_sql: str) -> tuple[DataFrame, object]:
    """``df`` as an eager ``localCheckpoint``, and the value of the SQL
    aggregate ``agg_sql`` over its rows. The aggregate is an
    ``Observation`` on the checkpoint's own job, so the scalar costs no
    job of its own; the checkpoint cuts the loop's lineage."""
    obs = Observation()
    df = df.observe(obs, F.expr(f"{agg_sql} AS v")).localCheckpoint(eager=True)
    return df, obs.get["v"]


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the MINIMUM node id reachable from it
    (undirected reachability over ``edges``); isolated nodes label
    themselves. Returns ``(id_col, component)``.

    min-label propagation with pointer doubling: per round,
    ``label(v) <- min(label(v), min over neighbors u of label(u))``
    then ``label(v) <- label(label(v))`` until a fixpoint. The shortcut
    can only REPLACE a label with the label of a reachable node — a
    smaller label of the same component — so every intermediate state
    stays "label(v) is some node reachable from v" and the fixpoint
    (min reachable id) is unchanged and unique regardless of iteration
    order, which is what makes an exact DuckDB recursive-CTE oracle
    possible (registry_extensions.py: op-ext-dedup-clusters). Rounds:
    O(log diameter) — the chain test pins a 200-node path converging
    within 12 rounds, where plain propagation needs 200.
    """
    # Symmetric edge list — propagation must flow both directions.
    # PINNED: the incoming `edges` is typically an expensive pipeline
    # (minhash → LSH bucket join → Jaccard verify); joined once per
    # iteration, an unpersisted plan would re-run that whole pipeline
    # every round (benchmarked 30 s → 4 s at the 10× probe).
    # PRE-PARTITIONED on the propagation key before the pin (r14,
    # guide §2.4): the persisted frame reports hashpartitioning(_a), so
    # each round's edge⋈labels join re-shuffles only the (tiny) labels
    # side — the edge list crosses the wire once per CC run, not once
    # per round.
    fwd = edges.selectExpr(f"`{src_col}` AS _a", f"`{dst_col}` AS _b")
    sym = pin(fwd.union(fwd.selectExpr("_b AS _a", "_a AS _b")).repartition("_a"))
    edge_nodes = sym.selectExpr("_a AS _node")

    # Only nodes that touch an edge can ever change label — isolated
    # nodes label themselves by construction. Run the iteration over
    # the edge-touched subgraph and union the isolated nodes back at
    # the end (r14): per-round join/aggregate work scales with the dup
    # graph, not the corpus. (In a typical corpus most documents are
    # singletons; at 100 TB that is the difference between iterating
    # over everything and iterating over the few % that deduplicate.)
    all_nodes = nodes.selectExpr(f"`{id_col}` AS _node")
    labels = (
        all_nodes.join(edge_nodes, "_node", "semi")
        .selectExpr("_node", "_node AS component")
        .localCheckpoint(eager=False)
    )

    # No seed-sum job (r15, guide §5 driver round-trips): round 1's own
    # scalar is the first probe. The seed previously let a graph already
    # at its fixpoint exit after one round — but with min-label init
    # that only happens when EVERY edge is a self-loop: any edge (a, b)
    # with a ≠ b strictly decreases max(label(a), label(b)) in round 1,
    # so for real pair graphs (the near-dup builders emit a < b only)
    # the seed comparison could never fire and its one extra driver
    # round-trip + full labels pass per CC run bought nothing. A
    # self-loop-only graph now converges in 2 rounds instead of 1 —
    # same result, one cheap extra round on a degenerate input. A graph
    # with no edges has an empty label set whose Σ is NULL both rounds,
    # so it stops after round 2 as well.
    prev_sum = None
    for i in range(max_iter):
        # One exchange per round (r14; was join → groupBy → left-join =
        # three): each edge forwards its source's label to its target,
        # the union with the current labels re-aggregates per node with
        # a map-side-combinable MIN. min(own, incoming) ≡ the previous
        # least/coalesce formulation row for row.
        incoming = sym.join(labels, F.expr("_a = _node")).selectExpr(
            "_b AS _node", "component"
        )
        propagated = (
            labels.unionByName(incoming)
            .groupBy("_node")
            .agg(F.expr("min(component) AS component"))
        )
        if i >= 3:
            # Pointer doubling: label(v) <- label(label(v)). Every label
            # IS a node id (init + mins over node ids) and every node
            # appears in `propagated` exactly once, so the inner join is
            # total. Labels are monotonically non-increasing, hence
            # label(label(v)) ≤ label(v) — least() is belt-and-braces,
            # not a semantic change. Engaged only from round 4: dense
            # near-dup blobs (diameter ≤ ~3) converge — including the
            # zero-change confirmation round — before it ever runs and
            # pay zero extra joins, while a still-unconverged graph is
            # diameter-bound and from here doubling covers ~2^(r-2)
            # hops by round r — O(log d) total rounds either way (sf1
            # probe: unconditional doubling cost +2.3 s on the
            # blob-shaped dedup graph for zero round savings).
            propagated = propagated.join(
                propagated.selectExpr("_node AS _p", "component AS _pcomp"),
                F.expr("component = _p"),
            ).selectExpr("_node", "least(component, _pcomp) AS component")
        # Convergence probe WITHOUT a changed-flag pass (r14): labels
        # only ever decrease, so Σ component (exact decimal sum of
        # int64 ids) is strictly decreasing while anything changes and
        # exactly equal at the fixpoint. The sum is observed on the
        # round's own checkpoint job: no scalar job of its own.
        labels, cur_sum = _observed_checkpoint(
            propagated, "sum(CAST(component AS DECIMAL(38,0)))"
        )
        if i > 0 and cur_sum == prev_sum:
            break
        prev_sum = cur_sum

    isolated = all_nodes.join(edge_nodes, "_node", "anti").selectExpr(
        "_node", "_node AS component"
    )
    return labels.unionByName(isolated).selectExpr(
        f"_node AS `{id_col}`", "component"
    )


def pagerank_fixed_point(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Deterministic fixed-ITERATION, fixed-POINT PageRank.

    Classic float PageRank is unreproducible across engines (double
    summation order changes the low bits, and low bits flip ranks), so
    every value here is an int64: ranks start at ``scale`` = 10⁹, a node's
    per-edge contribution is ``rank div outdeg`` (floor division — exact
    everywhere), and the update is

        rank' = ((100 - d)·scale) div 100  +  (d · Σ contribs) div 100

    i.e. the standard damped update with probability expressed in
    integer percent. The result is a well-defined deterministic variant
    of PageRank (floor-rounded at each step, error < iters·outdeg in
    scale units — irrelevant at scale=1e9), which is what lets a DuckDB
    CTE chain reproduce it bit-for-bit.

    Scale design: each iteration is ONE shuffle — join ranks to edges on
    src (rank rows are two int64s), partial-sum contributions map-side,
    aggregate on dst. The edge list is pinned so iterations don't replay
    its upstream plan; the driver loop runs a FIXED ``iters`` with no
    action per round (pure plan composition, unlike the convergence-
    probed CC loop above). int64 headroom: Σ contribs ≤ |V|·scale, so
    85·Σ needs |V|·scale < 9.2e18/100 — at scale=1e9 that is ~10^8
    nodes; beyond that drop scale one decade per 10× nodes.

    ``edges(src, dst)`` must already be directed the way probability should flow
    (symmetrize for undirected graphs). Every node must appear as a src
    at least once (true for symmetrized graphs); dangling-node mass
    redistribution is deliberately out of scope for this variant.
    Returns ``(node, rank_i)``.
    """
    scale = 10**9
    e0 = edges.select(F.col("src").alias("_src"), F.col("dst").alias("_dst"))
    outdeg = e0.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg"))
    # degree is loop-invariant: stamp it onto the edge list ONCE so each
    # iteration pays a single join instead of two (edges ⋈ ranks only).
    e = pin(e0.join(outdeg, on="_src"))
    nodes = e.select(F.col("_src").alias("node")).distinct().unionByName(
        e.select(F.col("_dst").alias("node")).distinct()
    ).distinct()
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.withColumn("rank_i", F.lit(scale).cast("bigint"))
    for _ in range(iters):
        contribs = (
            e.join(ranks, e["_src"] == ranks["node"])
            .select(
                F.col("_dst").alias("node"),
                F.expr("rank_i div _deg").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_csum"))
        )
        ranks = nodes.join(contribs, on="node", how="left").select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_pct} * coalesce(_csum, 0L)) div 100"
                )
            ).cast("bigint").alias("rank_i"),
        )
    return ranks


def component_summary(components: DataFrame) -> DataFrame:
    """Per-cluster rollup of :func:`connected_components` output:
    ``(component, group_size)`` — the component label IS the surviving
    representative (min id), so dedup = keep rows where
    ``id == component``. One map-side-combined count aggregation."""
    return components.groupBy("component").agg(
        F.count(F.lit(1)).alias("group_size")
    )


def part_copurchase_edges(li: DataFrame) -> DataFrame:
    """Canonical undirected co-purchase edges: parts sharing an order,
    u < v, distinct — the shared edge builder for triangle_count /
    clustering-coefficient registry ops. One order-keyed self-join;
    fan-out per order is a data constant (lines per order)."""
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
    )


def node_degrees(edges: DataFrame) -> DataFrame:
    """(n, d) degree frame of a canonical undirected edge set."""
    nodes = edges.select(F.col("u").alias("n")).unionAll(
        edges.select(F.col("v").alias("n"))
    )
    return nodes.groupBy("n").agg(F.count(F.lit(1)).alias("d"))


def oriented_triangles(edges: DataFrame) -> DataFrame:
    """Every triangle exactly once as (a, b, c) = (pivot, second,
    third in the (degree, node) total order) via degree-ordered
    orientation (Suri–Vassilvitskii / Cohen): orient each undirected
    edge from its lower- to higher-(degree, id) endpoint — the order
    key is a STRUCT (d, n) comparison, total for ANY id range (an
    int64-packed d·2³² + n key silently collides once ids reach 2³²,
    i.e. exactly the 100 TB regime) — then wedges are out-neighbor
    pairs of a common pivot and a triangle is a wedge whose closure
    edge exists. All equi-joins; out-degree under this order is
    O(√m) on any graph, so wedges are O(m^1.5) even with hub nodes.

    The oriented frame and the triangle output are pinned
    (caching.pin): wedge sides, closure probe, and the callers'
    multi-consumer rollups reuse them instead of re-deriving the
    pipeline."""
    deg = node_degrees(edges)
    dk = deg.select("n", F.struct(F.col("d"), F.col("n")).alias("ok"))
    e = (
        edges.join(
            dk.withColumnRenamed("n", "u").withColumnRenamed("ok", "oku"),
            "u",
        ).join(
            dk.withColumnRenamed("n", "v").withColumnRenamed("ok", "okv"),
            "v",
        )
    )
    lt = F.col("oku") < F.col("okv")
    o = pin(
        e.select(
            F.when(lt, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lt, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(lt, F.col("okv")).otherwise(F.col("oku")).alias("okt"),
        )
    )
    a = o.select("s", F.col("t").alias("x"), F.col("okt").alias("okx"))
    b = o.select("s", F.col("t").alias("y"), F.col("okt").alias("oky"))
    wedges = (
        a.join(b, "s")
        .filter(F.col("okx") < F.col("oky"))
        .select("s", F.col("x").alias("wv"), F.col("y").alias("ww"))
    )
    closures = o.select(F.col("s").alias("wv"), F.col("t").alias("ww"))
    return pin(
        wedges.join(closures, ["wv", "ww"]).select(
            F.col("s").alias("a"),
            F.col("wv").alias("b"),
            F.col("ww").alias("c"),
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact global triangle census via :func:`oriented_triangles`.
    Output: one row (n_nodes, n_edges, n_triangles)."""
    deg = node_degrees(edges)
    tris = oriented_triangles(edges)
    return (
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
        .crossJoin(tris.agg(F.count(F.lit(1)).alias("n_triangles")))
        .select("n_nodes", "n_edges", "n_triangles")
    )


def k_core(edges: DataFrame, k: int) -> DataFrame:
    """The k-core of an undirected graph (canonical u<v edges): the
    maximal subgraph where every node has degree ≥ k, computed by the
    standard peeling fixpoint — drop all nodes with degree < k,
    recompute degrees, repeat until stable (Seidman 1983; the
    community-density screen coarser than clustering coefficients but
    linear-time).

    Same driver-loop contract as :func:`connected_components`: each
    round is one distributed semi-join + one degree aggregation, the
    only driver data is the surviving-edge count, observed on the
    round's eager ``localCheckpoint`` that truncates its lineage.
    Rounds are bounded by the degeneracy ordering depth — small for
    real graphs (the sf0.1 co-purchase graph converges in ≤4); the loop
    stops after 30 rounds at most.

    Returns the surviving (n, d) degree frame (nodes of the k-core
    with their in-core degrees).
    """
    cur, before = _observed_checkpoint(edges.select("u", "v"), "count(1)")
    for _ in range(30):
        keep = node_degrees(cur).filter(f"d >= {k}").select("n")
        cur, after = _observed_checkpoint(
            cur.join(keep.withColumnRenamed("n", "u"), "u", "semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "semi")
            .select("u", "v"),
            "count(1)",
        )
        if after == before:
            break
        before = after
    return node_degrees(cur).filter(F.col("d") >= k)


def clustering_coefficient_top(
    edges: DataFrame, min_degree: int = 10, k: int = 20
) -> DataFrame:
    """Top-``k`` nodes by Watts–Strogatz local clustering coefficient in
    fixed-point ppm: per node, triangles ÷ C(deg, 2), degree floor
    ``min_degree``, tiebreak (coef desc, node asc). Per-node triangle
    credit reuses :func:`oriented_triangles` (each triangle found once
    at its pivot, credited to all 3 corners by one 3-way union over the
    pinned triangle frame). SHARED body of the registry op
    (op-ext-clustering-coef) and the sf10 value pin
    (tools/scale_pins.py) so the pin can never drift from the shipped
    pipeline (r12 review)."""
    deg = node_degrees(edges)
    tris = oriented_triangles(edges)
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    pertri = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    return (
        deg.withColumnRenamed("n", "node")
        .join(pertri, "node", "left")
        .filter(F.col("d") >= min_degree)
        .select(
            F.col("node").alias("part_key"),
            F.col("d").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.expr(
                "CAST((2000000 * coalesce(n_tri, 0)) div (d * (d - 1))"
                " AS BIGINT)"
            ).alias("coef_ppm"),
        )
        .orderBy(F.desc("coef_ppm"), F.asc("part_key"))
        .limit(k)
    )
