"""Connected-components tests: hand-built graphs with known components,
chain convergence (diameter > 1 iteration), determinism, and the
cluster-summary rollup."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators import graph as gr
from tests.conftest import count_jobs


def _cc_jobs(spark, node_ids, edge_pairs):
    """(labels, Spark jobs connected_components ran while building)."""
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id bigint")
    edges = spark.createDataFrame(
        edge_pairs or [(None, None)], "src bigint, dst bigint"
    ).filter(F.col("src").isNotNull())
    out, jobs = count_jobs(spark, lambda: gr.connected_components(nodes, edges))
    return {r.id: r.component for r in out.collect()}, jobs


def _cc(spark, node_ids, edge_pairs):
    return _cc_jobs(spark, node_ids, edge_pairs)[0]


def test_two_components_and_singleton(spark):
    # {1,2,3} triangle, {10,11} pair, {99} isolated
    got = _cc(spark, [1, 2, 3, 10, 11, 99], [(1, 2), (2, 3), (1, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_chain_propagates_beyond_one_hop(spark):
    # path 5-4-3-2-1: min label must travel the full diameter
    got = _cc(spark, [1, 2, 3, 4, 5], [(5, 4), (4, 3), (3, 2), (2, 1)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_no_edges_all_singletons(spark):
    """An empty graph stops after two rounds (its Σ probe is NULL both
    times), not after all max_iter rounds: it runs no more jobs than a
    one-edge graph, which converges in exactly two."""
    got, jobs = _cc_jobs(spark, [7, 8, 9], [])
    assert got == {7: 7, 8: 8, 9: 9}
    two_rounds = _cc_jobs(spark, [1, 2], [(1, 2)])[1]
    assert 0 < jobs <= two_rounds


def test_edge_direction_irrelevant(spark):
    # labels flow against edge orientation too (symmetrized internally)
    assert _cc(spark, [1, 2], [(2, 1)]) == _cc(spark, [1, 2], [(1, 2)])


def test_component_summary_sizes(spark):
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "id bigint")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
    )
    comp = gr.connected_components(nodes, edges)
    sizes = {
        r.component: r.group_size
        for r in gr.component_summary(comp).collect()
    }
    assert sizes == {1: 3, 10: 2, 99: 1}


def test_long_chain_converges_in_log_rounds(spark):
    """Pointer doubling: a 200-node path must fully label within 12
    rounds (propagated distance grows ~2^r per round; plain one-hop
    propagation would need ~200 rounds and produce wrong labels under
    this max_iter)."""
    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint"
    )
    out = gr.connected_components(nodes, edges, max_iter=12)
    got = {r.id: r.component for r in out.collect()}
    assert got == {i: 0 for i in range(n)}


def test_k_core_matches_python_peel(spark):
    """Exact surviving-node parity with a literal python peel at
    sf0.001."""
    from pyspark.sql import functions as F

    from data_warehousing_assignment_spark.operators.graph import (
        k_core,
        part_copurchase_edges,
    )

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select("l_orderkey", "l_partkey")
    edges_df = part_copurchase_edges(li)
    edges = {(r["u"], r["v"]) for r in edges_df.collect()}

    K = 3
    cur = set(edges)
    while True:
        deg: dict = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= K}
        nxt = {(u, v) for u, v in cur if u in keep and v in keep}
        if nxt == cur:
            break
        cur = nxt
    expect_deg: dict = {}
    for u, v in cur:
        expect_deg[u] = expect_deg.get(u, 0) + 1
        expect_deg[v] = expect_deg.get(v, 0) + 1
    expect = {n: d for n, d in expect_deg.items() if d >= K}

    got = {
        r["n"]: r["d"] for r in k_core(edges_df, k=K).collect()
    }
    assert got == expect
    # the core is non-trivial on the planted co-purchase graph
    assert len(got) > 0
