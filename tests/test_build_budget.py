"""Build-cost guard: building any registered query, or one warehouse
ETL load, sends fewer than ``BUDGET`` py4j call commands. A builder
that goes back to one literal Column per bit, coefficient, signature
slot or band, to Python-lambda Column trees per Lloyd or BPE round, to
hand-built Column copies of a scoring, ranking or prefix-sum stage, to
one Column chain and one filtered DQ slice per cleaning rule, or to
Column trees built one attribute at a time in the SCD2 merge, dim
upserts, fact anti-joins and audit (thousands of JVM round trips before
any data moves), fails here. The incremental fact load's date-window
prune is pinned to one bounds collect, the k-core peel to the jobs of
its round checkpoints, and connected components to < 100 calls. Each
registered query's plan also audits to exactly its ``plan_audit``
allowance, so a new cartesian or unpartitioned window fails here, and so
does an allowance that no longer matches its plan. Once each testdata
table's schema is memoized, building a query not declared ``eager`` runs
no Spark job unless ``BUILD_JOBS`` names it with the reason; an entry
whose query builds without a job fails too."""

from __future__ import annotations

import pytest

from data_warehousing_assignment_spark.caching import cache_scope, release_unscoped
from data_warehousing_assignment_spark.registry import all_queries, t
from data_warehousing_assignment_spark.sources import TESTDATA_TABLES
from perfbench.trace import Py4jCounter
from tests.conftest import SF_SMALL, count_jobs
from tools.plan_audit import ALLOWED, audit

#: every registered query, and one run_etl load (clean + DQ of three
#: domains, 5 dim upserts, SCD2, 3 incremental facts, audit)
BUDGET = 1000

#: the queries, not declared eager, whose build runs Spark jobs on
#: purpose, each with the reason
BUILD_JOBS = {
    # a driver-side scalar the plan is built from
    "op-agg-scalar-max": "collects the 90-day watermark the scan filters on",
    "op-pipe-fact-incr": "collects the date-window prune's min/max bounds",
    "op-ext-semantic-dedup": "counts the corpus to size k = n/500 clusters",
    "op-ext-hybrid-fusion": "counts the corpus to size the auto IVF k",
    "op-ext-fusion-gain": "counts the corpus to size the auto IVF k",
    "op-ext-fusion-baseline": "counts corpus and queries to size the auto IVF k",
    # a checkpoint the returned plan reads
    "op-ext-cms-join-size": "checkpoints the sketch cells both join sides read",
    "op-ext-kcore": "checkpoints each peel round and reads its edge count",
    # the op is a write at build; the frame it returns reads it back
    "op-ext-merge-txlog": "commits the base and the merge versions to a log",
    "op-ext-txlog-skip": "commits the monthly versions the skip reads",
    "op-ext-time-travel": "commits three versions and infers their schema",
    "op-ext-bucket-join": "writes both sides as bucketed tables",
    "op-ext-tpch-q7-bucketed": "writes its bucketed layout (setup, not timed)",
    "op-ext-tpch-q9-bucketed": "writes its bucketed layout (setup, not timed)",
    "op-ext-tpch-q21-bucketed": "writes its bucketed layout (setup, not timed)",
    "op-scan-excel": "collects region into the .xlsx it reads back",
    "op-scan-csv-seed": "writes the CSV seed and infers its schema on purpose",
    "op-scan-jsonl": "writes the .jsonl it reads back",
    "op-scan-orc": "writes the ORC it reads back",
    "op-scan-xml": "writes the XML it reads back",
    "op-scan-merge-schema": "writes two batches and merges their schemas on purpose",
    "op-sink-jdbc-replace": "overwrites the sink twice",
    "op-sink-jdbc-append": "writes then appends to the sink",
    "op-sink-insert-select": "runs two INSERT ... SELECT batches",
    "op-materializations": "writes the table, then the incremental append",
}


@pytest.fixture(scope="module")
def memoized_schemas(spark):
    """One ``t()`` of each testdata table, events first: its read sets
    the nanosAsLong conf that is part of every schema memo key."""
    for name in sorted(TESTDATA_TABLES, key=lambda n: n != "events"):
        t(spark, SF_SMALL, name)


def _build_calls(build, inspect=None) -> int:
    """py4j call commands sent while ``build()`` runs. ``inspect`` gets
    the built frame after the count stops and before the build's pins
    are released."""
    counter = Py4jCounter()
    counter.install()
    try:
        counter.active = True
        frame = build()
        counter.active = False
        if inspect is not None:
            inspect(frame)
    finally:
        counter.active = False
        counter.uninstall()
        release_unscoped()
    return counter.calls


def _drop_checkpoints(spark) -> None:
    """Iterative ops leave localCheckpoint RDDs behind; drop them so later
    cached-RDD accounting starts clean."""
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)


@pytest.mark.parametrize("op", list(all_queries()))
def test_every_query_builds_under_registry_budget(spark, memoized_schemas, op):
    build = all_queries()[op]
    flags: set[str] = set()
    try:
        calls, jobs = count_jobs(spark, lambda: _build_calls(
            lambda: build(spark, SF_SMALL), lambda df: flags.update(audit(df))
        ))
    finally:
        _drop_checkpoints(spark)
    assert calls < BUDGET, f"{op}: {calls} py4j calls"
    assert flags == ALLOWED.get(op, set()), f"{op}: plan_audit flags {sorted(flags)}"
    if not build.eager:
        assert (jobs > 0) == (op in BUILD_JOBS), (
            f"{op}: {jobs} Spark jobs at build, BUILD_JOBS entry: {BUILD_JOBS.get(op)!r}"
        )


def test_build_jobs_names_registered_queries_not_declared_eager():
    queries = all_queries()
    assert [op for op in BUILD_JOBS if op not in queries or queries[op].eager] == []


def test_run_etl_builds_in_few_py4j_calls(spark):
    """Both loads of the golden warehouse fixtures: the initial one and
    an incremental one on its state. The count includes the calls that
    checkpoint each load's intermediates and read its audit counts."""
    from data_warehousing_assignment_spark.plans.warehouse import run_etl
    from tests.test_warehouse import (
        FIN_COLS, FIN_ROWS, HR_COLS, HR_ROWS, OPS_COLS, OPS_ROWS,
    )

    raw = [
        spark.createDataFrame(rows, cols)
        for rows, cols in ((HR_ROWS, HR_COLS), (FIN_ROWS, FIN_COLS), (OPS_ROWS, OPS_COLS))
    ]
    states: list[dict] = []
    with cache_scope():  # releases the loads' checkpoints
        for load_date in ("2024-02-01", "2024-02-02"):
            prior = states[-1] if states else None
            calls = _build_calls(lambda: states.append(run_etl(spark, *raw, load_date, prior)))
            assert calls < BUDGET, f"run_etl {load_date}: {calls} py4j calls"


def test_connected_components_rounds_send_few_py4j_calls(spark):
    """Each connected-components round is SQL text and reads its
    Σcomponent from an Observation on its own checkpoint: a
    two-component graph builds in < 100 py4j calls."""
    from data_warehousing_assignment_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "id bigint")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11)], "src bigint, dst bigint"
    )
    try:
        calls = _build_calls(lambda: connected_components(nodes, edges))
    finally:
        _drop_checkpoints(spark)
    assert calls < 100, f"connected_components: {calls} py4j calls"


def _build_jobs(spark, op) -> int:
    """Spark jobs run while building ``op`` at sf0.001."""
    try:
        return count_jobs(spark, lambda: all_queries()[op](spark, SF_SMALL))[1]
    finally:
        release_unscoped()
        _drop_checkpoints(spark)


def test_fact_incr_prune_collects_its_bounds_once(spark):
    """Building op-pipe-fact-incr runs its date-window prune's min and max
    as one aggregate collect: fewer than the 5 build jobs two scalar
    collects took."""
    jobs = _build_jobs(spark, "op-pipe-fact-incr")
    assert jobs < 5, f"op-pipe-fact-incr: {jobs} build jobs"


def test_kcore_counts_each_round_once(spark):
    """k_core reads each peel round's surviving-edge count from an
    Observation on that round's checkpoint, and its starting count from
    the checkpoint of the input edges: no count() job of its own, 8
    build jobs for op-ext-kcore."""
    jobs = _build_jobs(spark, "op-ext-kcore")
    assert jobs <= 8, f"op-ext-kcore: {jobs} build jobs"
