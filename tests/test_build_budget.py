"""Build-cost guard: building a query sends fewer than its budget of
py4j call commands. The sign-bit fingerprint, hyperplane-LSH, IVF/PQ,
retrieval and correlation-matrix ops and the warehouse ETL are held
under 1,000, so a builder that goes back to one literal Column per bit
or coefficient, to Python-lambda Column trees per Lloyd round, to
hand-built Column copies of a scoring or ranking stage, to one Column
chain and one filtered DQ slice per cleaning rule, or to Column trees
built one attribute at a time in the SCD2 merge, dim upserts, fact
anti-joins and audit (thousands of JVM round trips before any data
moves), fails here. Every other registered query is held under 2,000.
The incremental fact load's date-window prune is pinned to one bounds
collect."""

from __future__ import annotations

import uuid

import pytest

from data_warehousing_assignment_spark.caching import release_unscoped
from data_warehousing_assignment_spark.registry import all_queries
from perfbench.trace import Py4jCounter

BUDGET = 1000
#: every registered query
REGISTRY_BUDGET = 2000
#: one run_etl load: clean + DQ of three domains, 5 dim upserts, SCD2,
#: 3 incremental facts, audit
ETL_BUDGET = 1000
#: every registered query
REGISTRY_BUDGET = 2000


def _build_calls(build) -> int:
    """py4j call commands sent while ``build()`` runs."""
    counter = Py4jCounter()
    counter.install()
    try:
        counter.active = True
        build()
    finally:
        counter.active = False
        counter.uninstall()
        release_unscoped()
    return counter.calls


@pytest.mark.parametrize(
    "op",
    [
        "op-ext-simhash",
        "op-ext-simhash-neardup",
        "op-ext-simhash-neardup-scaled",
        "op-ext-mm-phash-neardup",
        "op-ext-ann-lsh",
        "op-ext-ann-lsh-fullprobe",
        "op-ext-embed-neardup",
        "op-ext-ann-ivf",
        "op-ext-ann-ivf-pq",
        "op-ext-ann-ivf-incremental",
        "op-ext-ann-cell-drift",
        "op-ext-ann-postfilter",
        "op-ext-ann-filtered",
        "op-ext-ann-filtered-recall",
        "op-ext-rank-fusion",
        "op-ext-hybrid-fusion",
        "op-ext-fusion-gain",
        "op-ext-fusion-baseline",
        "op-ext-retrieval-metrics",
        "op-ext-bm25",
        "op-ext-bm25-blockmax",
        "op-ext-bm25-blockmax-audit",
        "op-ext-corr-matrix",
    ],
)
def test_build_sends_few_py4j_calls(spark, op):
    from tests.conftest import SF_SMALL

    build = all_queries()[op]
    calls = _build_calls(lambda: build(spark, SF_SMALL))
    assert calls < BUDGET, f"{op}: {calls} py4j calls"


@pytest.mark.parametrize("op", list(all_queries()))
def test_every_query_builds_under_registry_budget(spark, op):
    from tests.conftest import SF_SMALL

    build = all_queries()[op]
    try:
        calls = _build_calls(lambda: build(spark, SF_SMALL))
    finally:
        # iterative ops leave localCheckpoint RDDs behind; drop them so
        # later cached-RDD accounting starts clean
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)
    assert calls < REGISTRY_BUDGET, f"{op}: {calls} py4j calls"


def test_run_etl_builds_in_few_py4j_calls(spark):
    """Both loads of the golden warehouse fixtures: the initial one and
    an incremental one on its state."""
    from data_warehousing_assignment_spark.plans.warehouse import run_etl
    from tests.test_warehouse import (
        FIN_COLS, FIN_ROWS, HR_COLS, HR_ROWS, OPS_COLS, OPS_ROWS,
    )

    raw = [
        spark.createDataFrame(rows, cols)
        for rows, cols in ((HR_ROWS, HR_COLS), (FIN_ROWS, FIN_COLS), (OPS_ROWS, OPS_COLS))
    ]
    states: list[dict] = []
    for load_date in ("2024-02-01", "2024-02-02"):
        prior = states[-1] if states else None
        calls = _build_calls(lambda: states.append(run_etl(spark, *raw, load_date, prior)))
        assert calls < ETL_BUDGET, f"run_etl {load_date}: {calls} py4j calls"


def test_fact_incr_prune_collects_its_bounds_once(spark):
    """Building op-pipe-fact-incr runs its date-window prune's min and max
    as one aggregate collect: fewer than the 5 build jobs two scalar
    collects took. Counted through a job group and statusTracker."""
    from tests.conftest import SF_SMALL

    sc = spark.sparkContext
    group = f"fact-incr-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        all_queries()["op-pipe-fact-incr"](spark, SF_SMALL)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_unscoped()
    assert jobs < 5, f"op-pipe-fact-incr: {jobs} build jobs"
