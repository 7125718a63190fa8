"""Build-cost guard for the sign-bit fingerprint, hyperplane-LSH and
IVF/PQ ops: building each one sends fewer than BUDGET py4j call
commands, so a builder that goes back to one literal Column per bit or
coefficient, or to Python-lambda Column trees per Lloyd round
(thousands of JVM round trips before any data moves), fails here."""

from __future__ import annotations

import pytest

from data_warehousing_assignment_spark.caching import release_unscoped
from data_warehousing_assignment_spark.registry import all_queries
from perfbench.trace import Py4jCounter

BUDGET = 1000


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
    ],
)
def test_build_sends_few_py4j_calls(spark, op):
    from tests.conftest import SF_SMALL

    build = all_queries()[op]
    counter = Py4jCounter()
    counter.install()
    try:
        counter.active = True
        build(spark, SF_SMALL)
    finally:
        counter.active = False
        counter.uninstall()
        release_unscoped()
    assert counter.calls < BUDGET, f"{op}: {counter.calls} py4j calls"
