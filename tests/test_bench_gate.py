"""The bench floor gate's noise-vs-regression discrimination (r9 verdict #5).

These are pure-python tests of ``bench.check_floors`` against the COMMITTED
``bench_floors.json`` — no Spark. The contract under test: after the r9
widening (allowed_ratio 2.6) a persistent ~2x single-query plan regression
must STILL trip the gate (canary-pair tier), while a uniform host-noise
slowdown must NOT produce per-query violations (only the suite ceiling,
which guards the overall envelope, may fire).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from bench import check_floors  # noqa: E402

FLOORS_PATH = os.path.join(REPO, "bench_floors.json")


def _spec(section=None):
    with open(FLOORS_PATH) as fh:
        spec = json.load(fh)
    return spec[section] if section else spec


def _report(queries):
    return {"value": round(sum(queries.values()), 3), "queries": queries}


def per_query(violations):
    return [v for v in violations if not v.startswith("suite")]


def test_uniform_3x_slowdown_passes_per_query_tiers():
    """Host weather scales the whole suite together (measured r9:
    same-code 3.75s..12.8s). A 3x uniform slowdown must not blame any
    individual query: shares are unchanged and every canary pair moves
    in lockstep."""
    spec = _spec()
    report = _report({n: 3.0 * f for n, f in spec["floors"].items()})
    assert per_query(check_floors(report, FLOORS_PATH)) == []


def test_uniform_3x_slowdown_passes_tpch_per_query_tiers():
    spec = _spec("tpch")
    report = _report({n: 3.0 * f for n, f in spec["floors"].items()})
    assert per_query(check_floors(report, FLOORS_PATH, "tpch")) == []


def test_sf10_section_noise_vs_regression():
    """The 100×-scale section (r11 verdict #3) keeps the same
    discrimination contract as the headline table: a uniform 2.5×
    host slowdown produces no per-query blame, while a persistent 2×
    regression on one scale query trips its canary pair."""
    spec = _spec("sf10")
    uniform = _report({n: 2.5 * f for n, f in spec["floors"].items()})
    assert per_query(check_floors(uniform, FLOORS_PATH, "sf10")) == []

    victim = "op-ext-minhash-lsh"
    assert victim != spec["canary"]
    queries = dict(spec["floors"])
    queries[victim] = 2.0 * queries[victim]
    violations = check_floors(_report(queries), FLOORS_PATH, "sf10")
    assert any(v.startswith(victim) for v in violations), violations


def test_sf10_missing_scale_query_always_fails():
    """A 100×-scale query that regresses into a crash must fail the
    gate loudly, not vanish from the report."""
    spec = _spec("sf10")
    queries = dict(spec["floors"])
    del queries["op-ext-simhash-neardup-scaled"]
    violations = check_floors(_report(queries), FLOORS_PATH, "sf10")
    assert any("missing" in v for v in violations), violations


def test_single_query_2x_regression_trips_canary_pair():
    """A deliberate 2x plan regression on ONE query — everything else at
    its floor — sits under the 2.6x absolute ratio but must trip the
    canary-pair tier (the r9 verdict's hide-under-the-widened-ratio
    scenario)."""
    spec = _spec()
    victim = "op-ext-simhash"
    assert victim != spec["canary"]
    queries = dict(spec["floors"])
    queries[victim] = 2.0 * queries[victim]
    violations = check_floors(_report(queries), FLOORS_PATH)
    assert any(
        v.startswith(victim) and "pair-ratio" in v for v in violations
    ), violations
    assert all(v.split(":")[0] == victim for v in per_query(violations))


def test_single_query_2x_regression_trips_even_under_uniform_noise():
    """The regression must stay visible when host noise is ALSO present:
    2x on the victim stacked on a 2.5x uniform slowdown."""
    spec = _spec()
    victim = "op-ext-asof-join"
    queries = {n: 2.5 * f for n, f in spec["floors"].items()}
    queries[victim] *= 2.0
    violations = check_floors(_report(queries), FLOORS_PATH)
    assert any(v.startswith(victim) for v in violations), violations


def test_canary_regression_blames_canary_not_the_field():
    """If the CANARY itself regresses 2x, every pair ratio DROPS (the
    denominator grew) — the field must stay clean; the canary is caught
    by its own absolute/share tiers once past 2.6x, and by eyeballing
    the suite, not by mass false alarms."""
    spec = _spec()
    queries = dict(spec["floors"])
    queries[spec["canary"]] *= 2.0
    violations = per_query(check_floors(_report(queries), FLOORS_PATH))
    assert violations == [], violations


def test_missing_floor_query_always_fails():
    spec = _spec()
    queries = dict(spec["floors"])
    del queries["op-ext-simhash"]
    violations = check_floors(_report(queries), FLOORS_PATH)
    assert any(
        v.startswith("op-ext-simhash") and "missing" in v
        for v in violations
    )


def test_gross_single_query_regression_trips_absolute_and_share():
    """The pre-existing two-tier path still fires on a gross (4x)
    single-query regression."""
    spec = _spec()
    victim = "op-ext-simhash"
    queries = dict(spec["floors"])
    queries[victim] = 4.0 * queries[victim]
    violations = check_floors(_report(queries), FLOORS_PATH)
    assert any(
        v.startswith(victim) and "floor" in v and "pair" not in v
        for v in violations
    ), violations


def test_run_suite_rebuilds_only_eager_ops_per_timed_run():
    """An op declared ``eager`` is rebuilt for every timed force (its
    build runs the measured work); a lazy op is built once and forced
    again. Fake builders and frames: no Spark."""
    builds = {"eager-op": 0, "lazy-op": 0}

    class _Frame:
        def count(self):  # force() falls back to count() without .write
            return 0

    def builder(name, eager):
        def build(spark, sf_dir):
            builds[name] += 1
            return _Frame()

        build.eager = eager
        return build

    qs = {n: builder(n, n == "eager-op") for n in builds}
    report = bench.run_suite(None, qs, list(qs), "sf", None, "fake")
    assert builds == {"eager-op": 1 + bench.N_ITERS, "lazy-op": 1}
    assert set(report["queries"]) == set(qs)


def test_tpch_and_headline_label_the_sf_of_their_data_dir():
    """Both suites that read ``$SPARK_GRAFT_SF_DIR`` report the sf of
    that directory, not a fixed 0.1. A fresh interpreter imports bench
    with the variable set: no Spark."""
    import subprocess

    code = "import bench; print(bench.MODES['--tpch'][2], bench.MODES[None][2])"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/data/tpch/sf0.01")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, check=True,
    ).stdout.split()
    assert out == ["0.01", "0.01"]


def test_every_bench_suite_query_is_registered():
    """A renamed or deleted op must not drop silently out of a suite
    (run_suite skips names it does not find)."""
    from data_warehousing_assignment_spark.registry import all_queries

    registered = all_queries()
    for mode, (suite, *_) in bench.MODES.items():
        assert [n for n in suite if n not in registered] == [], mode


def test_scratch_table_sweeps_dead_siblings_keeps_live_ones(tmp_path):
    """scratch_table (r9 advice): app-suffixed scratch tables from DEAD
    sessions must be swept from the warehouse, but a FRESH sibling dir
    is plausibly a concurrent session's live table — deleting it
    mid-read is the clobber the suffix exists to prevent. Pure-python
    via a stub session."""
    import os
    import time as _t

    from data_warehousing_assignment_spark.session import scratch_table

    class _Conf:
        def __init__(self, wh):
            self.wh = wh

        def get(self, k, d=None):
            return self.wh

    class _SC:
        applicationId = "local-123"

    class _Spark:
        def __init__(self, wh):
            self.conf = _Conf(wh)
            self.sparkContext = _SC()

        def sql(self, q):
            class _R:
                def collect(self):
                    return []

            return _R()

    wh = str(tmp_path)
    old = os.path.join(wh, "bkt_x_deadapp")
    os.makedirs(old)
    os.utime(old, (_t.time() - 7 * 3600,) * 2)
    fresh = os.path.join(wh, "bkt_x_liveapp")
    os.makedirs(fresh)
    own = os.path.join(wh, "bkt_x_local_123")
    os.makedirs(own)

    name = scratch_table(_Spark(wh), "bkt_x")
    assert name == "bkt_x_local_123"
    assert not os.path.exists(old)  # dead sibling swept
    assert os.path.exists(fresh)  # possibly-live sibling kept
    assert not os.path.exists(own)  # own name always cleared


def test_scratch_table_heartbeats_own_dirs_across_bases(tmp_path):
    """r10 advice: directory mtime does not refresh on READ, so a
    session alive past the sweep cutoff would look stale to a
    concurrent session. Every scratch_table call must touch ALL of this
    applicationId's scratch dirs (any base), keeping a long-lived
    session's live tables out of siblings' 6h cutoffs."""
    import os
    import time as _t

    from data_warehousing_assignment_spark.session import scratch_table

    class _Conf:
        def __init__(self, wh):
            self.wh = wh

        def get(self, k, d=None):
            return self.wh

    class _SC:
        applicationId = "local-123"

    class _Spark:
        def __init__(self, wh):
            self.conf = _Conf(wh)
            self.sparkContext = _SC()

        def sql(self, q):
            class _R:
                def collect(self):
                    return []

            return _R()

    wh = str(tmp_path)
    # a DIFFERENT base owned by the SAME app, "stale" by mtime (built
    # 7h ago, still being read) — the heartbeat must refresh it
    other = os.path.join(wh, "bkt_y_local_123")
    os.makedirs(other)
    os.utime(other, (_t.time() - 7 * 3600,) * 2)

    scratch_table(_Spark(wh), "bkt_x")
    assert os.path.exists(other)
    assert _t.time() - os.path.getmtime(other) < 60  # heartbeaten
