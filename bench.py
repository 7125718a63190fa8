"""Benchmark harness (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1}

Methodology (round-4 change): one un-timed warm-up forces JIT, parquet
footer caches and broadcast builds, then each query is forced
``$SPARK_GRAFT_BENCH_ITERS`` (default 5) more times; ``queries`` reports
the per-query MIN (the reproducible floor — sub-second single-shot
timings at sf0.1 were swamped by 1.4× scheduler noise in r2/r3) and
``queries_median`` the median, so a real regression is distinguishable
from jitter. Each query is forced end-to-end with a noop sink (full
materialization of every column — ``count()`` alone would let Catalyst
prune the plan), so timings reflect scan + shuffle + compute.

``python bench.py --assert`` additionally grades the run against the
committed per-query floor table (``bench_floors.json``: min of multiple
clean runs on the reference machine): exit 1 if any query exceeds
``allowed_ratio`` × its floor or the suite exceeds ``suite_ceiling_sec``.
This turns "is 0.26→0.40 noise or a regression?" into a mechanical
check — same-code machine spread stays under the ratio, real
regressions don't (r7 verdict #3).

``python bench.py --sf1`` instead synthesizes a 10× dataset (sf≈1) under
``.scratch/sf1`` — facts/documents/embeddings unioned 10× with offset
keys and perturbed near-dup texts, dims kept dim-sized — and runs the
scale-probe subset on it. This is the "does the plan survive a 10×
step?" check: shapes that only look scale-safe at 600 k rows (widening
shuffles, bucket blowups) show up here before they show up on a cluster.
``--sf1 --assert`` grades that run against the dedicated
``bench_floors.json["sf1"]`` section (floors measured AT sf1, r10
verdict #9) — a 10× scale regression fails mechanically, with the same
share / canary-pair / reproduce-to-fail retry tiers as the sf0.1 gates.

``python bench.py --sf10 [--assert]`` is the 100× rung (r11 verdict
#3): synthesizes ``.scratch/sf10`` (100 copies) and runs the 9-op
``SF10_HEADLINE`` scale suite — one op per scale-critical shape —
graded against ``bench_floors.json["sf10"]``. Timed iters default to 3
at this scale (override with ``SPARK_GRAFT_BENCH_ITERS``); a full gate
run is ~10 min on local[32]. The BASELINE.md one-shot probes (150 s
connected components, 88 s semantic dedup) stay narrative; this suite
is the mechanical complement.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_ITERS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "5")))
ROOT = os.path.dirname(os.path.abspath(__file__))
SF1_DIR = os.path.join(ROOT, ".scratch", "sf1")
SF10_DIR = os.path.join(ROOT, ".scratch", "sf10")

# Headline set: one per workload family, weighted toward the shapes that
# dominate at 100 TB (star joins, wide aggs, SCD2 merge, incremental fact
# dedup, minhash-LSH dedup, brute-force ANN, sessionization).
HEADLINE = [
    "op-join-inner-star",       # flagship 4-table star join + monthly agg
    "op-pipe-kpi-gross-monthly",  # 3-way join, group by (month, dept, type)
    "op-pipe-scd2",             # hash-diff SCD2 merge
    "op-pipe-fact-incr",        # dim resolution + multi-col anti-join dedup
    "op-pipe-impute",           # group-mean imputation (window agg)
    "op-agg-count-distinct",    # grouped exact count-distinct
    "op-join-update",           # staging enrichment join
    "op-ext-dedup-exact",       # content-hash dedup over documents
    "op-ext-minhash-lsh",       # banded LSH candidate pairs
    "op-ext-simhash",           # 48-bit simhash fingerprints
    "op-ext-ann-bruteforce",    # cosine top-k, query set vs full corpus
    "op-ext-stream-session",    # session windows over events
    "op-ext-asof-join",         # point-in-time join (window formulation)
    "op-ext-salted-join",       # skew-salted equi-join
]

# TPC-H headliner suite (``--tpch``): the five hardest shapes from the
# 22-query extension wave plus the two bucketed fact⋈fact twins —
# committed floors in bench_floors.json["tpch"] make a perf regression
# there mechanically visible (r8 verdict #2: the original floor table
# covered only the 14 headline queries, so a TPC-H plan regression was
# invisible to --assert). Kept OUT of the driver-run headline suite so
# the round-over-round headline sum stays comparable; the gate is
# ``python bench.py --tpch --assert``.
TPCH_HEADLINE = [
    "op-ext-tpch-q1",            # widest single-fact agg
    "op-ext-tpch-q7",            # fact⋈fact + 2-dim directions
    "op-ext-tpch-q9",            # 5-way join, part filter
    "op-ext-tpch-q18",           # large-order semi-join + top-k
    "op-ext-tpch-q21",           # triple lineitem self-correlation
    "op-ext-tpch-q7-bucketed",   # same shapes over bucketed layout —
    "op-ext-tpch-q21-bucketed",  # the 100× mitigation, kept honest
    "op-ext-tpch-q9-bucketed",   # r10: q9 was the worst 100× ratio (4.1×)
]

# 10×-step probe subset: the shuffle/join/agg shapes whose scaling is the
# question. op-ext-ann-bruteforce is deliberately absent — it is the
# documented O(Q·C) exact baseline (100× work at 10× data, by contract);
# the IVF scale path stands in for the ANN family instead.
SF1_HEADLINE = [
    "op-join-inner-star",
    "op-pipe-kpi-gross-monthly",
    "op-ext-dedup-exact",
    "op-ext-minhash-lsh",
    "op-ext-simhash",
    "op-ext-stream-session",
    "op-ext-ann-ivf",
    "op-ext-dedup-clusters",    # iterative CC: does convergence hold at 10×?
    "op-ext-range-join",        # bucket-expansion join vs interval fan-out
    "op-ext-decontaminate",     # gram explode + broadcast semi-join
    # the fact⋈fact shapes over bucketed layout (read-side: the bucketed
    # write happens at query build, outside the timed force loop —
    # measuring exactly what a production reader pays)
    "op-ext-tpch-q7-bucketed",
    "op-ext-tpch-q21-bucketed",
    # r11 (r10 verdict #9) — the remaining scale-sensitive shapes, now
    # floor-asserted at 10× so a scale regression fails mechanically:
    "op-ext-tpch-q9-bucketed",   # the worst pre-bucketing 100× ratio
    "op-ext-ann-ivf-scaled",     # cost-balanced k — the ANN scale path
    "op-ext-winnow",             # O(len·k) fingerprint build (numpy UDF)
    "op-ext-winnow-neardup",     # posting join + banded edit verify
    "op-ext-ann-ivf-pq",         # r11: the memory-bound ANN path (ADC+R)
]

#: r12 (r11 verdict #3): the 100×-scale floor suite. One op per
#: scale-critical shape, chosen so a full run (2 warm + 3 timed forces
#: each) stays ~10 min on local[32] — the heavyweights with their own
#: engine probes (dedup-clusters ~150 s, semantic-dedup 88 s) stay
#: one-shot probes in BASELINE.md; this suite is the MECHANICAL gate.
#: Cold single-force costs measured r12 at .scratch/sf10:
SF10_HEADLINE = [
    "op-join-inner-star",            # shuffle join core (14 s cold)
    "op-ext-dedup-exact",            # hash-groupBy dedup (2.7 s)
    "op-ext-minhash-lsh",            # banded bucket join (42 s)
    "op-ext-simhash-neardup-scaled", # the r11 128-bit band fix (40 s)
    "op-ext-stream-session",         # sessionization windows (7.6 s)
    "op-ext-ann-ivf-scaled",         # cost-balanced IVF (66 s)
    "op-ext-tpch-q9-bucketed",       # bucketed fact⋈fact (21 s)
    "op-ext-range-join",             # bucket-expansion interval join (9.5 s)
    "op-ext-decontaminate",          # gram explode + broadcast semi (18 s)
]

#: fact tables replicated in --sf1 synthesis; value = key columns offset
#: per copy so keys stay unique (FK targets — custkey, suppkey, user_id —
#: are NOT offset: dims stay dim-sized, each dim row fans out 10×).
_SF1_KEYED = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_SF1_OFFSET = 10_000_000  # > any sf0.1 key, ×10 copies stays in int32


def synthesize_sf1(spark, src: str = SF_DIR, dst: str = SF1_DIR, copies: int = 10) -> str:
    """Materialize a scaled dataset from sf0.1 (idempotent: marker-gated).
    Document copies get a per-copy text suffix so the corpus is near-dup
    heavy rather than degenerate exact-dup (LSH buckets stress-test
    realistically instead of collapsing to 10-cliques).

    ``copies=100`` with ``dst=SF10_DIR`` gives the 100× step (sf≈10):
    offset keys stay unique and inside int32 (max original key < 10 M,
    99 × 10 M + 10 M = 1 B < 2^31)."""
    from pyspark.sql import functions as F

    from data_warehousing_assignment_spark.sources import TESTDATA_TABLES

    marker = os.path.join(dst, "_SYNTH_OK")
    if os.path.exists(marker):
        return dst
    # events.parquet is TIMESTAMP(NANOS): read the raw column as long so
    # the copy round-trips losslessly (registry.t handles either layout).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for tab in TESTDATA_TABLES:
        df = spark.read.parquet(f"{src}/{tab}.parquet")
        if tab in _SF1_KEYED:
            parts = []
            for i in range(copies):
                d = df
                for kcol in _SF1_KEYED[tab]:
                    d = d.withColumn(kcol, F.col(kcol) + F.lit(i * _SF1_OFFSET))
                if tab == "documents" and i > 0:
                    d = d.withColumn(
                        "text", F.concat_ws(" ", F.col("text"), F.lit(f"c{i}"))
                    )
                parts.append(d)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = df
        out.write.mode("overwrite").parquet(f"{dst}/{tab}.parquet")
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return dst


def synthesize_sf10(spark) -> str:
    """100× step (sf≈10): same construction as the 10× set, 100 copies."""
    return synthesize_sf1(spark, dst=SF10_DIR, copies=100)


def force(df) -> int:
    """Materialize every column of every row. The noop sink runs the whole
    plan with zero write cost; fall back to a count over an uncacheable
    projection if the noop source is unavailable."""
    try:
        df.write.format("noop").mode("overwrite").save()
        return -1
    except Exception:
        return df.count()


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def run_suite(spark, qs, names, sf_dir, sf, metric) -> dict:
    mins: dict[str, float] = {}
    medians: dict[str, float] = {}
    # Suite-level un-timed warm-up (r15, r14 verdict #7): one dummy
    # force before the first query spins up the executor pool, the
    # noop-sink write path and the codegen/JIT infrastructure, so the
    # suite's FIRST query stops absorbing the JVM cold start in its
    # min-of-N (r14 measured the sf10 star at 11.1 s in first position
    # vs 4.7 s isolated — same code). Purely additive: touches no
    # input table, so per-query timings stay comparable.
    try:
        force(
            spark.range(0, 10_000_000, 1, 32).selectExpr(
                "sum(id * 3 + 1) as s"
            )
        )
    except Exception:
        pass
    for name in names:
        if name not in qs:
            continue
        try:
            # An eager op's build runs its measured work (see
            # registry.query): rebuild it inside the timed region. Lazy
            # ops build once, which keeps BENCH_r* timings comparable.
            eager = qs[name].eager
            df = qs[name](spark, sf_dir)
            # warm-up ×2: JIT, parquet footer cache, broadcast build. Two
            # forces, not one — HotSpot C2 compilation of the generated
            # whole-stage code needs more than one invocation, and the
            # suite's FIRST query otherwise absorbs the whole JVM cold
            # start (r7 measured ~0.2 s first-position penalty on the
            # star join vs the same query in a warmed session; min-of-N
            # should measure steady-state, not arrival order).
            force(df)
            force(df)
            ts = []
            for _ in range(N_ITERS):
                t0 = time.perf_counter()
                force(qs[name](spark, sf_dir) if eager else df)
                ts.append(time.perf_counter() - t0)
            mins[name] = round(min(ts), 3)
            medians[name] = round(_median(ts), 3)
            # Drop this query's py4j proxies NOW: broadcasts and plan
            # state on the JVM side are freed by ContextCleaner only
            # after the Python-side references die, and CPython's cycle
            # collector can lag several queries behind — measured as a
            # Java-heap OOM four queries into the sf10 suite (r12) while
            # each query ran fine alone in the same heap.
            del df
            gc.collect()
        except Exception as exc:  # one broken query must not zero the bench
            print(f"# bench skip {name}: {exc!r}", file=sys.stderr)
    return {
        "metric": metric,
        "value": round(sum(mins.values()), 3),
        "unit": "sec",
        "queries": mins,
        "queries_median": medians,
        "iters": N_ITERS,
        "sf": sf,
    }


def check_floors(
    report: dict, floors_path: str, section: str | None = None
) -> list[str]:
    """Grade a report against the committed floor table. Returns the
    list of violations (empty = pass). Queries without a floor (new
    ops) are skipped — they get a floor at the next table refresh.
    ``section`` selects a nested floor table (e.g. "tpch") instead of
    the top-level headline one."""
    with open(floors_path) as fh:
        spec = json.load(fh)
    if section is not None:
        spec = spec[section]
    ratio = spec["allowed_ratio"]
    share_ratio = spec.get("share_ratio")
    violations = []
    # Every floor-listed query MUST be present in the report: run_suite
    # swallows per-query exceptions ("bench skip"), so a headline query
    # that regresses into a crash would otherwise vanish from
    # report["queries"], LOWER the suite sum, and pass --assert with
    # zero violations — the worst regression class would be invisible
    # (r8 advice). Missing = fail, loudly.
    for name in spec["floors"]:
        if name not in report["queries"]:
            violations.append(
                f"{name}: missing from report (crashed or renamed — "
                f"see '# bench skip' lines on stderr)"
            )
    # Two-tier grading (r9: measured hypervisor noise scales the WHOLE
    # suite >2x between runs of identical code, so a tight absolute
    # ratio flaps):
    #  * absolute tier — allowed_ratio x floor, a gross backstop;
    #  * share tier — a query's FRACTION of the suite vs its fraction
    #    of the floor table. Uniform host noise moves every query
    #    together and leaves shares unchanged; a genuine single-query
    #    plan regression inflates its share and is caught at a much
    #    tighter multiplier than the absolute tier can afford.
    # A query fails only if it breaches BOTH tiers (when share_ratio is
    # configured), so neither host weather nor a suite-wide rescale
    # produces false alarms while a real regression still trips.
    floor_total = sum(
        spec["floors"][n] for n in spec["floors"]
        if n in report["queries"]
    )
    suite_total = sum(
        report["queries"][n] for n in spec["floors"]
        if n in report["queries"]
    )
    # Canary-pair tier (r9 verdict #5): the 2.6x absolute ratio could
    # hide a persistent ~2x SINGLE-query regression (and the share tier
    # only fires together with the absolute one). Grade each query's
    # time RELATIVE to a pinned, never-touched canary query in the SAME
    # run: uniform host weather moves both ends of the pair and cancels;
    # a plan regression moves one end only. Tighter multiplier than the
    # absolute tier can afford, because the pair is noise-immune by
    # construction; still retriable (main() re-measures query AND canary
    # together), so a one-sided host spike has to reproduce to fail.
    canary = spec.get("canary")
    canary_ratio = spec.get("canary_ratio")
    canary_t = report["queries"].get(canary) if canary else None
    canary_floor = spec["floors"].get(canary) if canary else None
    for name, secs in report["queries"].items():
        floor = spec["floors"].get(name)
        if floor is None:
            continue
        abs_bad = secs > ratio * floor
        if share_ratio and floor_total > 0 and suite_total > 0:
            share = secs / suite_total
            floor_share = floor / floor_total
            share_bad = share > share_ratio * floor_share
            if abs_bad and share_bad:
                violations.append(
                    f"{name}: {secs:.3f}s > {ratio}x floor "
                    f"{floor:.3f}s AND share {share:.3f} > "
                    f"{share_ratio}x floor-share {floor_share:.3f}"
                )
                continue
        elif abs_bad:
            violations.append(
                f"{name}: {secs:.3f}s > {ratio}x floor {floor:.3f}s"
            )
            continue
        if (
            canary_ratio
            and name != canary
            and canary_t
            and canary_floor
        ):
            rel = (secs / canary_t) / (floor / canary_floor)
            if rel > canary_ratio:
                violations.append(
                    f"{name}: pair-ratio {rel:.2f} vs canary "
                    f"{canary} > {canary_ratio}x (canary-relative "
                    f"regression; host noise moves both ends)"
                )
    if report["value"] > spec["suite_ceiling_sec"]:
        violations.append(
            f"suite: {report['value']:.3f}s > ceiling "
            f"{spec['suite_ceiling_sec']}s"
        )
    return violations


def _sf_of(sf_dir: str) -> float | None:
    """".../sf0.1" -> 0.1 (best effort; None on nonstandard dirs)."""
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail[2:]) if tail.startswith("sf") else None
    except ValueError:
        return None


#: mode flag -> (suite, data dir for a session, sf, metric text,
#: bench_floors.json section); no flag runs the headline suite.
MODES = {
    "--sf10": (
        SF10_HEADLINE, synthesize_sf10, 10.0,
        "scale-probe suite wall seconds (100x synthesized, noop-sink, min of warm runs)",
        "sf10",
    ),
    "--sf1": (
        SF1_HEADLINE, synthesize_sf1, 1.0,
        "scale-probe suite wall seconds (10x synthesized, noop-sink, min of warm runs)",
        "sf1",
    ),
    "--tpch": (
        TPCH_HEADLINE, lambda spark: SF_DIR, _sf_of(SF_DIR),
        "tpch-suite wall seconds (noop-sink, min of warm runs)",
        "tpch",
    ),
    None: (
        HEADLINE, lambda spark: SF_DIR, _sf_of(SF_DIR),
        "headline-suite wall seconds (noop-sink, min of warm runs)",
        None,
    ),
}


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod
    from data_warehousing_assignment_spark.session import get_spark

    mode = next((m for m in MODES if m in sys.argv[1:]), None)
    suite_names, data_dir, sf, metric, section = MODES[mode]
    assert_mode = "--assert" in sys.argv[1:]
    if mode == "--sf10":
        # 100×-scale queries run 10-60 s each: 3 timed iters (after the
        # 2 warm forces) bound a full gate run to ~10 min while min-of-3
        # still sheds the occasional host spike.
        if "SPARK_GRAFT_BENCH_ITERS" not in os.environ:
            global N_ITERS
            N_ITERS = 3
        # The default 8g driver heap is sized for the sf0.1/sf1 gates; at
        # 100× the heaviest suite query (simhash band verify) needs most
        # of 8g ALONE and OOMs behind three predecessors' not-yet-
        # collected broadcasts. The box has 128 GiB — give the 100× gate
        # a production-proportioned heap instead of a starved one.
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    spark = get_spark("bench")
    qs = entrymod.queries()

    sf_dir = data_dir(spark)
    report = run_suite(spark, qs, suite_names, sf_dir, sf, metric)
    print(json.dumps(report))
    if assert_mode:
        floors_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_floors.json"
        )
        violations = check_floors(report, floors_path, section)
        # Per-query retry: the r9 host shows NON-uniform noise spikes
        # (one query 5x slow for a whole 5-iter window with identical
        # code, normal two minutes later). A genuine regression
        # REPRODUCES on an immediate re-run; a host spike does not —
        # so re-measure just the violating queries once and keep only
        # violations that persist. Missing-query and suite-ceiling
        # violations are not retried per-query (a crash reproduces by
        # construction; the ceiling guards the overall envelope).
        retriable = [
            v.split(":")[0] for v in violations
            if "missing" not in v and not v.startswith("suite")
        ]
        if retriable:
            # re-measure the canary alongside the violators: canary-pair
            # violations need BOTH ends of the pair from the same
            # (retry) run — a stale fast canary from the original run
            # would keep an innocent query's pair ratio inflated
            with open(floors_path) as fh:
                _spec = json.load(fh)
            _canary = (_spec[section] if section else _spec).get("canary")
            if _canary and _canary not in retriable:
                retriable.append(_canary)
            print(
                f"# retrying {len(retriable)} floor violation(s) to"
                " separate host spikes from regressions",
                file=sys.stderr,
            )
            # thread the ORIGINAL suite's names and sf_dir so the retry
            # re-measures the exact workload that violated (r9 advice)
            retry = run_suite(
                spark, qs, [n for n in suite_names if n in retriable],
                sf_dir, report.get("sf"), "retry",
            )
            merged = dict(report)
            merged["queries"] = dict(report["queries"])
            merged["queries"].update(retry["queries"])
            merged["value"] = round(
                sum(merged["queries"].values()), 3
            )
            persisted = check_floors(merged, floors_path, section)
            # "missing" always stands (a crash reproduces by
            # construction); per-query and suite-ceiling violations
            # stand only if the re-measured report still shows them.
            violations = [
                v for v in violations
                if "missing" in v
                or any(p.split(":")[0] == v.split(":")[0]
                       for p in persisted)
            ]
        for v in violations:
            print(f"# FLOOR VIOLATION {v}", file=sys.stderr)
        if violations:
            return 1
        print("# floors ok", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
