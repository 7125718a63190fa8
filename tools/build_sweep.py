"""Build sweep: what building each registered query costs before any
action runs.

Every query is built twice in one session, and the second build is
measured: wall seconds, py4j call commands (``perfbench.trace.Py4jCounter``)
and the Spark jobs it started (one job group per build, read through
``statusTracker``). The first build warms the JVM and anything a build
memoizes, as a long-lived session would be warm. Each build's pins and
checkpoints are dropped before the next query.

The sweep is stored under ``label`` in the JSON file ``out`` (other
labels in it are kept), so a before and an after sweep of one change sit
side by side in one file.

Usage: python tools/build_sweep.py <sf_dir> <out.json> <label> [only ...]
"""

from __future__ import annotations

import json
import os
import platform
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def measure(spark, build) -> dict:
    """Wall seconds, py4j calls and Spark jobs of one ``build()``."""
    from perfbench.trace import Py4jCounter

    sc = spark.sparkContext
    group = f"sweep-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    counter = Py4jCounter()
    counter.install()
    try:
        counter.active = True
        t0 = time.perf_counter()
        build()
        build_s = time.perf_counter() - t0
        counter.active = False
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        counter.active = False
        counter.uninstall()
        sc.setLocalProperty("spark.jobGroup.id", None)
    return {"build_s": round(build_s, 4), "jobs": jobs, "py4j_calls": counter.calls}


def main() -> int:
    if len(sys.argv) < 4:
        print(__doc__)
        return 2
    sf_dir, out, label = sys.argv[1:4]
    only = set(sys.argv[4:])

    import pyspark

    from data_warehousing_assignment_spark.caching import release_unscoped
    from data_warehousing_assignment_spark.registry import all_queries
    from data_warehousing_assignment_spark.session import get_spark

    spark = get_spark("build-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    def drop_pins() -> None:
        release_unscoped()
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)

    rows: dict[str, dict] = {}
    for name, fn in all_queries().items():
        if only and name not in only:
            continue
        fn(spark, sf_dir)
        drop_pins()
        rows[name] = measure(spark, lambda: fn(spark, sf_dir))
        drop_pins()
        print(f"{name}: {rows[name]}", flush=True)

    sweep = {
        "sf_dir": sf_dir,
        "host": {
            "cpus": os.cpu_count(),
            "master": spark.sparkContext.master,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        },
        "totals": {
            "queries": len(rows),
            "build_s": round(sum(r["build_s"] for r in rows.values()), 2),
            "jobs": sum(r["jobs"] for r in rows.values()),
            "queries_with_jobs": sum(1 for r in rows.values() if r["jobs"]),
            "py4j_calls": sum(r["py4j_calls"] for r in rows.values()),
        },
        "queries": rows,
    }
    doc = {}
    if os.path.exists(out):
        with open(out) as fh:
            doc = json.load(fh)
    doc[label] = sweep
    with open(out, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"== {label}: {sweep['totals']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
