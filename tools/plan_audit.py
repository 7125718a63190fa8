"""Plan audit: walk every registered query's physical plan and flag the
two shapes that do not scale. Complements check_local.py: that gate
proves results right; this one proves the plans stay scale-shaped.

Usage: python tools/plan_audit.py [sf_dir]

The walk reads Catalyst's plan tree, not its text. It takes AQE's input
plan for an ``AdaptiveSparkPlan`` and descends into the cached plan of
each ``InMemoryTableScan`` and into each subquery, so a pinned subplan
is audited like an inline one. A side is *bounded* when Catalyst knows
a ``maxRows`` for it: the logical plan linked to its node, or to the
first node down its first-child chain that has a link (a global
aggregate, a LIMIT, a local relation or a range bound a side). The
rules:

* ``cartesian``: a ``CartesianProduct`` or ``BroadcastNestedLoopJoin``
  none of whose children is bounded;
* ``single-partition window``: a ``Window`` with no PARTITION BY over an
  unbounded child, which runs all of its rows through one task.

``ALLOWED`` names each query whose flag is the documented, size-bounded
choice, with the reason the bound holds by contract.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CART = "cartesian"
WIN = "single-partition window"

ALLOWED = {
    # IVF assign: queries × the pinned k-row centroid group-by (k ≪ n)
    "op-ext-ann-ivf": {CART},
    "op-ext-ann-ivf-fullprobe": {CART},  # IVF assign, every cell probed
    "op-ext-ann-ivf-scaled": {CART},  # IVF assign, auto-sized k ≈ √(Q·n_probe)
    "op-ext-ann-ivf-pq": {CART},  # IVF assign before the PQ codes
    "op-ext-ann-ivf-incremental": {CART},  # IVF assign of the base and delta
    "op-ext-ann-filtered": {CART},  # IVF assign; the label is an equi key
    "op-ext-ann-postfilter": {CART},  # IVF assign; filter on the top-20 frame
    "op-ext-rank-fusion": {CART},  # IVF assign in the pinned dense leg
    "op-ext-hybrid-fusion": {CART},  # IVF assign in the dense leg
    "op-ext-fusion-gain": {CART},  # IVF assign under the hybrid pipeline
    "op-ext-fusion-baseline": {CART},  # IVF assign, dense-only control
    # IVF assign + the ground truth over a pinned 100-query sample
    "op-ext-ann-recall-sampled": {CART},
    "op-ext-ann-recall-surface": {CART},  # IVF assign + brute-force truth
    "op-ext-ann-incr-recall": {CART},  # IVF assign + 100-query ground truth
    "op-ext-ann-filtered-recall": {CART},  # IVF assign of both strategy legs
    # brute force is all-pairs by contract: the exactness anchors
    "op-ext-ann-bruteforce": {CART},  # queries × corpus, 1 query per 100
    "op-ext-knn-classify": {CART},  # the ann-bruteforce neighbours
    "op-ext-retrieval-metrics": {CART},  # brute-force exact ranking layer
    "op-ext-embed-neardup-exact": {CART},  # calibrates the LSH near-dup path
    # catalog-sized group-bys Catalyst cannot bound
    "op-ext-calibration-ece": {CART},  # vectors × |labels| class centroids
    "op-ext-text-classify": {CART},  # tokens × the 5-row language class frame
    "op-ext-confusion": {CART},  # text-classify + |classes|² matrix spine
    "op-ext-cliffs-delta": {CART},  # two ≤50-value l_quantity domains
    "op-ext-source-overlap": {CART},  # |sources|² pair spine
    "op-ext-js-divergence": {CART},  # |sources|² pair spine × vocab cells
    # customers × the one snapshot date; numbering the distinct order dates
    "op-pipe-snapshot": {CART, WIN},
    # distributed_prefix: the bucket-offset window covers ≤ 66 bucket rows
    "op-ext-auc": {WIN},
    "op-ext-histogram-equidepth": {WIN},  # distributed_prefix bucket offsets
    "op-ext-jonckheere": {WIN},  # distributed_prefix bucket offsets
    "op-ext-kruskal-wallis": {WIN},  # distributed_prefix bucket offsets
    "op-ext-ks-test": {WIN},  # distributed_prefix bucket offsets
    "op-ext-mannwhitney": {WIN},  # distributed_prefix bucket offsets
    "op-ext-ntile": {WIN},  # distributed_prefix bucket offsets
    "op-ext-percent-rank": {WIN},  # distributed_prefix bucket offsets
    "op-ext-rfm": {WIN},  # distributed_prefix bucket offsets, three scores
    "op-ext-wilcoxon-signed-rank": {WIN},  # distributed_prefix bucket offsets
    "op-ext-decile-lift": {WIN},  # bucket offsets + the 10-row decile frame
    # windows over dim-sized or post-aggregate frames
    "op-ext-share-of-total": {WIN},  # the 25-row per-nation frame
    "op-ext-benford": {WIN},  # the 9-row leading-digit frame
    "op-ext-junk-dim": {WIN},  # distinct flag combinations (≈10² rows)
    "op-ext-lifetable": {WIN},  # the per-tenure-month frame
    "op-ext-token-budget-select": {WIN},  # ≤ 1e6+1 quality_ppm buckets
    "op-win-rownumber-key": {WIN},  # surrogate keys of the distinct brands
    "op-pipe-dim-upsert": {WIN},  # numbering the distinct brands
    "op-win-rownumber-unordered": {WIN},  # distributed_prefix bucket offsets
}


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _nodes(plan):
    """``(nodeName, node)`` of every physical node under ``plan``."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.inputPlan())
            continue
        if name == "InMemoryTableScan":
            stack.append(node.relation().cachedPlan())
        yield name, node
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))


def _bounded(node) -> bool:
    """Whether Catalyst bounds the rows ``node`` yields (see the module
    docstring: exchanges and sorts added by planning link no logical
    plan, so the bound is read below them)."""
    while True:
        link = node.logicalLink()
        if link.isDefined():
            return link.get().maxRows().isDefined()
        children = node.children()
        if children.size() == 0:
            return False
        node = children.apply(0)


def audit(df) -> set[str]:
    """The flags raised by ``df``'s physical plan."""
    flags: set[str] = set()
    for name, node in _nodes(df._jdf.queryExecution().executedPlan()):
        if name in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            if not any(_bounded(child) for child in _seq(node.children())):
                flags.add(CART)
        elif name == "Window" and node.partitionSpec().isEmpty():
            if not _bounded(node.child()):
                flags.add(WIN)
    return flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as e
    from data_warehousing_assignment_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    bad = 0
    for name, fn in sorted(e.queries().items()):
        try:
            flags = audit(fn(spark, sf_dir)) - ALLOWED.get(name, set())
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {exc}")
            bad += 1
            continue
        if flags:
            bad += 1
            print(f"FLAG  {name}: {sorted(flags)}")
    print(f"\n== {bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
