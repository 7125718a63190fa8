"""100×-scale VALUE pins for the four oracle-excluded ops (r11 verdict
#4): pagerank, clustering-coef, semantic-dedup, bootstrap-ci.

These ops are sf10-excluded from the DuckDB sweep by named ORACLE-cost
classes (join-blowup / hash-explode — the iterated/enumerated replay is
what explodes, not the engine). Their engine sides had sf10 TIME probes
only; this tool adds sf10 VALUE evidence: run the ENGINE at
``.scratch/sf10`` on a deterministic induced subsample (the full 100×
scan/join/filter still happens engine-side; only the downstream
graph/corpus is bounded) and replay the SAME subsample with an
independent pure-Python implementation of the op's excluded component
(the 3-round fixed-point propagation, the triangle enumeration, the
integer Lloyd + within-cluster domination, the md5 Poisson-weight
explode). DuckDB appears only as a parquet READER for the replay input
— none of the excluded logic runs in SQL.

Samples are sized so the pure-Python side stays minutes-free:
  pagerank        custkey%20==0 AND suppkey%20==0 (≈0.25% of edges)
  clustering-coef partkey%20==0 (≈0.25% of co-purchase edges)
  semantic-dedup  vec_id%100==0 (2 000 of 200 000 vectors)
  bootstrap-ci    orderkey%200==0 (≈300 k of 60 M lineitem rows)

Usage:
    python tools/scale_pins.py [sf_dir]     # run all four, print PASS/FAIL
    python tools/scale_pins.py --write ...  # also write SCALE_PINS.json
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # parquet reader only — see module docstring
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.session import get_spark
from data_warehousing_assignment_spark.operators import graph as gr
from data_warehousing_assignment_spark.operators import similarity as sim
from data_warehousing_assignment_spark.registry import t
from data_warehousing_assignment_spark.registry_advanced import (
    _BOOT_G,
    _BOOT_H,
    _POIS_T,
)

SF = os.path.join(ROOT, ".scratch", "sf10")
OUT = os.path.join(ROOT, "SCALE_PINS.json")


def _pq(sf_dir: str, table: str) -> str:
    """read_parquet pattern for a testdata table: the driver testdata
    ships single files, the .scratch synthesis writes Spark part-file
    directories."""
    import os

    path = f"{sf_dir}/{table}.parquet"
    return f"{path}/*.parquet" if os.path.isdir(path) else path


# ---------------------------------------------------------------- pagerank

def pin_pagerank(spark, sf_dir):
    """Engine: full sf10 lineitem⋈orders scan, endpoints filtered to the
    5%×5% vertex sample BEFORE the distinct; then the exact operator
    (graph.pagerank_fixed_point, 3 iters, d=85%). Replay: the same
    fixed-point recurrence in pure Python over the collected edge set."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(
            (F.col("o_custkey") % 20 == 0) & (F.col("l_suppkey") % 20 == 0)
        )
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = cs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(cs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    got = {
        r.node: r.rank_i
        for r in gr.pagerank_fixed_point(edges, iters=3, damping_pct=85)
        .collect()
    }
    pairs = [(r.src, r.dst) for r in edges.collect()]

    # pure-Python replay of the excluded iterated propagation
    outdeg: dict[str, int] = defaultdict(int)
    for s, _ in pairs:
        outdeg[s] += 1
    nodes = {s for s, _ in pairs} | {d for _, d in pairs}
    scale = 10**9
    base = 15 * scale // 100
    rank = {n: scale for n in nodes}
    for _ in range(3):
        csum: dict[str, int] = defaultdict(int)
        for s, d in pairs:
            csum[d] += rank[s] // outdeg[s]
        rank = {n: base + (85 * csum.get(n, 0)) // 100 for n in nodes}
    return got == rank, {
        "nodes": len(nodes), "edges": len(pairs),
        "engine_rows": len(got),
    }


# --------------------------------------------------------- clustering-coef

def pin_clustering_coef(spark, sf_dir):
    """Engine: full sf10 lineitem scan, parts filtered to the 5% sample,
    then the SHARED registry body (part_copurchase_edges →
    graph.clustering_coefficient_top). Replay: adjacency-set triangle
    counting in pure Python over the same induced edges."""
    from data_warehousing_assignment_spark.operators.graph import (
        clustering_coefficient_top,
        part_copurchase_edges,
    )

    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 20 == 0)
        .select("l_orderkey", "l_partkey")
    )
    edges = part_copurchase_edges(li)
    got = [
        (r.part_key, r.degree, r.n_triangles, r.coef_ppm)
        for r in clustering_coefficient_top(
            edges, min_degree=10, k=20
        ).collect()
    ]
    epairs = {(r.u, r.v) for r in edges.collect()}

    adj: dict[int, set[int]] = defaultdict(set)
    for u, v in epairs:
        adj[u].add(v)
        adj[v].add(u)
    rows = []
    for n, nb in adj.items():
        d = len(nb)
        if d < 10:
            continue
        ntri = 0
        for x in nb:
            # count each neighbor pair once via the canonical x < y order
            ntri += len(nb & {y for y in adj[x] if y > x})
        coef = (2000000 * ntri) // (d * (d - 1))
        rows.append((n, d, ntri, coef))
    rows.sort(key=lambda r: (-r[3], r[0]))
    return got == rows[:20], {
        "edges": len(epairs), "nodes>=10": len(rows),
    }


# ---------------------------------------------------------- semantic-dedup

def pin_semantic_dedup(spark, sf_dir):
    """Engine: the SHARED registry body (registry_corpus.
    semantic_dedup_frame — deterministic integer Lloyd, k = n/500 rule,
    within-cluster domination at cosine ≥ 0.5) on the 1% vector sample
    of the sf10 corpus, so the pin exercises the shipped pipeline, not
    a copy (r12 review). Replay: the full pipeline in pure Python —
    quantize, seeded Lloyd with round-half-away integer means, argmin
    assignment with cluster tiebreak, pairwise domination."""
    from data_warehousing_assignment_spark.registry_corpus import (
        semantic_dedup_frame,
    )

    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 100 == 0)
    n = emb.count()
    k = max(8, min(256, n // 500))
    got = {
        r.vec_id: (r.cluster, r.kept)
        for r in semantic_dedup_frame(emb).collect()
    }

    con = duckdb.connect()
    raw = con.execute(
        f"SELECT vec_id, embedding FROM"
        f" read_parquet('{_pq(sf_dir, 'embeddings')}')"
        f" WHERE vec_id % 100 = 0 ORDER BY vec_id"
    ).fetchall()
    qv = {
        vid: [math.floor(float(x) * 10**6) for x in v] for vid, v in raw
    }
    ids = sorted(qv)
    assert len(ids) == n

    def l2(u, w):
        return sum((a - b) * (a - b) for a, b in zip(u, w))

    def imean(vals):
        # exact round-half-away-from-zero integer mean, per coordinate
        cnt = len(vals)
        out = []
        for pos in range(len(vals[0])):
            s = sum(v[pos] for v in vals)
            out.append(
                (2 * s + cnt) // (2 * cnt) if s >= 0
                else -((2 * (-s) + cnt) // (2 * cnt))
            )
        return out

    cents = {c: qv[ids[c]] for c in range(k)}
    for _ in range(2):
        members: dict[int, list] = defaultdict(list)
        for vid in ids:
            best = min(cents, key=lambda c: (l2(qv[vid], cents[c]), c))
            members[best].append(qv[vid])
        cents = {c: imean(vs) for c, vs in members.items()}
    cell = {
        vid: min(cents, key=lambda c: (l2(qv[vid], cents[c]), c))
        for vid in ids
    }
    by_cell: dict[int, list] = defaultdict(list)
    for vid in ids:
        by_cell[cell[vid]].append(vid)
    nrm = {
        vid: math.sqrt(float(sum(x * x for x in qv[vid]))) for vid in ids
    }
    dominated_py = set()
    for vs in by_cell.values():
        for i, ia in enumerate(vs):
            for ib in vs[i + 1:]:
                dot = float(sum(x * y for x, y in zip(qv[ia], qv[ib])))
                if dot / (nrm[ia] * nrm[ib]) >= 0.5:
                    dominated_py.add(ib)
    rep = {vid: (cell[vid], vid not in dominated_py) for vid in ids}
    return got == rep, {
        "vectors": n, "k": k,
        "kept": sum(1 for _, kp in rep.values() if kp),
    }


# ------------------------------------------------------------ bootstrap-ci

def _percentile(sorted_vals, p):
    """Spark's exact `percentile`: rank = p·(n−1), linear interpolation
    lower·(upper_rank − rank) + upper·(rank − lower_rank)."""
    n = len(sorted_vals)
    rank = p * (n - 1)
    lo = math.floor(rank)
    hi = math.ceil(rank)
    if lo == hi:
        return sorted_vals[int(rank)]
    return sorted_vals[lo] * (hi - rank) + sorted_vals[hi] * (rank - lo)


def pin_bootstrap_ci(spark, sf_dir):
    """Engine: the exact Poisson-bootstrap pipeline (content-addressed
    md5 → 16-bit slices → integer Poisson thresholds → 48 replicate
    means → exact percentile CI) on the 0.5% row sample of the sf10
    lineitem. Replay: hashlib md5 + the same integer thresholds and
    interpolated percentile in pure Python. The Spark side calls the
    op's OWN frame-parameterized body (registry_advanced.
    bootstrap_ci_frame — ADVICE r12: an inline pin re-implementation
    keeps attesting the old pipeline if the op drifts)."""
    from data_warehousing_assignment_spark.registry_advanced import (
        bootstrap_ci_frame,
    )

    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 200 == 0)
        .select(
            "l_returnflag", "l_orderkey", "l_linenumber",
            F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100"
                   " AS BIGINT)").alias("x"),
        )
    )
    got = {
        r.l_returnflag: (
            r.n_rows, r.mean_price, r.ci_lo, r.ci_hi
        )
        for r in bootstrap_ci_frame(li).collect()
    }

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT l_returnflag, l_orderkey, l_linenumber,"
        f" CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        f" FROM read_parquet('{_pq(sf_dir, 'lineitem')}')"
        f" WHERE l_orderkey % 200 = 0"
    ).fetchall()
    swx: dict[tuple, int] = defaultdict(int)
    sw: dict[tuple, int] = defaultdict(int)
    tot: dict[str, int] = defaultdict(int)
    cnt: dict[str, int] = defaultdict(int)
    for flag, ok, ln, x in rows:
        tot[flag] += x
        cnt[flag] += 1
        for g in range(_BOOT_G):
            h = hashlib.md5(f"boot:{g}:{ok}:{ln}".encode()).hexdigest()
            for j in range(8):
                u16 = int(h[j * 4:(j + 1) * 4], 16)
                w = 8
                for kk, thr in enumerate(_POIS_T):
                    if u16 < thr:
                        w = kk
                        break
                if w:
                    key = (flag, g * 8 + j)
                    swx[key] += w * x
                    sw[key] += w
    rep_py = {}
    for flag in tot:
        ms = sorted(
            float(swx[(flag, b)]) / float(sw[(flag, b)])
            for b in range(8 * _BOOT_G)
            if sw.get((flag, b))
        )
        mean_cents = float(tot[flag]) / cnt[flag]
        rep_py[flag] = (
            cnt[flag],
            mean_cents / 100.0,
            _percentile(ms, 0.025) / 100.0,
            _percentile(ms, 0.975) / 100.0,
        )
    return got == rep_py, {
        "rows": len(rows), "flags": len(rep_py),
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    write = "--write" in sys.argv[1:]
    sf_dir = args[0] if args else SF
    spark = get_spark("scale-pins")
    results = {}
    fails = 0
    for name, fn in [
        ("op-ext-pagerank", pin_pagerank),
        ("op-ext-clustering-coef", pin_clustering_coef),
        ("op-ext-semantic-dedup", pin_semantic_dedup),
        ("op-ext-bootstrap-ci", pin_bootstrap_ci),
    ]:
        ok, detail = fn(spark, sf_dir)
        results[name] = {"exact": bool(ok), "sf_dir": sf_dir, **detail}
        print(f"{'PIN ok  ' if ok else 'PIN FAIL'} {name}: {detail}")
        fails += 0 if ok else 1
    if write:
        with open(OUT, "w") as fh:
            json.dump(results, fh, indent=1)
        print(f"wrote {OUT}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
