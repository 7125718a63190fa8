"""Machine-readable ledger of the 100×-scale (sf10) oracle sweep.

The r10 verdict asked that EVERY registered op be either sf10
value-exact or pinned to a NAMED exclusion class — no silent gaps at
100×. BASELINE.md records the sweep narratively per batch; this tool
makes it mechanical: SF10_SWEEP.json is the record of every op found
exact (with the round and batch of its green run), this file names
which ops are excluded and WHY, and every other registered op is
pending. ``--write`` regenerates SF10_SWEEP.json at the repo root;
``--mark <round> <batch> op...`` records a fresh green check_local
run.

Exclusion classes (all ORACLE-cost — the engine side of each has its
own sf1/sf10 probe; documented in BASELINE.md rounds 10-11):
  pair-oracle   O(n²) all-pairs ground truth (brute-force anchors) —
                infeasible in any engine at 500k docs / 1M vectors.
  hof-replay    O(len·k) DuckDB list-HOF replays run effectively
                single-threaded (>15 min observed at 500k docs).
  graph-cte     recursive-CTE label propagation over the 27M-edge
                near-dup graph (>50 min observed, killed twice).
  join-blowup   iterated/enumerated full-graph join replays — DuckDB
                materializes each unrolled round: pagerank (3 rounds
                over the ~30M-edge bipartite expansion; 58 GB RSS +
                >200 GB spill, then raised), clustering-coef
                (per-node triangle enumeration; OOM at 65-90 GB),
                semantic-dedup (k=n/500-means replay + within-bucket
                pairs at 500k docs; OOM ~86 GB). All measured r11.
                r12: pagerank, clustering-coef, semantic-dedup (and
                hash-explode's bootstrap-ci) now ALSO carry sf10 VALUE
                pins beyond their time probes: engine-at-sf10 on a
                deterministic induced subsample vs an independent
                pure-Python replay, all four exact — see
                tools/scale_pins.py and SCALE_PINS.json.
  hash-explode  O(rows·B) content-hash explode replay: bootstrap-ci's
                60M rows × 6 md5 × 48 Poisson replicates = 2.9B-row
                intermediate (killed at 45 min / 31 GB, r11).
  rows-only     no oracle by documented nature (see
                tests/test_registry_guard.py).

Usage:
    python tools/sf10_ledger.py            # print summary + pending
    python tools/sf10_ledger.py --write    # (re)generate SF10_SWEEP.json
    python tools/sf10_ledger.py --mark 11 F op-ext-pagerank ...
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

LEDGER = os.path.join(ROOT, "SF10_SWEEP.json")

#: Named exclusions with classes (BASELINE.md round 10 + this round).
EXCLUSIONS = {
    # O(n²) pair oracles — brute-force anchors whose ground truth is
    # itself all-pairs (1.25e11 pairs at 500k docs / 1e10 at 1M vecs).
    "op-ext-ann-bruteforce": "pair-oracle",
    # recall monitor: its ground-truth side IS the brute-force anchor
    # (Q·C pair rows in the replay); sf1 oracle-exact r12.
    "op-ext-ann-recall-surface": "pair-oracle",
    "op-ext-ann-lsh-fullprobe": "pair-oracle",  # oracle = brute force
    "op-ext-ann-ivf-fullprobe": "pair-oracle",  # oracle = brute force
    "op-ext-embed-neardup-exact": "pair-oracle",
    "op-ext-embed-neardup": "pair-oracle",  # verify joins need exact twin
    # lsh-eval's ground-truth CTE IS an all-pairs list-intersect
    # Jaccard self-join (sh a JOIN sh b ON a.doc_id < b.doc_id) —
    # 1.25e11 pairs at 500k docs; the Spark side has its own sf10
    # probe (r11: verify-join width fix, operators/dedup.py nv).
    "op-ext-lsh-eval": "pair-oracle",
    # r12: same _SIG_CTE list-HOF replay as minhash-lsh; sf1-exact r12
    "op-ext-minhash-incremental": "hof-replay",
    # both simhash pair ops' oracles are the literal all-pairs Hamming
    # definition; the 48-bit anchor additionally has a DOCUMENTED
    # engine-side scale limit (12-bit bands saturate at 4,096 buckets
    # → O(n²/4096), 58 GB spill measured r11 at 500k docs); the
    # 128-bit -scaled twin is the engine's 100 TB operating point and
    # carries the sf10 engine probe.
    "op-ext-simhash-neardup": "pair-oracle",
    "op-ext-simhash-neardup-scaled": "pair-oracle",
    # O(len·k) DuckDB list-HOF replays (>15 min single-threaded).
    "op-ext-fingerprint": "hof-replay",
    "op-ext-fingerprint-rolling": "hof-replay",
    "op-ext-winnow": "hof-replay",
    "op-ext-winnow-neardup": "hof-replay",
    "op-ext-minhash-sig": "hof-replay",  # k×md5 per shingle per doc
    "op-ext-minhash-lsh": "hof-replay",
    "op-ext-jaccard": "hof-replay",
    "op-ext-ppjoin": "hof-replay",
    "op-ext-setjoin-prefix": "hof-replay",
    "op-ext-containment-join": "hof-replay",
    # recursive-CTE graph propagation over the 27M-edge near-dup graph.
    "op-ext-curation-funnel": "graph-cte",
    "op-ext-dedup-clusters": "graph-cte",
    "op-ext-dedup-survivors": "graph-cte",
    "op-ext-dedup-best-survivor": "graph-cte",
    # iterated/enumerated full-graph join replays (r11 measured).
    "op-ext-pagerank": "join-blowup",
    "op-ext-clustering-coef": "join-blowup",
    "op-ext-semantic-dedup": "join-blowup",
    # content-hash explode replay (r11 measured).
    "op-ext-bootstrap-ci": "hash-explode",
    # ADC replay: the IVF candidate frame (Q·n_probe·n/k ≈ 2.5e9 rows
    # at 1M vecs / 10k queries / fixed k=16) × 8 PQ-subspace LUT rows —
    # DuckDB spilled ~75 GB then disk-full at 20 min (r11 measured).
    # The exact-scoring IVF oracle on the SAME candidate CTEs passed
    # (batch F7); the ×8 explode is what tips it over.
    "op-ext-ann-ivf-pq": "hash-explode",
    # rows-only by documented nature (no oracle at ANY sf).
    # op-ext-bpe-learn left this set in r13: it returns a 1-row
    # structural audit with a DuckDB oracle (round-1 argmax value-exact)
    # and is sf10-checkable — the learn loop is vocab-sized, and the
    # ×100 synthesis replicates documents so the vocab doesn't grow.
    "op-ext-dp-counts": "rows-only",
    "op-ext-mllib-minhash": "rows-only",
}


def all_ops() -> set[str]:
    d = os.path.join(ROOT, "data_warehousing_assignment_spark")
    out = set()
    for f in os.listdir(d):
        if f.startswith("registry") and f.endswith(".py"):
            src = open(os.path.join(d, f)).read()
            out.update(re.findall(r'@query\(\s*\n?\s*"(op-[^"]+)"', src))
    return out


def build() -> dict:
    prev = {}
    if os.path.exists(LEDGER):
        prev = json.load(open(LEDGER))
    ops = all_ops()
    ledger = {}
    # the recorded order first (--mark appends), then new ops sorted
    for name in [n for n in prev if n in ops] + sorted(ops - prev.keys()):
        if name in EXCLUSIONS:
            ledger[name] = {"status": "excluded", "class": EXCLUSIONS[name]}
        elif name in prev and prev[name].get("status") == "exact":
            ledger[name] = prev[name]  # keep recorded green runs
        else:
            ledger[name] = {"status": "pending"}
    return ledger


def main() -> int:
    args = sys.argv[1:]
    if args[:1] == ["--mark"]:
        rnd, batch, names = int(args[1]), args[2], args[3:]
        ledger = json.load(open(LEDGER))
        import __spark_entry__ as entry

        registered = set(entry.queries())
        for n in names:
            if n not in ledger and n not in registered:
                print(f"unknown op: {n}")
                return 1
            # ops registered after the last --write enter the ledger
            # here (their fresh check_local green is exactly the
            # evidence --mark records)
            ledger[n] = {"status": "exact", "round": rnd, "batch": batch}
        json.dump(ledger, open(LEDGER, "w"), indent=1)
        print(f"marked {len(names)} ops exact (r{rnd} batch {batch})")
        return 0
    ledger = build()
    if args[:1] == ["--write"]:
        json.dump(ledger, open(LEDGER, "w"), indent=1)
        print(f"wrote {LEDGER}")
    n_exact = sum(1 for v in ledger.values() if v["status"] == "exact")
    n_excl = sum(1 for v in ledger.values() if v["status"] == "excluded")
    pending = [n for n, v in ledger.items() if v["status"] == "pending"]
    print(f"{len(ledger)} ops: {n_exact} exact, {n_excl} excluded, "
          f"{len(pending)} pending")
    for n in pending:
        print("  pending:", n)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
