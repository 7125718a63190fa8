"""Deterministic probabilistic data structures: Count-Min sketch and
Bloom filter, both built on md5-derived hash slots so the SAME sketch is
reproducible in any engine (the cross-engine rule of operators/dedup.py;
engine-native hash()/rand() never crosses the boundary).

Both structures are linear (mergeable by cell-wise +/OR), which is the
entire reason they exist at 100 TB: partial sketches build map-side per
partition and union with one tiny shuffle, like the HLL rollup
(registry_analytics op-ext-hll-merge). Production swaps md5 for
xxhash64 (same shape, ~20× cheaper) — documented, not done, because
xxhash64 output differs between engines and would break the oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import exact as ex


def slot_md5(kind: str, key: str) -> str:
    """md5 hex of ``key`` salted with its hash row: ``<kind><j>:`` for
    the row number in column ``j`` — SQL text shared with the oracles."""
    return f"md5('{kind}' || CAST(j AS STRING) || ':' || CAST({key} AS STRING))"


def _hash_slot(kind: str, key: str, n_hex: int) -> Column:
    """First ``n_hex`` hex chars of :func:`slot_md5` as an integer —
    a uniform slot in [0, 16^n_hex)."""
    return F.expr(ex.hex_int(slot_md5(kind, key), 1, n_hex))


def cms_build(
    df: DataFrame, key: str, depth: int = 4, width_hex: int = 2
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of the key's
    frequency distribution: ``depth`` independent hash rows ×
    ``16^width_hex`` buckets. Returns the cell frame
    (j, bucket, cell_count) — depth·width rows TOTAL, independent of
    input size, built with one explode + one map-side-combined groupBy.
    Merging two sketches = unioning cell frames and summing per cell
    (linearity), pinned in tests/test_sketch.py."""
    rows = df.select(
        F.col(key),
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    ).select(
        "j",
        _hash_slot("cms", key, width_hex).alias("bucket"),
    )
    return rows.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).alias("cell_count")
    )


def cms_estimate(
    cells: DataFrame, candidates: DataFrame, key: str,
    depth: int = 4, width_hex: int = 2,
) -> DataFrame:
    """Point estimates for candidate keys: min over the sketch's depth
    rows of the addressed cell — the one-sided CMS bound
    (estimate ≥ true, within εN w.h.p.). The candidate frame fans out
    ×depth and equi-joins the (j, bucket)-keyed cell frame; the sketch
    side is depth·width rows, so Spark broadcasts it."""
    probes = candidates.select(
        F.col(key),
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    ).select(
        F.col(key),
        "j",
        _hash_slot("cms", key, width_hex).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"], "left")
        .groupBy(key)
        .agg(
            F.min(F.coalesce("cell_count", F.lit(0))).alias("cms_est")
        )
    )


def bloom_bits(
    df: DataFrame, key: str, n_hashes: int = 3, bits_hex: int = 3
) -> DataFrame:
    """The Bloom filter's set-bit positions (distinct) for the build
    side: ``n_hashes`` positions per key in a ``16^bits_hex``-bit
    space. Returned as a position frame (≤ n_hashes·|build| rows,
    ≤ 16^bits_hex after distinct) — the relational encoding of the
    bitmap; OR-merging filters = unioning position frames."""
    pos = df.select(
        F.explode(F.array(*[F.lit(j) for j in range(n_hashes)])).alias("j"),
        F.col(key),
    ).select(
        _hash_slot("bf", key, bits_hex).alias("pos")
    )
    return pos.distinct()


def bloom_filter_probe(
    probe: DataFrame, bits: DataFrame, key: str,
    n_hashes: int = 3, bits_hex: int = 3,
) -> DataFrame:
    """Probe-side membership test: a key passes iff ALL its positions
    are set. Each probe key fans out ×n_hashes, inner-joins the
    broadcast bit frame, and survives when its match count equals
    n_hashes. Returns (key, passes). False positives are expected by
    construction (rate ≈ (1 - e^(-kn/m))^k) — the caller measures them
    against the exact semi-join."""
    fan = probe.select(
        F.col(key),
        F.explode(F.array(*[F.lit(j) for j in range(n_hashes)])).alias("j"),
    ).select(
        F.col(key),
        _hash_slot("bf", key, bits_hex).alias("pos"),
    )
    hits = (
        fan.join(F.broadcast(bits), "pos")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("_nhit"))
        .filter(F.col("_nhit") == n_hashes)
        .select(F.col(key), F.lit(True).alias("passes"))
    )
    return probe.select(key).distinct().join(hits, key, "left").select(
        F.col(key), F.coalesce("passes", F.lit(False)).alias("passes")
    )


def cms_join_size(cells_a: DataFrame, cells_b: DataFrame) -> DataFrame:
    """Equi-join cardinality estimate from two CMS cell frames over the
    same key domain (Cormode & Muthukrishnan 2005, §4.2): |A ⋈ B| =
    Σ_k fA(k)·fB(k), estimated as min over the depth rows j of
    Σ_bucket cellA[j,b]·cellB[j,b] — one-sided (est ≥ true) like the
    point estimate, since colliding keys only ADD cross terms. The
    input frames are depth·width rows each, so this costs one tiny
    join + a depth-row aggregate — the optimizer-statistics pattern
    for sizing a shuffle join without running it."""
    a = cells_a.select("j", "bucket", F.col("cell_count").alias("_na"))
    b = cells_b.select("j", "bucket", F.col("cell_count").alias("_nb"))
    per_j = (
        a.join(b, ["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("_na") * F.col("_nb")).alias("dot"))
    )
    return per_j.agg(F.min("dot").alias("est_join_size"))
