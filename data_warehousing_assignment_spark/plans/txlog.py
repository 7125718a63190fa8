"""Miniature transaction log — the lakehouse mechanics (commit manifest,
version-pinned snapshot reads, compaction commits, retention vacuum)
our SCD2 / materialization docs name as the Delta/Iceberg upgrade path
(plans/scd2.py; delta-spark cannot be installed offline, SURVEY §7.0).

Layout: ``<root>/_log.jsonl`` holds one JSON object per file action
(``{"version": N, "path": <dir>, "action": "add"|"remove"}``); data
files are immutable parquet directories. Readers NEVER list the
filesystem — a snapshot AT version v is exactly (files added ≤ v) −
(files removed ≤ v), which is what gives a real table format snapshot
isolation: in-flight and newer commits are invisible because they are
unlisted.

The Delta-faithful life cycle this reproduces:

* ``commit``     — append-only add of one immutable delta;
* ``compact``    — a REWRITE commit: one new file carrying the whole
  current snapshot + remove actions for every file it supersedes
  (the only way files ever become unreferenced — append-only logs
  keep every delta live forever);
* ``vacuum``     — physically deletes files whose remove-version is
  below the retention horizon (files no snapshot ≥ horizon can
  reference) and records the horizon, so time travel BELOW it fails
  loudly instead of silently resolving missing files.

At 100 TB the manifest is metadata-sized; reads are bounded by the
pinned snapshot; vacuum is a manifest diff plus bounded deletes. A
real format adds atomic manifest swaps + optimistic concurrency —
out of scope on plain parquet, documented as the upgrade's delta."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def log_path(root: str) -> str:
    return os.path.join(root, "_log.jsonl")


def read_log(root: str) -> list[dict]:
    try:
        with open(log_path(root)) as fh:
            return [json.loads(line) for line in fh]
    except FileNotFoundError:
        return []


def _append(root: str, entries: list[dict]) -> None:
    with open(log_path(root), "a") as fh:
        for e in entries:
            fh.write(json.dumps(e) + "\n")


def latest_version(root: str) -> int:
    entries = read_log(root)
    return max((e["version"] for e in entries if "path" in e), default=0)


def horizon(root: str) -> int:
    """Lowest version still time-travelable (raised by vacuum)."""
    return max(
        (e["horizon"] for e in read_log(root) if e.get("action") == "vacuum"),
        default=0,
    )


def commit(root: str, df: DataFrame, version: int) -> str:
    """Append one immutable delta as ``version``. Returns its path."""
    delta_dir = os.path.join(root, f"delta_v{version}")
    df.write.mode("overwrite").parquet(delta_dir)
    _append(root, [{"version": version, "path": delta_dir, "action": "add"}])
    return delta_dir


def live_files(root: str, as_of_version: int) -> list[str]:
    adds, removes = set(), set()
    for e in read_log(root):
        if e.get("version", 10**18) <= as_of_version:
            if e.get("action") == "add":
                adds.add(e["path"])
            elif e.get("action") == "remove":
                removes.add(e["path"])
    return sorted(adds - removes)


def read_snapshot(
    spark: SparkSession, root: str, as_of_version: int | None = None
) -> DataFrame:
    """Snapshot read: union exactly the files live at the pinned
    version (default latest). Raises below the vacuum horizon — those
    snapshots are no longer reconstructible BY CONTRACT, never
    silently partial."""
    as_of_version = _resolve_version(root, as_of_version)
    paths = live_files(root, as_of_version)
    if not paths:
        raise ValueError(
            f"version {as_of_version} predates the first commit in {root}"
        )
    return spark.read.parquet(*paths)


def rewrite(root: str, df: DataFrame, version: int) -> str:
    """Replace-commit: ``df`` becomes the WHOLE snapshot at ``version``
    — one add plus remove actions for every file live at the prior
    version. This is the write shape of MERGE INTO / SCD2 on a table
    format (Delta's MERGE rewrites touched files and commits adds +
    removes atomically); earlier versions stay time-travelable because
    removes are logical until vacuum. The materialize-then-log order
    means a crash mid-write leaves an orphan data dir but never a
    corrupt snapshot (the log line is the commit point)."""
    prior = live_files(root, version - 1)
    delta_dir = os.path.join(root, f"delta_v{version}")
    df.write.mode("overwrite").parquet(delta_dir)
    _append(
        root,
        [{"version": version, "path": delta_dir, "action": "add"}]
        + [
            {"version": version, "path": p, "action": "remove"}
            for p in prior
        ],
    )
    return delta_dir


def compact(spark: SparkSession, root: str, version: int) -> str:
    """Rewrite the current snapshot into ONE new file (:func:`rewrite`),
    superseding every live file — the OPTIMIZE step that makes files
    eligible for vacuum (and the point where op-ext-compaction-plan's
    grouping would drive WHICH files co-rewrite at scale)."""
    return rewrite(root, read_snapshot(spark, root), version)


def vacuum(root: str, retain_from_version: int) -> list[str]:
    """Physically delete files whose remove action is OLDER than
    ``retain_from_version`` — no snapshot at or above the horizon can
    reference them. Records the horizon so deeper time travel raises.
    Returns removed paths. Idempotent: already-deleted files are never
    re-reported. Single-writer assumption, like the whole module."""
    entries = read_log(root)
    removable = {
        e["path"]
        for e in entries
        if e.get("action") == "remove"
        and e["version"] <= retain_from_version
    }
    removed = []
    for p in sorted(removable):
        if os.path.exists(p):
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
    _append(
        root, [{"action": "vacuum", "horizon": retain_from_version}]
    )
    return removed


def _resolve_version(root: str, as_of_version: int | None) -> int:
    """Shared snapshot-read validation: commits exist, the pinned
    version defaults to latest, and it is at or above the vacuum
    horizon — both read paths enforce the 'never silently partial'
    contract through this one gate."""
    entries = read_log(root)
    if not any("path" in e for e in entries):
        raise FileNotFoundError(f"no commits in {root}")
    if as_of_version is None:
        as_of_version = latest_version(root)
    h = horizon(root)
    if as_of_version < h:
        raise ValueError(
            f"version {as_of_version} is below the vacuum horizon {h}"
        )
    return as_of_version


def commit_with_stats(
    root: str, df: DataFrame, version: int, stats_col: str
) -> str:
    """Commit like :func:`commit`, additionally recording the file's
    min/max of ``stats_col`` in the manifest entry — the Delta/Iceberg
    per-file statistics that make MANIFEST-LEVEL data skipping possible
    (same min/max contract as op-ext-zonemap, one level above row
    groups). The stats are aggregated from the JUST-WRITTEN file, so
    the input plan runs once and the recorded range provably describes
    the file's actual contents. Values are stored as raw JSON (string
    stays string, number stays number) so :func:`skipped_read` compares
    with the column's own ordering, never lexically-on-str()."""
    from pyspark.sql import functions as F

    delta_dir = commit(root, df, version)
    row = (
        df.sparkSession.read.parquet(delta_dir)
        .agg(F.min(stats_col).alias("lo"), F.max(stats_col).alias("hi"))
        .collect()[0]
    )
    if row["lo"] is not None and row["hi"] is not None:
        # rewrite the entry commit() appended, now carrying stats —
        # an all-NULL/empty file stays statless (always scanned: sound)
        entries = read_log(root)
        entries[-1]["stats"] = {
            "col": stats_col,
            "min": row["lo"],
            "max": row["hi"],
        }
        with open(log_path(root), "w") as fh:
            for e in entries:
                fh.write(json.dumps(e, default=str) + "\n")
    return delta_dir


def skipped_read(
    spark: SparkSession,
    root: str,
    lo,
    hi,
    as_of_version: int | None = None,
) -> tuple[DataFrame, list[str], list[str]]:
    """Snapshot read that SKIPS files whose manifest stats range
    [min, max] cannot intersect [lo, hi] — returns (frame, scanned,
    skipped). A file without stats is always scanned (sound by
    construction: skipping requires PROOF of non-overlap), and stats
    whose JSON type differs from lo/hi's type are treated as absent
    rather than compared across types. Same horizon/no-commit guards
    as :func:`read_snapshot` (via _resolve_version)."""
    as_of_version = _resolve_version(root, as_of_version)
    entries = read_log(root)
    live = set(live_files(root, as_of_version))
    stats = {
        e["path"]: e.get("stats")
        for e in entries
        if e.get("action") == "add" and e["path"] in live
    }
    scanned, skipped = [], []
    for p in sorted(live):
        s = stats.get(p)
        comparable = (
            s is not None
            and isinstance(s["min"], type(lo))
            and isinstance(s["max"], type(hi))
        )
        if comparable and (s["max"] < lo or s["min"] > hi):
            skipped.append(p)
        else:
            scanned.append(p)
    if not scanned:
        raise ValueError("predicate prunes every file — empty snapshot read")
    return spark.read.parquet(*scanned), scanned, skipped
