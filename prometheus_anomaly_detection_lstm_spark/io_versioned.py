"""Versioned parquet lake: manifest-based snapshots with time travel.

The Iceberg/Delta idea at its core, on nothing but parquet + JSON
manifests — the minimal machinery that gives a training-data lake
reproducibility guarantees:

- every commit (append or overwrite) is a new immutable MANIFEST
  listing exactly the data files visible in that version;
- readers plan their scan from a manifest, never from a directory
  listing, so a half-written commit is invisible and a dataset version
  used for a training run can be re-read bit-identically later;
- ``snapshot_diff`` turns two versions into (added, removed) row sets
  by reading ONLY the file-set difference — change-data capture without
  touching unchanged files;
- ``vacuum`` deletes data files unreachable from the retained
  manifests.

Layout::

    table/
      data/c00001/part-*.parquet   one immutable directory per commit
      _manifests/v00001.json       {"version", "parent", "op", "files"}

Commit protocol: data files land first (into a commit directory no
manifest references yet), then the manifest is written to a temp name
and atomically renamed into place.  A reader that enumerates versions
between those steps simply doesn't see the new version.  Single-writer
by design (a driver-side coordinator owns commits); multi-writer
compare-and-swap is a metastore concern, out of scope.

At 100 TB: manifests hold file PATHS (thousands of entries, KBs of
JSON), not data; scan planning cost is O(files in the version), the
same as Delta's JSON log before checkpointing.  Reads pass the explicit
file list to the parquet source, so column pruning and predicate
pushdown work exactly as on a plain directory scan (pinned by test).

Engine-completeness surface (the reference —
vpuhoff/prometheus-anomaly-detection-lstm — has CSV artifacts only, no lake).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, _MANIFEST_DIR, f"v{version:05d}.json")


def list_versions(table: str) -> list[int]:
    mdir = os.path.join(table, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[1:-5])  # full digit run: v100000.json parses as 100000
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )


def latest_version(table: str) -> int:
    versions = list_versions(table)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {table}")
    return versions[-1]


def read_manifest(table: str, version: int) -> dict:
    with open(_manifest_path(table, version)) as fh:
        return json.load(fh)


def _commit(
    table: str, df: DataFrame, op: str, meta: dict | None = None
) -> int:
    versions = list_versions(table)
    version = (versions[-1] if versions else 0) + 1
    commit_dir = os.path.join(table, _DATA_DIR, f"c{version:05d}")
    if os.path.isdir(commit_dir):
        # a writer that died between the parquet write and the manifest
        # rename left this orphan; no manifest references it (the rename
        # IS the commit point), so clearing it is safe — without this,
        # mode("error") would block every future commit on the table
        shutil.rmtree(commit_dir)
    df.write.mode("error").parquet(commit_dir)
    new_files = sorted(
        os.path.join(_DATA_DIR, f"c{version:05d}", f)
        for f in os.listdir(commit_dir)
        if f.endswith(".parquet")
    )
    carried: list[str] = []
    if op == "append" and versions:
        carried = read_manifest(table, versions[-1])["files"]
    manifest = {
        "version": version,
        "parent": versions[-1] if versions else None,
        "op": op,
        "committed_at": time.time(),
        "files": carried + new_files,
        **(meta or {}),
    }
    final = _manifest_path(table, version)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, final)  # atomic: the version appears all-at-once
    return version


def commit_append(
    df: DataFrame, table: str, meta: dict | None = None
) -> int:
    """New version = parent's files + this frame's files.  ``meta``
    key/values land in the manifest (e.g. an (app, batch) idempotence
    token a writer checks before re-committing a replayed batch)."""
    return _commit(table, df, "append", meta)


def commit_overwrite(df: DataFrame, table: str) -> int:
    """New version = exactly this frame's files (logical replace;
    earlier versions still time-travel to the old data)."""
    return _commit(table, df, "overwrite")


def _read_files(spark: SparkSession, table: str, files: list[str]) -> DataFrame:
    paths = [os.path.join(table, f) for f in files]
    if not paths:
        raise ValueError("manifest lists no files")
    return spark.read.parquet(*paths)


def read_version(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Scan a specific snapshot (default: latest). The scan is planned
    from the manifest's explicit file list — pushdown and pruning apply
    as on any parquet source."""
    if version is None:
        version = latest_version(table)
    return _read_files(spark, table, read_manifest(table, version)["files"])


def snapshot_diff(
    spark: SparkSession, table: str, from_version: int, to_version: int
) -> tuple[DataFrame | None, DataFrame | None]:
    """(added_rows, removed_rows) between two snapshots, computed from
    the FILE-set difference — unchanged files are never opened.  Either
    side is None when that direction is empty (pure append has no
    removals)."""
    a = set(read_manifest(table, from_version)["files"])
    b = set(read_manifest(table, to_version)["files"])
    added = sorted(b - a)
    removed = sorted(a - b)
    return (
        _read_files(spark, table, added) if added else None,
        _read_files(spark, table, removed) if removed else None,
    )


def vacuum(table: str, keep_last: int = 2) -> list[str]:
    """Drop all but the newest ``keep_last`` manifests, then delete
    every data file no retained manifest references.  Returns the
    deleted paths (table-relative)."""
    if keep_last < 1:
        # versions[-0:] would slice the whole list, silently keeping
        # every manifest — the opposite of what keep_last=0 suggests
        raise ValueError("vacuum keeps at least one version (keep_last >= 1)")
    versions = list_versions(table)
    keep = set(versions[-keep_last:])
    reachable: set[str] = set()
    for v in keep:
        reachable.update(read_manifest(table, v)["files"])
    deleted: list[str] = []
    for v in versions:
        if v not in keep:
            os.remove(_manifest_path(table, v))
    data_root = os.path.join(table, _DATA_DIR)
    for commit_name in sorted(os.listdir(data_root)):
        cdir = os.path.join(data_root, commit_name)
        for f in list(os.listdir(cdir)):
            rel = os.path.join(_DATA_DIR, commit_name, f)
            if f.endswith(".parquet") and rel not in reachable:
                os.remove(os.path.join(cdir, f))
                deleted.append(rel)
        if not any(f.endswith(".parquet") for f in os.listdir(cdir)):
            shutil.rmtree(cdir)
    return deleted


def read_version_merged_schema(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Snapshot scan with SCHEMA EVOLUTION: commits written with
    different (compatible) schemas — e.g. a column added mid-history —
    read as their union, missing columns NULL-filled per file.  The
    mergeSchema pass reads footers only; data pages are untouched until
    the real scan."""
    if version is None:
        version = latest_version(table)
    files = read_manifest(table, version)["files"]
    return spark.read.option("mergeSchema", True).parquet(
        *[os.path.join(table, f) for f in files]
    )


def _file_stats(path: str) -> dict:
    """Footer-only per-column [min, max] for primitive columns (the
    Delta/Iceberg data-skipping stats).  Columns without usable
    statistics are simply absent — readers must treat absence as
    'might match'."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            lo, hi = st.min, st.max
            if not isinstance(lo, (int, float, str)):
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return {c: [mins[c], maxs[c]] for c in mins}


def collect_stats(table: str, version: int | None = None) -> int:
    """Backfill data-skipping stats into a manifest (footer reads only;
    no data pages).  Run at commit time in a real deployment; separate
    here so stats stay optional.  Returns the stat'd file count."""
    if version is None:
        version = latest_version(table)
    manifest = read_manifest(table, version)
    stats = {
        f: _file_stats(os.path.join(table, f)) for f in manifest["files"]
    }
    manifest["stats"] = stats
    final = _manifest_path(table, version)
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, final)
    return len(stats)


def read_version_skipping(
    spark: SparkSession,
    table: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Snapshot scan with MANIFEST-LEVEL data skipping: files whose
    stored [min, max] for ``column`` cannot intersect [lo, hi] are
    dropped from the scan plan before Spark ever sees them — the
    Delta/Iceberg stats-pruning step on top of parquet's own row-group
    pruning.  Files without stats are conservatively kept.  The range
    filter is ALSO applied to the surviving rows, so the result is
    exactly the filtered snapshot."""
    if version is None:
        version = latest_version(table)
    manifest = read_manifest(table, version)
    stats = manifest.get("stats", {})
    keep = []
    for f in manifest["files"]:
        s = stats.get(f, {}).get(column)
        if s is None or not (hi < s[0] or lo > s[1]):
            keep.append(f)
    from pyspark.sql import functions as F

    df = _read_files(spark, table, keep)
    return df.filter((F.col(column) >= lo) & (F.col(column) <= hi))
