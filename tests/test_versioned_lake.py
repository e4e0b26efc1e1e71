"""Versioned lake (io_versioned): time travel, diff, vacuum, pushdown."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark import io_versioned as V


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert V.commit_append(_df(spark, 0, 10), t, meta={"batch": 0}) == 1
    assert V.commit_append(_df(spark, 10, 15), t, meta={"batch": 1}) == 2
    return t


def test_time_travel_reads_each_snapshot(spark, table):
    assert V.read_version(spark, table, 1).count() == 10
    assert V.read_version(spark, table, 2).count() == 15
    assert V.read_version(spark, table).count() == 15  # latest
    assert V.latest_version(table) == 2
    # commit meta (a writer's idempotence token) lands in each manifest
    assert [V.read_manifest(table, v)["batch"] for v in (1, 2)] == [0, 1]


def test_overwrite_replaces_visible_files_not_history(spark, table):
    v3 = V.commit_overwrite(_df(spark, 100, 103), table)
    assert v3 == 3
    ids = {r["id"] for r in V.read_version(spark, table).collect()}
    assert ids == {100, 101, 102}
    # history intact: v2 still reads the pre-overwrite union
    assert V.read_version(spark, table, 2).count() == 15


def test_snapshot_diff_reads_only_changed_files(spark, table):
    added, removed = V.snapshot_diff(spark, table, 1, 2)
    assert removed is None  # pure append
    assert {r["id"] for r in added.collect()} == set(range(10, 15))
    V.commit_overwrite(_df(spark, 100, 103), table)
    added, removed = V.snapshot_diff(spark, table, 2, 3)
    assert {r["id"] for r in added.collect()} == {100, 101, 102}
    assert removed.count() == 15


def test_half_written_commit_is_invisible(spark, table):
    # Data files staged without a manifest (writer died mid-commit):
    # readers and the next committer must both ignore them.
    stray = os.path.join(table, "data", "c99999")
    _df(spark, 500, 505).write.parquet(stray)
    assert V.latest_version(table) == 2
    assert V.read_version(spark, table).count() == 15


def test_vacuum_drops_unreachable_files_keeps_live_versions(spark, table):
    V.commit_overwrite(_df(spark, 100, 103), table)  # v3 orphans v1+v2 files
    deleted = V.vacuum(table, keep_last=1)
    assert deleted, "the pre-overwrite files must be reclaimed"
    assert V.list_versions(table) == [3]
    assert V.read_version(spark, table, 3).count() == 3
    with pytest.raises(FileNotFoundError):
        V.read_manifest(table, 2)


def test_vacuum_keeps_files_shared_by_retained_versions(spark, table):
    # v2 (append) shares v1's files; keeping v2 must keep them all.
    deleted = V.vacuum(table, keep_last=1)
    assert deleted == []
    assert V.read_version(spark, table, 2).count() == 15


def test_manifest_scan_still_pushes_predicates(spark, table):
    df = V.read_version(spark, table).filter(F.col("id") > 12)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(id,12)" in plan
    assert df.count() == 2


def test_schema_evolution_across_commits(spark, tmp_path):
    t = str(tmp_path / "evo")
    V.commit_append(_df(spark, 0, 5), t)
    widened = _df(spark, 5, 8).withColumn(
        "quality", F.col("id").cast("double") / 10
    )
    V.commit_append(widened, t)
    out = V.read_version_merged_schema(spark, t)
    assert set(out.columns) == {"id", "v", "quality"}
    rows = {r["id"]: r["quality"] for r in out.collect()}
    assert len(rows) == 8
    assert rows[2] is None          # pre-evolution rows NULL-fill
    assert rows[6] == 0.6           # post-evolution rows carry the column


def test_manifest_stats_skip_nonoverlapping_files(spark, tmp_path):
    t = str(tmp_path / "skip")
    V.commit_append(_df(spark, 0, 100).coalesce(1), t)
    V.commit_append(_df(spark, 1000, 1100).coalesce(1), t)
    assert V.collect_stats(t) == 2
    pruned = V.read_version_skipping(spark, t, "id", 1000, 1050)
    # only the second commit's file survives manifest pruning
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 51
    # equality with the unpruned filtered scan
    full = V.read_version(spark, t).filter("id between 1000 and 1050")
    assert {r["id"] for r in pruned.collect()} == {
        r["id"] for r in full.collect()
    }
    # a version without stats keeps every file (conservative)
    t2 = str(tmp_path / "nostats")
    V.commit_append(_df(spark, 0, 10).coalesce(1), t2)
    V.commit_append(_df(spark, 50, 60).coalesce(1), t2)
    allkept = V.read_version_skipping(spark, t2, "id", 0, 5)
    assert len(allkept.inputFiles()) == 2
    assert allkept.count() == 6


def test_orphan_commit_dir_does_not_block_future_commits(spark, tmp_path):
    """A writer crash between parquet write and manifest rename leaves
    an unreachable orphan dir; the next commit must clear it and
    succeed (previously mode('error') blocked the table forever)."""
    import os

    from prometheus_anomaly_detection_lstm_spark import io_versioned as V

    table = str(tmp_path / "vt")
    df = spark.range(5).withColumnRenamed("id", "x")
    V.commit_overwrite(df, table)
    # simulate the crash: data dir for version 2 exists, no manifest
    orphan = os.path.join(table, "data", "c00002")
    df.limit(2).write.parquet(orphan)
    assert V.latest_version(table) == 1
    v = V.commit_append(df, table)
    assert v == 2
    assert V.read_version(spark, table, 2).count() == 10


def test_vacuum_rejects_keep_last_zero(spark, tmp_path):
    import pytest as _pytest

    from prometheus_anomaly_detection_lstm_spark import io_versioned as V

    table = str(tmp_path / "vt0")
    V.commit_overwrite(spark.range(3).withColumnRenamed("id", "x"), table)
    with _pytest.raises(ValueError):
        V.vacuum(table, keep_last=0)
