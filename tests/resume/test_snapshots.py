"""Snapshot-pinned reads over the parquet fallback (operator S2's
semantics without the Iceberg jar): atomic fileset visibility, time
travel until overwrite, expiry detection, and read_transcripts staying
a plain read of a committed stage's directory."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ner_spark.checkpoint.lineage import (
    SnapshotExpiredError,
    commit_stage,
    read_snapshot,
    snapshots,
    with_bucket,
)
from ner_spark.fixtures.transcripts import transcripts_df
from ner_spark.io.read import read_transcripts

N_BUCKETS = 4


def _slice(t, buckets):
    """Rows of ``t`` landing in the given bucket ids (pure function of
    conv_id, so commit-time bucketing reproduces it exactly)."""
    return (
        with_bucket(t, N_BUCKETS)
        .filter(F.col("part").isin(list(buckets)))
        .drop("part")
    )


def test_snapshot_history_time_travel_and_expiry(spark, tmp_path):
    root = str(tmp_path)
    t = transcripts_df(spark, 24)  # 24 convs spread over all 4 buckets

    # commit 1: only the rows of buckets {0, 1} → a partial table
    commit_stage(_slice(t, {0, 1}), root, "turns", n_buckets=N_BUCKETS)
    hist = snapshots(root, "turns")
    assert [r["snapshot_id"] for r in hist] == [1]
    assert hist[0]["parent_id"] is None
    n1 = read_snapshot(spark, root, "turns", 1).count()
    assert n1 == _slice(t, {0, 1}).count() > 0

    # commit 2 (resume): fills ONLY the missing buckets — dynamic
    # overwrite leaves snapshot 1's files alone, so time travel works
    commit_stage(t, root, "turns", n_buckets=N_BUCKETS)
    hist = snapshots(root, "turns")
    assert [r["snapshot_id"] for r in hist] == [1, 2]
    assert hist[1]["parent_id"] == 1
    assert read_snapshot(spark, root, "turns").count() == t.count()
    assert read_snapshot(spark, root, "turns", 1).count() == n1  # pinned

    # commit 3 (lineage rows deleted first): rewrites every bucket →
    # snapshots 1 and 2 expire (the fallback overwrites in place,
    # unlike Iceberg's COW)
    shutil.rmtree(os.path.join(root, "_lineage", "turns"))
    commit_stage(t, root, "turns", n_buckets=N_BUCKETS)
    assert read_snapshot(spark, root, "turns").count() == t.count()
    for old in (1, 2):
        with pytest.raises(SnapshotExpiredError):
            read_snapshot(spark, root, "turns", old)
    with pytest.raises(ValueError):
        read_snapshot(spark, root, "turns", 99)


def test_snapshot_read_is_atomic_against_stray_files(spark, tmp_path):
    """A file landing in the directory AFTER the commit (torn write,
    concurrent writer) is invisible to snapshot reads — the manifest
    pins the fileset; a plain directory read double-counts."""
    root = str(tmp_path)
    t = transcripts_df(spark, 8)
    commit_stage(t, root, "turns", n_buckets=N_BUCKETS)
    n = t.count()

    data_dir = os.path.join(root, "turns")
    part_dirs = [d for d in os.listdir(data_dir) if d.startswith("part=")]
    src_dir = os.path.join(data_dir, part_dirs[0])
    src = next(
        f for f in os.listdir(src_dir) if f.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(src_dir, src),
        os.path.join(src_dir, "stray-" + src),
    )

    assert spark.read.parquet(data_dir).count() > n  # dir read: torn
    assert read_snapshot(spark, root, "turns").count() == n  # pinned


def test_read_transcripts_reads_a_committed_dir_unpinned(spark, tmp_path):
    """read_transcripts reads a commit_stage directory as plain parquet
    (committed stages are read with read_snapshot); a bare parquet dir
    reads the same way."""
    root = str(tmp_path)
    t = transcripts_df(spark, 24)
    commit_stage(_slice(t, {0, 1}), root, "turns", n_buckets=N_BUCKETS)
    commit_stage(t, root, "turns", n_buckets=N_BUCKETS)

    path = os.path.join(root, "turns")
    assert read_transcripts(spark, path).count() == t.count()
    bare = os.path.join(root, "bare")
    t.limit(5).write.parquet(bare)
    assert read_transcripts(spark, bare).count() == 5


def test_stray_file_cannot_launder_into_next_snapshot(spark, tmp_path):
    """Manifests are incremental: a resume commit inherits untouched
    buckets' file lists from the PARENT manifest, so a stray file
    planted between commits never enters any snapshot."""
    root = str(tmp_path)
    t = transcripts_df(spark, 24)
    commit_stage(_slice(t, {0, 1}), root, "turns", n_buckets=N_BUCKETS)
    n1 = read_snapshot(spark, root, "turns", 1).count()

    data_dir = os.path.join(root, "turns")
    pdir = next(
        os.path.join(data_dir, d)
        for d in sorted(os.listdir(data_dir))
        if d.startswith("part=")
    )
    src = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
    shutil.copy(os.path.join(pdir, src), os.path.join(pdir, "stray-" + src))

    commit_stage(t, root, "turns", n_buckets=N_BUCKETS)  # resume fill
    assert read_snapshot(spark, root, "turns").count() == t.count()
    assert read_snapshot(spark, root, "turns", 1).count() == n1
    # the raw dir still has the stray (we never clean committed
    # buckets on resume) -- only the manifests exclude it
    assert spark.read.parquet(data_dir).count() > t.count()


def test_snapshot_contract_scenario_is_clean(spark):
    from ner_spark.checkpoint.lineage import snapshot_contract_violations

    assert snapshot_contract_violations(spark) == 0


def test_noop_commit_creates_no_snapshot(spark, tmp_path):
    root = str(tmp_path)
    t = transcripts_df(spark, 12)
    commit_stage(t, root, "turns", n_buckets=N_BUCKETS)
    n_hist = len(snapshots(root, "turns"))
    commit_stage(t, root, "turns", n_buckets=N_BUCKETS)  # fully resumed
    assert len(snapshots(root, "turns")) == n_hist  # no new manifest


def test_in_place_size_change_expires_snapshot(spark, tmp_path):
    root = str(tmp_path)
    t = transcripts_df(spark, 8)
    commit_stage(t, root, "turns", n_buckets=N_BUCKETS)
    data_dir = os.path.join(root, "turns")
    pdir = next(
        os.path.join(data_dir, d)
        for d in sorted(os.listdir(data_dir))
        if d.startswith("part=")
    )
    victim = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
    with open(os.path.join(pdir, victim), "ab") as f:
        f.write(b"tamper")
    with pytest.raises(SnapshotExpiredError):
        read_snapshot(spark, root, "turns")


def test_same_size_in_place_rewrite_expires_snapshot(spark, tmp_path):
    """A file overwritten in place with identical name AND size must
    still expire the snapshot — the manifest's per-file mtime_ns
    integrity token catches what the size check alone cannot."""
    root = str(tmp_path)
    t = transcripts_df(spark, 8)
    commit_stage(t, root, "turns", n_buckets=N_BUCKETS)
    data_dir = os.path.join(root, "turns")
    pdir = next(
        os.path.join(data_dir, d)
        for d in sorted(os.listdir(data_dir))
        if d.startswith("part=")
    )
    victim = os.path.join(
        pdir, next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
    )
    with open(victim, "rb") as f:
        payload = f.read()
    # byte-for-byte same size, different mtime_ns (a fresh write
    # always advances the nanosecond clock past the recorded token)
    with open(victim, "wb") as f:
        f.write(payload)
    with pytest.raises(SnapshotExpiredError):
        read_snapshot(spark, root, "turns")


def test_nested_stage_snapshot_read(spark, tmp_path):
    """Streaming commits nested stage names (stream_tagged/batch=N);
    read_snapshot pins them like any other stage."""
    root = str(tmp_path)
    t = transcripts_df(spark, 8)
    commit_stage(t, root, "stream_tagged/batch=3", n_buckets=N_BUCKETS)
    got = read_snapshot(spark, root, "stream_tagged/batch=3", 1)
    assert got.count() == t.count()
