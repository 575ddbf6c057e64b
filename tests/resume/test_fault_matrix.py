"""Fault-injection matrix for the commit/resume path: each case leaves a
root in the on-disk state a crash (or a config change) at one write
point would leave, reruns ``run_resumable``, and must converge to the
uninterrupted run's per-stage (rows, xor checksum), validate clean,
read the full table back through the latest snapshot, and tag exactly
the turns of the ``tagged_turns`` buckets the fault lost."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ner_spark.checkpoint import resume
from ner_spark.checkpoint.lineage import (
    N_BUCKETS,  # run_resumable's default
    lineage_rows,
    read_snapshot,
    snapshots,
    validate_stage,
    with_bucket,
)
from ner_spark.checkpoint.resume import run_resumable, validate_all
from ner_spark.fixtures.transcripts import transcripts_df

N_CONVS = 40
STAGES = ("tagged_turns", "mentions", "triples")


def _fingerprint(df) -> tuple[int, int]:
    df = df.drop("part")
    r = df.agg(
        F.count("*"), F.coalesce(F.bit_xor(F.xxhash64(*df.columns)), F.lit(0))
    ).first()
    return int(r[0]), int(r[1])


def _snapshot_fingerprints(spark, root) -> dict:
    return {s: _fingerprint(read_snapshot(spark, root, s)) for s in STAGES}


def _rm(*paths) -> None:
    for p in paths:
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)


@pytest.fixture(scope="module")
def transcripts(spark):
    return transcripts_df(spark, N_CONVS)


@pytest.fixture(scope="module")
def gold(spark, transcripts, tmp_path_factory):
    """(root, fingerprints) of one uninterrupted run."""
    root = str(tmp_path_factory.mktemp("gold") / "kg_root")
    run_resumable(spark, transcripts, root, mode="gazetteer")
    return root, _snapshot_fingerprints(spark, root)


def _counting_tagger(spark, monkeypatch):
    """Patch run_resumable's tag_turns to count the turns it is given;
    returns the accumulator."""
    seen = spark.sparkContext.accumulator(0)
    real = resume.tag_turns

    def count(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    def counted(transcripts, *args, **kwargs):
        counted_in = transcripts.mapInPandas(count, transcripts.schema)
        return real(counted_in, *args, **kwargs)

    monkeypatch.setattr(resume, "tag_turns", counted)
    return seen


# Each fault returns the tagged_turns buckets (of N_BUCKETS) whose
# turns the rerun must tag: the ones without a committed row.


def _data_without_rows(spark, t, gold_root, root):
    """Crash inside the triples commit after its data landed, while the
    first lineage row was still a half-written tmp file (so before its
    manifest, too)."""
    shutil.copytree(gold_root, root)
    ldir = os.path.join(root, "_lineage", "triples")
    _rm(ldir, os.path.join(root, "_snapshots", "triples"))
    os.makedirs(ldir)
    with open(os.path.join(ldir, "part-00000.json.tmp"), "w") as f:
        f.write('{"stage": "trip')
    return ()


def _some_rows(spark, t, gold_root, root):
    """Crash inside the tagged_turns commit after three of its lineage
    rows: no manifest, and no later stage ever started."""
    shutil.copytree(gold_root, root)
    for part in (0, 3, 6):
        _rm(os.path.join(root, "_lineage", "tagged_turns", f"part-{part:05d}.json"))
    _rm(os.path.join(root, "_snapshots", "tagged_turns"))
    for stage in ("mentions", "triples"):
        _rm(
            os.path.join(root, stage),
            os.path.join(root, "_lineage", stage),
            os.path.join(root, "_snapshots", stage),
        )
    return (0, 3, 6)


def _rows_without_manifest(spark, t, gold_root, root):
    """A partial run, then a run that crashed after all its lineage
    rows but before its manifests: the newest manifest of every stage
    is the partial one, so the rerun must write a new one."""
    half = with_bucket(t, N_BUCKETS).filter(F.col("part") < 4).drop("part")
    run_resumable(spark, half, root, mode="gazetteer")
    run_resumable(spark, t, root, mode="gazetteer")
    for stage in STAGES:
        snaps = sorted(glob.glob(os.path.join(root, "_snapshots", stage, "*.json")))
        assert len(snaps) == 2
        _rm(snaps[-1])
    return ()


def _n_buckets_changed(spark, t, gold_root, root):
    """A complete run under a different bucket domain."""
    run_resumable(spark, t, root, mode="gazetteer", n_buckets=4)
    return tuple(range(N_BUCKETS))


def _one_bucket_lost(spark, t, gold_root, root):
    """A torn commit: one bucket's lineage rows are gone in every
    stage."""
    shutil.copytree(gold_root, root)
    for stage in STAGES:
        _rm(os.path.join(root, "_lineage", stage, "part-00005.json"))
    return (5,)


def _mentions_row_lost(spark, t, gold_root, root):
    """Only the mentions stage lost a bucket's row: its mentions are
    derived again from the committed turns, with no tagging."""
    shutil.copytree(gold_root, root)
    _rm(os.path.join(root, "_lineage", "mentions", "part-00002.json"))
    return ()


def _no_fault(spark, t, gold_root, root):
    """A rerun over a complete commit."""
    shutil.copytree(gold_root, root)
    return ()


@pytest.mark.parametrize(
    "fault",
    [
        _data_without_rows,
        _some_rows,
        _rows_without_manifest,
        _n_buckets_changed,
        _one_bucket_lost,
        _mentions_row_lost,
        _no_fault,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_rerun_converges(spark, transcripts, gold, tmp_path, monkeypatch, fault):
    gold_root, gold_fp = gold
    root = str(tmp_path / "kg_root")
    lost = fault(spark, transcripts, gold_root, root)
    tagged = _counting_tagger(spark, monkeypatch)
    run_resumable(spark, transcripts, root, mode="gazetteer")
    assert validate_all(spark, root) == {s: True for s in STAGES}
    assert _snapshot_fingerprints(spark, root) == gold_fp
    turns = transcripts.dropDuplicates(["conv_id", "turn_idx"])
    assert tagged.value == (
        with_bucket(turns, N_BUCKETS).filter(F.col("part").isin(list(lost))).count()
    )


def test_stray_file_fails_validation_but_not_the_snapshot(
    spark, gold, tmp_path
):
    """A parquet file planted in a committed bucket is data no lineage
    row accounts for: validation fails, and the snapshot read, pinned
    to the rows' filesets, still returns exactly the committed table."""
    gold_root, gold_fp = gold
    root = str(tmp_path / "kg_root")
    shutil.copytree(gold_root, root)
    src = sorted(glob.glob(os.path.join(root, "triples", "part=*", "*.parquet")))[0]
    shutil.copy(src, os.path.join(os.path.dirname(src), "stray-" + os.path.basename(src)))

    assert not validate_stage(spark, root, "triples")
    assert _fingerprint(read_snapshot(spark, root, "triples")) == gold_fp["triples"]


def test_stray_file_does_not_reach_derived_stages(
    spark, transcripts, gold, tmp_path
):
    """A parquet file planted in a committed tagged_turns bucket, then
    that bucket's mentions row lost: the rerun derives the bucket's
    mentions from tagged_turns' snapshot, not from its directory, so
    the stray turns never become mentions."""
    gold_root, gold_fp = gold
    root = str(tmp_path / "kg_root")
    shutil.copytree(gold_root, root)
    src = sorted(glob.glob(os.path.join(root, "tagged_turns", "part=1", "*.parquet")))
    assert src
    shutil.copy(src[0], os.path.join(os.path.dirname(src[0]), "stray.parquet"))
    _rm(os.path.join(root, "_lineage", "mentions", "part-00001.json"))

    run_resumable(spark, transcripts, root, mode="gazetteer")
    assert validate_all(spark, root) == {
        "tagged_turns": False,  # the stray file is still on disk
        "mentions": True,
        "triples": True,
    }
    assert _snapshot_fingerprints(spark, root) == gold_fp


def test_truncated_file_fails_validation(spark, gold, tmp_path):
    """A committed parquet file cut to half its size (a torn rewrite
    or disk damage) makes validation return False instead of failing
    the parquet read."""
    gold_root, _ = gold
    root = str(tmp_path / "kg_root")
    shutil.copytree(gold_root, root)
    victim = sorted(glob.glob(os.path.join(root, "triples", "part=0", "*.parquet")))[0]
    with open(victim, "r+b") as f:
        f.truncate(os.path.getsize(victim) // 2)

    assert not validate_stage(spark, root, "triples")
    assert validate_all(spark, root)["triples"] is False


def test_empty_stages_commit_validate_and_rerun(spark, tmp_path):
    """Turns with no gazetteer entity commit empty mentions and triples
    stages: the commit, validation and a rerun (a no-op: no new row or
    manifest) all succeed."""
    root = str(tmp_path / "kg_root")
    t = spark.createDataFrame(
        [("c0", 0, "你好"), ("c0", 1, "谢谢")],
        "conv_id string, turn_idx int, text string",
    )
    out = run_resumable(spark, t, root, mode="gazetteer", n_buckets=4)
    assert out["mentions"].count() == out["triples"].count() == 0
    assert validate_all(spark, root) == {s: True for s in STAGES}

    def commit_log():
        return {s: (lineage_rows(root, s), snapshots(root, s)) for s in STAGES}

    before = commit_log()
    run_resumable(spark, t, root, mode="gazetteer", n_buckets=4)
    assert commit_log() == before
    assert validate_all(spark, root) == {s: True for s in STAGES}
