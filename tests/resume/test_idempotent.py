"""Resume/idempotency tests (SURVEY.md §5.2 item 6; FIXTURES.md §5):
partial-failure restart recomputes only missing buckets and yields
identical tables; duplicate input rows dedup deterministically."""

from __future__ import annotations

import glob
import os
import shutil

import pandas as pd
import pytest

from ner_spark.checkpoint.lineage import (
    N_BUCKETS,  # run_resumable's default
    committed_buckets,
    lineage_rows,
    validate_stage,
)
from ner_spark.checkpoint.resume import run_resumable, validate_all
from ner_spark.fixtures.transcripts import transcripts_df

N_CONVS = 60
KEY = ["conv_id", "turn_idx", "subj", "pred", "obj"]


def _triples_pdf(out) -> pd.DataFrame:
    df = out["triples"].toPandas()[KEY]
    return df.sort_values(KEY).reset_index(drop=True)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "kg_root")


def test_full_run_then_noop_resume(spark, root):
    t = transcripts_df(spark, N_CONVS)
    first = _triples_pdf(run_resumable(spark, t, root, mode="gazetteer"))
    assert validate_all(spark, root) == {
        "tagged_turns": True,
        "mentions": True,
        "triples": True,
    }
    lineage_before = pd.DataFrame(lineage_rows(root, "triples"))
    again = _triples_pdf(run_resumable(spark, t, root, mode="gazetteer"))
    pd.testing.assert_frame_equal(first, again)
    lineage_after = pd.DataFrame(lineage_rows(root, "triples"))
    # no bucket recommitted on the no-op resume
    pd.testing.assert_frame_equal(
        lineage_before.sort_values("part").reset_index(drop=True)[
            ["part", "output_rows", "checksum"]
        ],
        lineage_after.sort_values("part").reset_index(drop=True)[
            ["part", "output_rows", "checksum"]
        ],
    )


def test_partial_failure_resume(spark, root):
    t = transcripts_df(spark, N_CONVS)
    gold = _triples_pdf(run_resumable(spark, t, root, mode="gazetteer"))

    # simulate a crash after stage "tagged_turns": wipe triples +
    # mentions data AND lineage, plus drop TWO triples lineage buckets
    # of a fresh half-committed copy
    shutil.rmtree(os.path.join(root, "triples"))
    shutil.rmtree(os.path.join(root, "_lineage", "triples"))
    out = run_resumable(spark, t, root, mode="gazetteer")
    pd.testing.assert_frame_equal(gold, _triples_pdf(out))

    # now drop individual lineage buckets (torn commit): those buckets
    # must recompute, the rest untouched
    lineage_files = sorted(
        glob.glob(os.path.join(root, "_lineage", "triples", "*.json"))
    )
    assert len(lineage_files) >= 3
    for f in lineage_files[:2]:
        os.remove(f)
    before = set(committed_buckets(root, "triples", N_BUCKETS))
    out = run_resumable(spark, t, root, mode="gazetteer")
    after = set(committed_buckets(root, "triples", N_BUCKETS))
    assert before < after
    pd.testing.assert_frame_equal(gold, _triples_pdf(out))
    assert validate_stage(spark, root, "triples")


def test_commit_stage_computes_input_once(spark, root):
    """The stage body must execute exactly ONE time per commit (round
    1 ran it twice: a stats action then the write).  Counted with an
    accumulator bumped inside a mapInPandas the stage flows through."""
    from ner_spark.checkpoint.lineage import commit_stage

    acc = spark.sparkContext.accumulator(0)

    def bump(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    t = transcripts_df(spark, 20).select("conv_id", "turn_idx", "text")
    n_rows = t.count()
    staged = t.mapInPandas(bump, t.schema)
    acc.value = 0
    out = commit_stage(staged, root, "probe")
    assert out.count() == n_rows
    assert acc.value == n_rows, f"stage executed {acc.value / n_rows:.1f}x"
    # checksum was computed from the written files, so validation holds
    assert validate_stage(spark, root, "probe")


def test_stale_partitions_not_recommitted(spark, root):
    """Leftover ``part=k`` dirs from a prior run with a DIFFERENT
    n_buckets (dynamic overwrite never touches them, since the new
    bucket domain can't produce k) must not be swept into the commit's
    read-back stats and blessed with lineage they never earned; same
    for an uncommitted torn-write dir inside the domain."""
    from ner_spark.checkpoint.lineage import commit_stage

    t = transcripts_df(spark, 20).select("conv_id", "turn_idx", "text")
    # prior run at n_buckets=64 leaves parts the 8-bucket domain can't make
    commit_stage(t, root, "probe", n_buckets=64)
    stale = [
        d
        for d in os.listdir(os.path.join(root, "probe"))
        if d.startswith("part=") and int(d.split("=")[1]) >= 8
    ]
    assert stale, "fixture must produce out-of-domain parts"
    # plus a torn in-domain write: data present, lineage row missing
    torn = os.path.join(root, "_lineage", "probe", "part-00003.json")
    if os.path.exists(torn):
        os.remove(torn)

    out = commit_stage(t, root, "probe", n_buckets=8)
    # result holds exactly the input — no stale rows doubled in
    assert out.count() == t.count()
    # every lineage row left is in the 8-bucket domain
    got = {(r["part"], r["n_buckets"]) for r in lineage_rows(root, "probe")}
    assert {n for _, n in got} == {8} and {p for p, _ in got} <= set(range(8)), got
    assert validate_stage(spark, root, "probe")
    # no out-of-domain dirs survive on disk
    left = [
        d
        for d in os.listdir(os.path.join(root, "probe"))
        if d.startswith("part=") and int(d.split("=")[1]) >= 8
    ]
    assert not left, left
    # stored lineage counts cover the whole input exactly once
    lin = lineage_rows(root, "probe")
    assert sum(r["output_rows"] for r in lin) == t.count()


def test_duplicate_input_rows_dedup(spark, root):
    """At-least-once source: injected duplicate (conv_id, turn_idx)
    rows must not duplicate mentions/triples."""
    t = transcripts_df(spark, N_CONVS)
    gold = _triples_pdf(run_resumable(spark, t, root, mode="gazetteer"))
    shutil.rmtree(root)
    dup = t.unionByName(t.limit(40))
    got = _triples_pdf(run_resumable(spark, dup, root, mode="gazetteer"))
    pd.testing.assert_frame_equal(gold, got)


def test_resume_contract_probe_reports_zero_violations(spark):
    """The kg_contracts ``lineage_resume`` row comes from this probe:
    commit → corrupt → detect → resume → revalidate must behave end to
    end (0 failed expectations)."""
    from ner_spark.checkpoint.lineage import resume_contract_violations

    assert resume_contract_violations(spark) == 0
