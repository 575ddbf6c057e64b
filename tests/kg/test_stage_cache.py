"""kg stage-cache policy: the catalog serves every kg_* query from one
``run_pipeline(materialize=True)`` dict per (app, sf_dir), keeps a
single entry (bounded executor storage across sf_dirs), and
``reset_stage_cache`` releases every frame the catalog persisted."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture
def KQ(monkeypatch):
    """The catalog module with an empty stage cache and a 30-conversation
    corpus cap (these tests check cache policy, not stage output)."""
    from ner_spark.ops import kg_queries as KQ

    KQ.reset_stage_cache()
    assert KQ._STAGES == {}
    monkeypatch.setattr(KQ, "_CAP", 30)
    yield KQ
    KQ.reset_stage_cache()


def test_materialize_persists_immediately(spark, KQ):
    """The entry is run_pipeline's materialized dict: the tagger output
    is persisted when the entry is built, so linking/CC's several
    actions over the mentions do not re-tag per action."""
    st = KQ._stages(spark, SF_SMALL)
    assert st["tagged_turns"].storageLevel.useMemory
    assert {"mentions", "triples", "entities", "edges"} <= set(st)


def test_cache_is_single_entry_across_sf_dirs(spark, KQ):
    first = KQ._stages(spark, SF_SMALL)
    assert KQ._stages(spark, SF_SMALL) is first
    frames = [df for df in first.values() if df.is_cached]
    KQ._stages(spark, SF_ORACLE)
    assert list(KQ._STAGES) == [
        (spark.sparkContext.applicationId, SF_ORACLE)
    ]
    # is_cached, not storageLevel: both sf dirs yield the same capped
    # corpus, so the new entry's frames share the old ones' plans
    assert not any(f.is_cached for f in frames)


def test_vocabulary_and_assignments_persisted_and_evicted(spark, KQ):
    """The surface vocabulary, match edges and assignment map are
    persisted once per stage dict, shared by every linking/CC
    consumer, and unpersisted by reset_stage_cache."""
    st = KQ._stages(spark, SF_SMALL)
    frames = [st["nodes"], st["match_edges"], st["assignments"]]
    assert all(f.storageLevel.useMemory for f in frames)
    assert KQ.kg_match_edges(spark, SF_SMALL) is st["match_edges"]
    KQ.reset_stage_cache()
    assert not any(f.storageLevel.useMemory for f in frames)


def test_bmes_mentions_cached_once_and_evicted(spark, KQ):
    """The BMES-model mention frame (kg_mentions_alt + kg_contracts'
    parity row) is one persisted entry of the stage dict, built once
    per entry and unpersisted by reset_stage_cache."""
    bmes = KQ._stages(spark, SF_SMALL)["bmes_mentions"]
    assert bmes.storageLevel.useMemory
    assert KQ._stages(spark, SF_SMALL)["bmes_mentions"] is bmes
    KQ.reset_stage_cache()
    assert not bmes.storageLevel.useMemory


def test_release_pipeline_unpersists_everything(spark):
    """run_pipeline(materialize=True) persists tagged/nodes/
    match_edges/assignments; release_pipeline must return ALL of them,
    and any frame a caller cached into the same dict, to unpersisted
    state — a long-lived session calling run_pipeline per batch
    otherwise accumulates executor storage without bound."""
    from ner_spark.pipeline import (
        release_pipeline,
        run_pipeline,
        transcripts_for_sf,
    )

    t = transcripts_for_sf(spark, SF_SMALL, cap=30)
    out = run_pipeline(spark, t, mode="gazetteer", materialize=True)
    out["extra"] = out["mentions"].select("surface").persist()
    persisted = [
        out["tagged_turns"],
        out["nodes"],
        out["match_edges"],
        out["assignments"],
        out["extra"],
    ]
    assert all(df.is_cached for df in persisted)
    release_pipeline(out)
    assert not any(df.is_cached for df in persisted)
    # idempotent and safe on the non-materialized shape too
    release_pipeline(out)
    out2 = run_pipeline(spark, t, mode="gazetteer")
    release_pipeline(out2)
    assert not out2["tagged_turns"].is_cached


def test_kg_contracts_zero_and_reset_frees_its_persists(spark):
    """kg_contracts at sf0.001 reports 0 violations on all 17 rows, and
    after reset_stage_cache no RDD the call persisted is still cached
    (its skew-scenario frames included)."""
    from ner_spark.ops import kg_queries as KQ

    KQ.reset_stage_cache()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    rows = KQ.kg_contracts(spark, SF_SMALL).collect()
    assert len(rows) == len(KQ._KG_CONTRACTS) == 17
    assert {r["contract"]: r["violations"] for r in rows} == {
        c: 0 for c in KQ._KG_CONTRACTS
    }
    KQ.reset_stage_cache()
    assert set(jsc.getPersistentRDDs().keySet()) <= before
