"""Triple extraction golden tests (SURVEY.md §5.2 item 3): the engine
(Spark joins) vs an INDEPENDENT pure-python implementation of the
pinned predicate rule (FIXTURES.md §3), over gazetteer-mode mentions
so the mention layer is exact by construction."""

from __future__ import annotations

import pandas as pd
import pytest

from ner_spark.fixtures.transcripts import transcripts_df, transcripts_pdf
from ner_spark.kg.cooccur import CROSS_TURN_WINDOW, MAX_GAP, MAX_PRED_LEN, extract_triples
from ner_spark.ner.oracle import oracle_mentions
from ner_spark.ner.tagger import tag_turns

N_CONVS = 80
KEY = ["conv_id", "turn_idx", "subj", "pred", "obj", "subj_type", "obj_type"]


def reference_triples(turns: pd.DataFrame, mentions: pd.DataFrame) -> pd.DataFrame:
    """Pure-python re-statement of the rule — dict/loop style, no Spark."""
    text_by_turn = {
        (r.conv_id, r.turn_idx): r.text for r in turns.itertuples(index=False)
    }
    by_turn: dict[tuple, list] = {}
    for r in mentions.itertuples(index=False):
        by_turn.setdefault((r.conv_id, r.turn_idx), []).append(
            (r.start, r.end, r.surface, r.label)
        )
    rows = []
    for (conv, turn), ms in by_turn.items():
        ms.sort()
        text = text_by_turn[(conv, turn)]
        # intra-turn
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                gap = ms[j][0] - ms[i][1]
                if 0 <= gap <= MAX_GAP:
                    inter = text[ms[i][1] : ms[j][0]].strip()
                    pred = inter if 1 <= len(inter) <= MAX_PRED_LEN else "co_occurs"
                    rows.append(
                        (conv, turn, ms[i][2], pred, ms[j][2], ms[i][3], ms[j][3])
                    )
        # cross-turn
        for d in range(1, CROSS_TURN_WINDOW + 1):
            for other in by_turn.get((conv, turn + d), []):
                for m in ms:
                    rows.append(
                        (conv, turn, m[2], "same_context", other[2], m[3], other[3])
                    )
    return pd.DataFrame(rows, columns=KEY)


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[KEY].copy()
    df["turn_idx"] = df["turn_idx"].astype("int64")
    return df.sort_values(KEY).reset_index(drop=True)


@pytest.fixture(scope="module")
def expected():
    turns, _ = transcripts_pdf(N_CONVS)
    mentions = oracle_mentions(turns, mode="gazetteer")
    return _norm(reference_triples(turns, mentions))


def test_triples_match_reference_rule(spark, expected):
    t = transcripts_df(spark, N_CONVS)
    tagged = tag_turns(t, mode="gazetteer")
    got = _norm(extract_triples(tagged).toPandas())
    pd.testing.assert_frame_equal(got, expected)


def test_triples_partition_invariance(spark, expected):
    t = transcripts_df(spark, N_CONVS, partitions=7)
    tagged = tag_turns(t, mode="gazetteer")
    got = _norm(extract_triples(tagged).toPandas())
    pd.testing.assert_frame_equal(got, expected)


def test_triples_gapped_turn_idx(spark):
    """Gapped inputs (filtered turns → sparse turn_idx): lead() is a
    row offset, so the engine must carry the REAL turn delta — pairs
    further than the window are dropped and obj_mention_id hashes the
    led row's true turn_idx (no dangling ids)."""
    from ner_spark.ner.tagger import mentions_from_turns

    turns, _ = transcripts_pdf(N_CONVS)
    turns_g = turns[turns.turn_idx % 3 != 1].reset_index(drop=True)
    mentions = oracle_mentions(turns_g, mode="gazetteer")
    expected = _norm(reference_triples(turns_g, mentions))

    t = transcripts_df(spark, N_CONVS).filter("turn_idx % 3 != 1")
    tagged = tag_turns(t, mode="gazetteer")
    triples = extract_triples(tagged).toPandas()
    pd.testing.assert_frame_equal(_norm(triples), expected)

    # every obj_mention_id resolves to a real mention row
    mention_ids = set(
        mentions_from_turns(tag_turns(t, mode="gazetteer"))
        .select("mention_id")
        .toPandas()["mention_id"]
    )
    assert set(triples["obj_mention_id"]) <= mention_ids


def test_flagship_runs(spark):
    from ner_spark.pipeline import flagship

    df = flagship(spark, "/root/testdata/sf0.001")
    n = df.count()
    assert n > 0
    assert set(df.columns) >= set(KEY) | {"subj_mention_id", "obj_mention_id"}


def test_triples_window_runs_one_wave(spark):
    """On a small input the window stage still runs defaultParallelism
    tasks: AQE must not coalesce its shuffle into one task, which would
    leave the expanding pair generation (and any write of it) on one
    slot."""
    t = transcripts_df(spark, 20)
    tagged = tag_turns(t, mode="gazetteer").persist()
    tagged.count()
    sc = spark.sparkContext
    group = "triples-one-wave"
    sc.setJobGroup(group, "extract_triples")
    try:
        extract_triples(tagged).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [
        s
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    # the result stage (window + explode + write) has the highest id
    assert tracker.getStageInfo(max(stages)).numTasks == sc.defaultParallelism
    tagged.unpersist()
