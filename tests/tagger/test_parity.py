"""Distributed tagger == single-process oracle, byte-exact invariant,
partition-count invariance, gold-span accuracy (SURVEY.md §5.2 items
2, 4)."""

from __future__ import annotations

import pandas as pd
import pytest

from ner_spark.fixtures.transcripts import (
    gold_spans_df,
    transcripts_df,
    transcripts_pdf,
)
from ner_spark.ner.oracle import oracle_mentions, span_prf
from ner_spark.ner.tagger import MODES, tag_mentions, tag_turns

KEY = ["conv_id", "turn_idx", "start", "end", "surface", "label"]
N_CONVS = 120


def _sorted_pdf(df) -> pd.DataFrame:
    df = df.copy()
    for c in ("turn_idx", "start", "end"):
        df[c] = df[c].astype("int64")
    return df.sort_values(KEY).reset_index(drop=True)


@pytest.fixture(scope="module")
def oracle_result():
    turns, _ = transcripts_pdf(N_CONVS)
    return _sorted_pdf(oracle_mentions(turns, mode="model"))


def test_distributed_matches_oracle_exactly(spark, oracle_result):
    t = transcripts_df(spark, N_CONVS)
    got = _sorted_pdf(tag_mentions(t, mode="model").select(KEY).toPandas())
    pd.testing.assert_frame_equal(got, oracle_result)


def test_partition_count_invariance(spark, oracle_result):
    for parts in (1, 3, 8):
        t = transcripts_df(spark, N_CONVS, partitions=parts)
        got = _sorted_pdf(tag_mentions(t, mode="model").select(KEY).toPandas())
        pd.testing.assert_frame_equal(got, oracle_result)


def test_byte_exact_surface_invariant(spark):
    """text[start:end] == surface against the ORIGINAL input rows
    (core invariant, BASELINE.json:15)."""
    t = transcripts_df(spark, N_CONVS)
    m = tag_mentions(t, mode="model")
    joined = m.join(t, ["conv_id", "turn_idx"]).toPandas()
    assert len(joined) > 100
    for r in joined.itertuples(index=False):
        assert r.text[r.start : r.end] == r.surface


def test_model_matches_gold_spans(spark):
    """Trained-model spans vs generator gold: P/R ≥ 0.95 contract
    (exceeded by a wide margin on held-out conversations)."""
    t = transcripts_df(spark, N_CONVS)
    pred = tag_mentions(t, mode="model").select(KEY).toPandas()
    gold = gold_spans_df(spark, N_CONVS).toPandas()
    p, r, f1 = span_prf(pred, gold)
    assert p >= 0.95 and r >= 0.95, (p, r, f1)


def test_gazetteer_mode_matches_gold_exactly(spark):
    """The maximal-munch gazetteer matcher reproduces the generator's
    template splices on non-adjacent fixtures; P/R ≥ 0.99 overall
    (adjacent same-first-char entities are the only divergence)."""
    t = transcripts_df(spark, N_CONVS)
    pred = tag_mentions(t, mode="gazetteer").select(KEY).toPandas()
    gold = gold_spans_df(spark, N_CONVS).toPandas()
    p, r, f1 = span_prf(pred, gold)
    assert p >= 0.95 and r >= 0.95, (p, r, f1)


def test_bmes_model_matches_bio_model_spans(spark):
    """C9 through the model path: the BMES-trained BiLSTM-CRF (13-tag
    transitions, decode_bmes) emits the SAME spans as the BIO model on
    the fixture corpus — the two label schemes are encodings of one
    span structure, so a fully-trained pair must agree."""
    t = transcripts_df(spark, N_CONVS)
    bio = _sorted_pdf(tag_mentions(t, mode="model").select(KEY).toPandas())
    bmes = _sorted_pdf(
        tag_mentions(t, mode="model_bmes").select(KEY).toPandas()
    )
    pd.testing.assert_frame_equal(bmes, bio)


def test_bmes_model_matches_gold_spans(spark):
    """BMES model vs generator gold: the same P/R ≥ 0.95 contract as
    the BIO model."""
    t = transcripts_df(spark, N_CONVS)
    pred = tag_mentions(t, mode="model_bmes").select(KEY).toPandas()
    gold = gold_spans_df(spark, N_CONVS).toPandas()
    p, r, f1 = span_prf(pred, gold)
    assert p >= 0.95 and r >= 0.95, (p, r, f1)


def test_gazetteer_bmes_codec_path(spark):
    """The gazetteer BMES codec path (spans → BMES tags → decode_bmes
    inside the UDF) round-trips to the gazetteer BIO path exactly —
    kept covered here since kg_mentions_alt carries the BMES MODEL
    path externally."""
    t = transcripts_df(spark, 40)
    bio = _sorted_pdf(tag_mentions(t, mode="gazetteer").select(KEY).toPandas())
    bmes = _sorted_pdf(
        tag_mentions(t, mode="gazetteer_bmes").select(KEY).toPandas()
    )
    pd.testing.assert_frame_equal(bmes, bio)


def test_mention_id_stable(spark):
    t = transcripts_df(spark, 30)
    a = tag_mentions(t, mode="model").select("mention_id").toPandas()
    b = tag_mentions(t.repartition(7), mode="model").select("mention_id").toPandas()
    assert sorted(a["mention_id"]) == sorted(b["mention_id"])


def test_unknown_mode_raises_on_the_driver(spark):
    """A misspelt mode fails when the plan is built, instead of
    silently tagging with the gazetteer."""
    with pytest.raises(ValueError, match="modle"):
        tag_turns(transcripts_df(spark, 2), mode="modle")


# Texts outside the fixture corpus, on which the four modes disagree
# (e.g. only the BMES model tags 微 in 微软谷歌苹果 as PER).
DISAGREE_TEXTS = [
    "微软谷歌苹果",
    "王李",
    "今天张三和李四一起去了杭州",
    "请问赵六是否已经加入阿里巴巴",
]


def test_oracle_matches_distributed_tagger_in_every_mode(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(DISAGREE_TEXTS))],
            "turn_idx": [0] * len(DISAGREE_TEXTS),
            "text": DISAGREE_TEXTS,
        }
    )
    df = spark.createDataFrame(pdf)
    got = {}
    for mode in MODES:
        want = _sorted_pdf(oracle_mentions(pdf, mode))
        got[mode] = _sorted_pdf(tag_mentions(df, mode=mode).select(KEY).toPandas())
        pd.testing.assert_frame_equal(got[mode], want, obj=mode)
    assert not got["model_bmes"].equals(got["gazetteer"])
    assert not got["model_bmes"].equals(got["model"])


def test_oracle_unknown_mode_raises():
    turns, _ = transcripts_pdf(2)
    with pytest.raises(ValueError, match="modle"):
        oracle_mentions(turns, mode="modle")
