"""Hot-conversation salting correctness (SURVEY.md §4.3,
BASELINE.json "salting for hot conversations"): splitting a whale
conversation into salted fragments must not change ANY output —
mentions are per-turn (trivially fragment-safe, but the layout +
sortWithinPartitions path is what's under test) and triples cross
fragment boundaries (cooccur repartitions back on conv_id, which must
restore every cross-turn pair a fragment boundary could cut)."""

from __future__ import annotations

import pandas as pd

from ner_spark.fixtures.transcripts import transcripts_df
from ner_spark.kg.cooccur import extract_triples
from ner_spark.ner.tagger import tag_mentions, tag_turns

N_CONVS = 40  # + the pinned 5,000-turn whale

MENTION_KEY = ["conv_id", "turn_idx", "start", "end", "surface", "label"]
TRIPLE_KEY = ["conv_id", "turn_idx", "subj", "pred", "obj"]


def _sorted(df, key) -> pd.DataFrame:
    pdf = df.select(key).toPandas()
    return pdf.sort_values(key).reset_index(drop=True)


def test_salted_mentions_match_unsalted(spark):
    t = transcripts_df(spark, N_CONVS, whale=True)
    plain = _sorted(tag_mentions(t, mode="gazetteer"), MENTION_KEY)
    salted = _sorted(
        tag_mentions(t, mode="gazetteer", salt_hot=True), MENTION_KEY
    )
    pd.testing.assert_frame_equal(salted, plain)


def test_salted_triples_match_unsalted(spark):
    """The stronger contract: triples look ±2 turns across rows, so a
    fragment boundary inside the whale would DROP cross-turn pairs if
    cooccur didn't restore conv-level ordering."""
    t = transcripts_df(spark, N_CONVS, whale=True)
    plain = _sorted(
        extract_triples(tag_turns(t, mode="gazetteer")), TRIPLE_KEY
    )
    salted = _sorted(
        extract_triples(tag_turns(t, mode="gazetteer", salt_hot=True)),
        TRIPLE_KEY,
    )
    pd.testing.assert_frame_equal(salted, plain)
