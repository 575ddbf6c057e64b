"""A text's model spans do not depend on the batch it is tagged in:
alone, in reversed order, or in a batch that crosses the tagger's
numpy mini-batch boundary (``_UDF_BATCH``)."""

from __future__ import annotations

import pytest

from ner_spark.fixtures.transcripts import transcripts_pdf
from ner_spark.ner.tagger import _UDF_BATCH, tag_pdf_batch


@pytest.fixture(scope="module")
def texts():
    turns, _ = transcripts_pdf(200)
    out = ["微软谷歌苹果", "王李", ""] + turns["text"].tolist()
    assert len(out) > _UDF_BATCH
    return out


@pytest.mark.parametrize("scheme", ["bio", "bmes"])
def test_spans_independent_of_batch_composition(texts, scheme):
    together = tag_pdf_batch(texts, scheme)
    assert sum(map(len, together)) > 100
    alone = [tag_pdf_batch([t], scheme)[0] for t in texts]
    reversed_ = tag_pdf_batch(texts[::-1], scheme)[::-1]
    assert together == alone
    assert together == reversed_
