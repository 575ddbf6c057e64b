"""Single-process pandas oracle tagger (SURVEY.md §0, §5.2): the same
frozen model run in plain pandas/numpy with NO Spark — this defines
the reference spans the distributed engine must match EXACTLY (which
satisfies the P/R ≥ 0.95 contract by construction)."""

from __future__ import annotations

import pandas as pd

from ner_spark.ner.tagger import tagger


def oracle_mentions(transcripts: pd.DataFrame, mode: str = "model") -> pd.DataFrame:
    """(conv_id, turn_idx, start, end, surface, label) sorted, from the
    mode's span function (``tagger``) — the one the distributed UDF
    runs.  An unknown mode raises ValueError."""
    spans_of = tagger(mode)
    rows = [
        (conv_id, int(turn_idx), s, e, surf, lab)
        for conv_id, turn_idx, spans in zip(
            transcripts["conv_id"],
            transcripts["turn_idx"],
            spans_of(transcripts["text"].tolist()),
        )
        for s, e, surf, lab in spans
    ]
    out = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "start", "end", "surface", "label"]
    )
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def span_prf(
    pred: pd.DataFrame, gold: pd.DataFrame
) -> tuple[float, float, float]:
    """Span-exact P/R/F1 (C10): match on (conv_id, turn_idx, start,
    end, label)."""
    key = ["conv_id", "turn_idx", "start", "end", "label"]
    ps = set(map(tuple, pred[key].itertuples(index=False)))
    gs = set(map(tuple, gold[key].itertuples(index=False)))
    tp = len(ps & gs)
    p = tp / len(ps) if ps else 1.0
    r = tp / len(gs) if gs else 1.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return p, r, f1
