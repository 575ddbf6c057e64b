"""Distributed mention tagger — the engine's stage 4 (SURVEY.md §3.2).

``tag_turns`` maps a transcripts DataFrame to one row per turn with
its span array; ``mentions_from_turns`` explodes that into one row per
mention, and ``tag_mentions`` composes the two.  The Python boundary
is a single iterator-form ``mapInPandas`` (operator U2): every Arrow
batch goes through the mode's span function (``tagger``), the same one
the single-process oracle runs; model weights load once per Python
worker, and model modes tag with the batched numpy BiLSTM-CRF (C2–C8
fused).

Scale design:
- layout: ``repartition(N, conv_id)``, or with ``salt_hot=True``
  ner_spark.kg.skew's salted layout, which splits hot conversations
  by turn block (safe: tagging is per-turn); then
  ``sortWithinPartitions(conv_id, turn_idx)`` — the O2 ordering
  invariant.  N is one wave of tasks
  (``defaultParallelism``): every Python task pays a fixed worker cost
  (0.2–0.25 s on a shared 4-vCPU host at local[2], 0.13–0.24 s of it
  in pyspark's per-task ``importlib.invalidate_caches()``, which
  re-reads the 16 zip archives cached on ``sys.path``), so on 50 to
  52,723 turns at local[2] one wave tagged faster than 4 tasks per
  slot.
- the UDF reads only (conv_id, turn_idx, text) — column pruning
  can't see through a UDF, so we prune by hand.
- mention_id = xxhash64(conv_id, turn_idx, start, end) — a pure
  function of data, stable under retries/partitioning (never
  monotonically_increasing_id).
"""

from __future__ import annotations

import functools
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ner_spark.fixtures.gazetteer import GAZETTEER
from ner_spark.kg import skew
from ner_spark.ner import model_np as M
from ner_spark.ner.train_np import SCHEMES, load_or_train

Span = tuple[int, int, str, str]  # (start, end, surface, label)

SPAN_STRUCT = T.StructType(
    [
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)
TURN_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

_UDF_BATCH = 512  # numpy mini-batch inside each Arrow batch


# Per-process caches: Spark reuses python workers across tasks
# (spark.python.worker.reuse), so weights deserialize once per WORKER,
# not once per task — measured to matter once tasks shrink at high
# parallelism.
@functools.cache
def _cached_model(scheme: str):
    """(params, vocab, codepoint LUT) of the scheme's frozen model."""
    params, vocab = load_or_train(scheme)
    return params, vocab, M.vocab_lut(vocab)


@functools.cache
def _gazetteer_index() -> dict[str, list[tuple[str, str]]]:
    """first-char → [(surface, label)] sorted longest-first, for
    deterministic maximal-munch scanning."""
    idx: dict[str, list[tuple[str, str]]] = {}
    for surface, label in GAZETTEER:
        idx.setdefault(surface[0], []).append((surface, label))
    for k in idx:
        idx[k].sort(key=lambda p: (-len(p[0]), p[0]))
    return idx


def gazetteer_spans(text: str, idx) -> list[Span]:
    """Left-to-right longest-match scan (independent of the fixture
    generator's template splicer — the two agreeing is a real check)."""
    out = []
    i, n = 0, len(text)
    while i < n:
        cands = idx.get(text[i])
        matched = False
        if cands:
            for surface, label in cands:
                if text.startswith(surface, i):
                    out.append((i, i + len(surface), surface, label))
                    i += len(surface)
                    matched = True
                    break
        if not matched:
            i += 1
    return out


def gazetteer_batch(
    texts: list[str], scheme: str | None = None
) -> list[list[Span]]:
    """Gazetteer spans per text.  With a ``scheme`` the spans pass
    through its codec (spans → tag sequence → decode), so the BMES
    codec runs inside the distributed UDF (C9) and must round-trip to
    the direct spans exactly."""
    idx = _gazetteer_index()
    if scheme is None:
        return [gazetteer_spans(t, idx) for t in texts]
    codec = SCHEMES[scheme]
    out = []
    for t in texts:
        tags = codec.encode(
            len(t), [(s, e, lab) for s, e, _, lab in gazetteer_spans(t, idx)]
        )
        out.append([(s, e, t[s:e], lab) for s, e, lab in codec.decode(tags)])
    return out


def tag_pdf_batch(texts: list[str], scheme: str = "bio") -> list[list[Span]]:
    """Model-mode tagging of a list of texts → per-text span lists,
    with the scheme's frozen BiLSTM-CRF, tag set and decoder: "bio"
    (7 tags, conlleval decode) or "bmes" (13 tags, decode_bmes) —
    C8/C9 both through the batched Viterbi (the BMES transition matrix
    is its own trained model).  A text's spans do not depend on the
    batch it is tagged in (tests/tagger/test_batch.py)."""
    params, vocab, lut = _cached_model(scheme)
    codec = SCHEMES[scheme]
    out: list[list[Span]] = [[] for _ in texts]
    todo = [(i, list(t)) for i, t in enumerate(texts) if t]
    # Sort by length before chunking: a numpy mini-batch takes as many
    # recurrence steps as its longest text, so similar lengths keep
    # many rows running per step (the reference family's batch_yield
    # sorts by length too).  Stable sort ⇒ deterministic; per-row spans
    # are batch-composition independent, so this is purely a
    # throughput knob.
    todo.sort(key=lambda p: len(p[1]))
    for lo in range(0, len(todo), _UDF_BATCH):
        chunk = todo[lo : lo + _UDF_BATCH]
        ids, lengths = M.encode_batch([c for _, c in chunk], vocab, lut=lut)
        emit = M.emissions(ids, lengths, params)
        paths = M.viterbi_batch(emit, lengths, params["trans"])
        for (row_i, chars), path in zip(chunk, paths):
            tags = [codec.tags[k] for k in path]
            for s, e, lab in codec.decode(tags):
                out[row_i].append((s, e, "".join(chars[s:e]), lab))
    return out


# Tagger modes: the BiLSTM-CRF read out in BIO or BMES labels, or the
# gazetteer matcher emitting spans directly or through the BMES codec.
MODES = {
    "model": functools.partial(tag_pdf_batch, scheme="bio"),
    "model_bmes": functools.partial(tag_pdf_batch, scheme="bmes"),
    "gazetteer": gazetteer_batch,
    "gazetteer_bmes": functools.partial(gazetteer_batch, scheme="bmes"),
}


def tagger(mode: str) -> Callable[[list[str]], list[list[Span]]]:
    """The mode's span function: texts → per-text [(start, end,
    surface, label)].  The distributed UDF and the single-process
    oracle both tag through it.  An unknown mode raises ValueError."""
    try:
        return MODES[mode]
    except KeyError:
        raise ValueError(
            f"unknown tagger mode {mode!r}; expected one of {tuple(MODES)}"
        ) from None


def _tagger_fn(mode: str):
    """Iterator mapInPandas closure: look the mode's span function up
    once per task, then stream Arrow batches.  Emits ONE ROW PER TURN with the span array — the
    compact form both downstream shapes derive from (mentions =
    explode; triples = window over per-turn arrays, no joins)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        spans_of = tagger(mode)
        cols = [f.name for f in TURN_SCHEMA.fields]
        for pdf in batches:
            texts = pdf["text"].tolist()
            rows = [
                (
                    conv_id,
                    int(turn_idx),
                    text,
                    [
                        {"start": s, "end": e, "surface": surf, "label": lab}
                        for s, e, surf, lab in spans
                    ],
                )
                for conv_id, turn_idx, text, spans in zip(
                    pdf["conv_id"], pdf["turn_idx"], texts, spans_of(texts)
                )
            ]
            yield pd.DataFrame(rows, columns=cols)

    return fn


def tag_turns(
    transcripts: DataFrame, mode: str = "model", salt_hot: bool = False
) -> DataFrame:
    """transcripts → one row per turn with its span array.

    ``salt_hot=True`` lays turns out by the turn-block fragment key
    (ner_spark.kg.skew.salted_repartition) instead of by conv_id, so
    hot conversations split across tasks.  An unknown ``mode`` raises
    ValueError here, on the driver.
    """
    tagger(mode)  # fail on the driver, not in a task
    df = transcripts.select("conv_id", "turn_idx", "text")
    # One wave, a task per slot: the fixed per-task Python worker cost
    # (module docstring) outweighed the straggler rebalancing of 4
    # tasks per slot on every measured input.
    parts = transcripts.sparkSession.sparkContext.defaultParallelism
    if salt_hot:
        df = skew.salted_repartition(df, parts)
    else:
        df = df.repartition(parts, "conv_id")
    df = df.sortWithinPartitions("conv_id", "turn_idx")
    return df.mapInPandas(_tagger_fn(mode), TURN_SCHEMA)


def mentions_from_turns(tagged_turns: DataFrame) -> DataFrame:
    """Per-turn span arrays → one row per mention with stable
    mention_id = xxhash64(conv_id, turn_idx, start, end)."""
    return (
        tagged_turns.select(
            "conv_id", "turn_idx", F.explode("spans").alias("sp")
        )
        .select(
            "conv_id",
            "turn_idx",
            F.col("sp.start").alias("start"),
            F.col("sp.end").alias("end"),
            F.col("sp.surface").alias("surface"),
            F.col("sp.label").alias("label"),
            # the tagger scores no span; kg_mentions' schema keeps it
            F.lit(1.0).cast("float").alias("score"),
        )
        .withColumn(
            "mention_id", F.xxhash64("conv_id", "turn_idx", "start", "end")
        )
    )


def tag_mentions(
    transcripts: DataFrame, mode: str = "model", salt_hot: bool = False
) -> DataFrame:
    """transcripts → mentions (explode of tag_turns)."""
    return mentions_from_turns(tag_turns(transcripts, mode, salt_hot))
