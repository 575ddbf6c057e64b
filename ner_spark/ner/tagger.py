"""Distributed mention tagger — the engine's stage 4 (SURVEY.md §3.2).

``tag_mentions`` is the one entry point: transcripts DataFrame →
mentions DataFrame.  The Python boundary is a single iterator-form
``mapInPandas`` (operator U2): weights are deserialized from the
broadcast ONCE per task, every Arrow batch is tagged with the batched
numpy BiLSTM-CRF (C2–C8 fused), and one output row is emitted per
mention.  No per-row Python anywhere (BASELINE.json:15).

Scale design:
- layout: ``repartition(N, salt(conv_id))`` then
  ``sortWithinPartitions(conv_id, turn_idx)`` — the O2 ordering
  invariant; salting splits hot conversations (safe: tagging is
  per-turn) via ner_spark.kg.skew.  N defaults to one wave of tasks
  (``defaultParallelism``): every Python task pays a fixed worker cost
  (0.2–0.25 s on a shared 4-vCPU host at local[2], 0.13–0.24 s of it
  in pyspark's per-task ``importlib.invalidate_caches()``, which
  re-reads the 16 zip archives cached on ``sys.path``), so on 50 to
  52,723 turns at local[2] one wave tagged faster than 4 tasks per
  slot.
- the UDF emits a narrow schema (no ``text``) so the biggest column
  dies at the tagger boundary (column pruning can't see through a
  UDF, so we prune by hand).
- mention_id = xxhash64(conv_id, turn_idx, start, end) — a pure
  function of data, stable under retries/partitioning (never
  monotonically_increasing_id).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ner_spark.fixtures.gazetteer import GAZETTEER
from ner_spark.ner import model_np as M
from ner_spark.ner.decode import (
    BIO_TAGS,
    BMES_TAGS,
    decode_bio,
    decode_bmes,
    spans_to_bmes,
)
from ner_spark.ner.train_np import BMES_MODEL_PATH, MODEL_PATH, load_or_train

# Tagger modes: the BiLSTM-CRF with BIO or BMES labels, or the
# gazetteer matcher emitting spans directly or through the BMES codec.
MODES = ("model", "model_bmes", "gazetteer", "gazetteer_bmes")

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("score", T.FloatType(), False),
    ]
)

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
_MODEL_CACHE: dict = {}


def _cached_model(scheme: str = "bio"):
    if scheme not in _MODEL_CACHE:
        path = MODEL_PATH if scheme == "bio" else BMES_MODEL_PATH
        _MODEL_CACHE[scheme] = load_or_train(path, scheme=scheme)
    return _MODEL_CACHE[scheme]


_LUT_CACHE: dict[int, "object"] = {}


def _lut_for(vocab: dict[str, int]):
    key = id(vocab)
    if key not in _LUT_CACHE:
        _LUT_CACHE[key] = M.vocab_lut(vocab)
    return _LUT_CACHE[key]


def _gazetteer_index() -> dict[str, list[tuple[str, str]]]:
    """first-char → [(surface, label)] sorted longest-first, for
    deterministic maximal-munch scanning."""
    idx: dict[str, list[tuple[str, str]]] = {}
    for surface, label in GAZETTEER:
        idx.setdefault(surface[0], []).append((surface, label))
    for k in idx:
        idx[k].sort(key=lambda p: (-len(p[0]), p[0]))
    return idx


def gazetteer_spans(text: str, idx) -> list[tuple[int, int, str, str]]:
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


def tag_pdf_batch(
    texts: list[str],
    params: dict,
    vocab: dict[str, int],
    scheme: str = "bio",
) -> list[list[tuple[int, int, str, str, float]]]:
    """Model-mode tagging of a list of texts → per-text span lists.
    Deterministic regardless of batch composition (per-row matmul
    results don't depend on batch size — property-tested).  ``scheme``
    selects the label set + decoder: "bio" (7 tags, conlleval decode)
    or "bmes" (13 tags, decode_bmes) — C8/C9 both through the batched
    Viterbi (the BMES transition matrix is its own trained model)."""
    tags_tbl, decode = (
        (BIO_TAGS, decode_bio) if scheme == "bio" else (BMES_TAGS, decode_bmes)
    )
    out: list[list] = [[] for _ in texts]
    lut = _lut_for(vocab)
    todo = [(i, list(t)) for i, t in enumerate(texts) if t]
    # Sort by length before chunking: each numpy mini-batch pads to its
    # own max length, cutting padded-FLOP waste (the reference family's
    # batch_yield sorts by length for the same reason).  Stable sort ⇒
    # deterministic; per-row results are batch-composition independent
    # (property-tested), so this is purely a throughput knob.
    todo.sort(key=lambda p: len(p[1]))
    for lo in range(0, len(todo), _UDF_BATCH):
        chunk = todo[lo : lo + _UDF_BATCH]
        ids, lengths = M.encode_batch([c for _, c in chunk], vocab, lut=lut)
        emit = M.emissions(ids, lengths, params)
        paths = M.viterbi_batch(emit, lengths, params["trans"])
        for (row_i, chars), path in zip(chunk, paths):
            tags = [tags_tbl[k] for k in path]
            for s, e, lab in decode(tags):
                surface = "".join(chars[s:e])
                out[row_i].append((s, e, surface, lab, 1.0))
    return out


def _tagger_fn(mode: str):
    """Iterator mapInPandas closure: init once per task, then stream
    Arrow batches.  Emits ONE ROW PER TURN with the span array — the
    compact form both downstream shapes derive from (mentions =
    explode; triples = window over per-turn arrays, no joins)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if mode == "model":
            params, vocab = _cached_model("bio")
        elif mode == "model_bmes":
            params, vocab = _cached_model("bmes")
        else:
            idx = _gazetteer_index()
        cols = [f.name for f in TURN_SCHEMA.fields]
        for pdf in batches:
            texts = pdf["text"].tolist()
            if mode == "model":
                span_lists = tag_pdf_batch(texts, params, vocab)
            elif mode == "model_bmes":
                # C9 through the MODEL path: BMES-trained BiLSTM-CRF →
                # 13-tag batched Viterbi → decode_bmes, all inside the
                # distributed UDF (pytest: spans == the BIO model's)
                span_lists = tag_pdf_batch(
                    texts, params, vocab, scheme="bmes"
                )
            elif mode == "gazetteer_bmes":
                # BMES label-scheme path (C9, BASELINE "BIO/BMES"):
                # spans → BMES tag sequence → decode_bmes, so the BMES
                # codec runs inside the distributed UDF; round-trips to
                # the BIO-path spans exactly (pytest parity).
                span_lists = []
                for t in texts:
                    tag_seq = spans_to_bmes(
                        len(t),
                        [
                            (s, e, lab)
                            for s, e, _surf, lab in gazetteer_spans(t, idx)
                        ],
                    )
                    span_lists.append(
                        [
                            (s, e, t[s:e], lab, 1.0)
                            for s, e, lab in decode_bmes(tag_seq)
                        ]
                    )
            else:
                span_lists = [
                    [(s, e, surf, lab, 1.0) for s, e, surf, lab in gazetteer_spans(t, idx)]
                    for t in texts
                ]
            rows = [
                (
                    conv_id,
                    int(turn_idx),
                    text,
                    [
                        {"start": s, "end": e, "surface": surf, "label": lab}
                        for s, e, surf, lab, _score in spans
                    ],
                )
                for conv_id, turn_idx, text, spans in zip(
                    pdf["conv_id"], pdf["turn_idx"], texts, span_lists
                )
            ]
            yield pd.DataFrame(rows, columns=cols)

    return fn


def tag_turns(
    transcripts: DataFrame,
    mode: str = "model",
    num_partitions: int | None = None,
    salt_hot: bool = False,
) -> DataFrame:
    """transcripts → one row per turn with its span array.

    ``salt_hot=True`` lays turns out by the turn-block fragment key
    (ner_spark.kg.skew.salted_repartition) instead of by conv_id, so
    hot conversations split across tasks.  An unknown ``mode`` raises
    ValueError here, on the driver.
    """
    if mode not in MODES:
        raise ValueError(f"unknown tagger mode {mode!r}; expected one of {MODES}")
    df = transcripts.select("conv_id", "turn_idx", "text")
    # One wave, a task per slot: the fixed per-task Python worker cost
    # (module docstring) outweighed the straggler rebalancing of 4
    # tasks per slot on every measured input.
    parts = (
        num_partitions
        or transcripts.sparkSession.sparkContext.defaultParallelism
    )
    if salt_hot:
        # imported at call time so kgbench's traced run sees the
        # patched layer function
        from ner_spark.kg.skew import salted_repartition

        df = salted_repartition(df, parts)
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
            F.lit(1.0).cast("float").alias("score"),
        )
        .withColumn(
            "mention_id", F.xxhash64("conv_id", "turn_idx", "start", "end")
        )
    )


def tag_mentions(
    transcripts: DataFrame,
    mode: str = "model",
    num_partitions: int | None = None,
    salt_hot: bool = False,
) -> DataFrame:
    """transcripts → mentions (explode of tag_turns)."""
    return mentions_from_turns(
        tag_turns(transcripts, mode, num_partitions, salt_hot)
    )
