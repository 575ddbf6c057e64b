"""Resumable pipeline runner: each stage commits partition-aligned
with lineage; a restart recomputes ONLY missing/invalid buckets
(SURVEY.md §3.2 stages 2/5/11)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ner_spark.checkpoint.lineage import (
    N_BUCKETS,
    commit_stage,
    committed_buckets,
    validate_stage,
    with_bucket,
)
from ner_spark.kg.cooccur import extract_triples
from ner_spark.ner.tagger import mentions_from_turns, tag_turns


def _lost(df: DataFrame, root: str, stage: str, n_buckets: int) -> DataFrame:
    """``df``'s rows whose bucket has no ``stage`` row committed under
    ``n_buckets``."""
    done = committed_buckets(root, stage, n_buckets)
    if not done:
        return df
    return (
        with_bucket(df, n_buckets)
        .filter(~F.col("part").isin(done))
        .drop("part")
    )


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    root: str,
    mode: str = "model",
    n_buckets: int = N_BUCKETS,
) -> dict[str, DataFrame]:
    """transcripts → committed mentions + triples under ``root``.

    Idempotent: rerunning after a partial failure (some buckets
    committed, some not) recomputes only the missing buckets and
    yields byte-identical tables; rerunning after success is a no-op
    read.  Duplicate input rows (at-least-once sources) are dropped
    deterministically before tagging (operator O6).

    The tagger sees only turns whose bucket has no committed
    ``tagged_turns`` row under ``n_buckets``; mentions and triples are
    derived only from the committed turns of buckets missing their own
    row.  Filtering before each stage is exact: the bucket is
    ``pmod(xxhash64(conv_id), n_buckets)`` and the triples window is
    per conv_id."""
    clean = transcripts.dropDuplicates(["conv_id", "turn_idx"])

    tagged = tag_turns(_lost(clean, root, "tagged_turns", n_buckets), mode=mode)
    tagged_c = commit_stage(tagged, root, "tagged_turns", n_buckets)

    mentions = mentions_from_turns(_lost(tagged_c, root, "mentions", n_buckets))
    mentions_c = commit_stage(mentions, root, "mentions", n_buckets)

    triples = extract_triples(_lost(tagged_c, root, "triples", n_buckets))
    triples_c = commit_stage(triples, root, "triples", n_buckets)
    return {
        "tagged_turns": tagged_c,
        "mentions": mentions_c,
        "triples": triples_c,
    }


def validate_all(spark: SparkSession, root: str) -> dict[str, bool]:
    return {
        stage: validate_stage(spark, root, stage)
        for stage in ("tagged_turns", "mentions", "triples")
    }
