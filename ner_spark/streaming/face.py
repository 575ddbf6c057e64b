"""Structured Streaming face (SURVEY.md §2.2 group H, §7 M7).

The batch pipeline's stages re-hosted over ``readStream``: the same
tagger ``mapInPandas`` and the same stage-commit path via
``foreachBatch`` (X7), plus the windowed-aggregation operators
(tumbling X1, sliding X2, session X3), watermarking (X4), stateful
dedup (X5), and arbitrary state (X6).

Batch/stream parity: win_tumble / win_session in ops/relational.py run
the IDENTICAL groupBy expressions in batch mode with a DuckDB oracle;
the streaming tests assert the streaming result equals the batch
result on the same fixture (processing-time-independent because every
aggregate is keyed by event time and fed with a static file source).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ner_spark.checkpoint import lineage
from ner_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA
from ner_spark.ner import tagger


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """X-source: file stream of transcript parquet (at-least-once)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tumbling_counts(stream: DataFrame, width: str = "10 minutes") -> DataFrame:
    """X1+X4: turns per tumbling window, watermarked 1 hour."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width).alias("w"), "role")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("wstart"), "role", "n")
    )


def sliding_counts(
    stream: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """X2: sliding-window throughput."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("wstart"), "n")
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """X3: conversation sessionization by event-time gap."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("conv_id"), F.col("w.start").alias("session_start"), "n_turns"
        )
    )


def deduped(stream: DataFrame) -> DataFrame:
    """X5: exactly-once turns from an at-least-once source."""
    return stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def conversation_progress(stream: DataFrame) -> DataFrame:
    """X6: arbitrary stateful processing via applyInPandasWithState —
    incremental per-conversation assembly (running turn count + max
    turn_idx seen), state kept per conv_id with an event-time timeout.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd  # noqa: PLC0415 - worker-side import

        n, hi = state.get if state.exists else (0, -1)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                hi = max(hi, int(pdf["turn_idx"].max()))
        state.update((n, hi))
        yield pd.DataFrame(
            {"conv_id": [key[0]], "n_turns_seen": [n], "max_turn_idx": [hi]}
        )

    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            "conv_id string, n_turns_seen long, max_turn_idx long",
            "n long, hi long",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_mentions_foreach_batch(
    root: str,
    mode: str = "gazetteer",
) -> Callable:
    """X7: foreachBatch sink — every micro-batch runs the SAME batch
    tagger and the SAME partition-aligned commit_stage path, giving
    exactly-once stage tables on top of an at-least-once source
    (dedup inside commit via stable bucket overwrite)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tagged = tagger.tag_turns(batch_df, mode=mode)
        lineage.commit_stage(tagged, root, f"stream_tagged/batch={batch_id}")

    return sink


def run_stream_to_mentions(
    spark: SparkSession,
    in_path: str,
    root: str,
    checkpoint_dir: str,
    mode: str = "gazetteer",
    max_files_per_trigger: int = 4,
) -> None:
    """End-to-end streaming ingestion: file source → dedup → tagger →
    committed stage tables; blocks until the stream drains."""
    stream = deduped(
        stream_transcripts(spark, in_path, max_files_per_trigger)
    )
    q = (
        stream.writeStream.foreachBatch(
            stream_mentions_foreach_batch(root, mode)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
