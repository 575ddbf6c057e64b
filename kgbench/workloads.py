"""The benchmark workloads.

Each workload writes its seeded inputs in ``setup``, runs one closed-loop
iteration of the system in ``run_once`` (returning its phase times, with
``iteration_s`` the whole iteration), and checks the last iteration's outputs
in ``check``, outside the timed region.  Stage functions are called
through their modules (``io_read.read_transcripts``, not a bound import), so
the traced run's wrappers see every call.
"""

from __future__ import annotations

import functools
import glob
import json
import operator
import os
import random
import shutil
import statistics
from time import perf_counter

from pyspark.sql import functions as F

from kgbench import inputs, trace
from ner_spark import pipeline
from ner_spark.checkpoint import resume
from ner_spark.checkpoint.lineage import LINEAGE_TABLE
from ner_spark.io import read as io_read
from ner_spark.ner import tagger
from ner_spark.ner.oracle import oracle_mentions
from ner_spark.streaming import face

MENTION_COLS = ["conv_id", "turn_idx", "start", "end", "surface", "label"]
WARM_UP_TURNS = 400


def fingerprint(df, cols=None) -> tuple[int, int]:
    """(row count, bit_xor of per-row xxhash64) — order-independent."""
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*(cols or df.columns))), F.lit(0)).alias(
            "h"
        ),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


class Workload:
    """Seeded transcripts in, one iteration of the system per
    ``run_once``."""

    name = ""
    n_turns = 0
    whale = True
    n_files = 4
    #: turns after the batch corpus, which arrive later as small files
    late_turns = 0
    late_files = 0
    #: layers a traced iteration must open at least one span in
    LAYERS: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark, self.seed, self.work_dir = spark, seed, work_dir
        self._iter = 0

    def fresh_dir(self, tag: str) -> str:
        self._iter += 1
        path = os.path.join(self.work_dir, f"{tag}-{self._iter}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def setup(self, in_dir: str) -> None:
        pdf = inputs.transcripts(self.seed, self.n_turns + self.late_turns, self.whale)
        self.pdf, self.late = pdf.iloc[: self.n_turns], pdf.iloc[self.n_turns :]
        #: input rows the workload feeds the system per iteration
        self.input_rows = len(pdf)
        self.in_path = os.path.join(in_dir, "batch")
        inputs.write_parquet(self.pdf, self.in_path, self.n_files)
        if self.late_files:
            # event-time order, so the dedup stage's 1-hour watermark
            # drops no late turn
            self.late_path = os.path.join(in_dir, "late")
            inputs.write_parquet(
                self.late.sort_values(["ts", "conv_id", "turn_idx"]),
                self.late_path,
                self.late_files,
            )

    def warm_up(self) -> None:
        """Part of set-up.  Read the input once and tag a slice of it:
        this starts the python workers, loads the model into them and
        compiles the read path, first-use costs of a fresh process that
        the measured iteration would pay otherwise."""
        turns = io_read.read_transcripts(self.spark, self.in_path)
        tagger.tag_turns(turns.limit(WARM_UP_TURNS), mode="model").count()

    def run_once(self) -> dict[str, float]:
        raise NotImplementedError

    def check(self) -> list[tuple[str, bool]]:
        raise NotImplementedError

    def sample_texts(self, n: int) -> list[str]:
        """Seeded sample of the turn texts, for the Spark-free tagger
        kernel timings."""
        rng = random.Random(f"kgbench-texts-{self.seed}")
        texts = self.pdf["text"].tolist()
        return rng.sample(texts, min(n, len(texts)))

    def release(self) -> None:
        """Drop what the last iteration kept for ``check``."""


def stream_ingest(spark, in_path: str, root: str) -> tuple[float, list[float]]:
    """Drain the parquet files under ``in_path``, one file per
    micro-batch, through the dedup stage and the foreachBatch commit
    sink into ``root``; return the drain time and each batch's sink
    time."""
    sink = face.stream_mentions_foreach_batch(root, mode="model")
    batch_s: list[float] = []

    def timed_sink(df, batch_id):
        t0 = perf_counter()
        with trace.phase("streaming.face", "sink"):
            sink(df, batch_id)
        batch_s.append(perf_counter() - t0)

    t0 = perf_counter()
    with trace.phase("streaming.face", "drain"):
        query = (
            face.deduped(face.stream_transcripts(spark, in_path, max_files_per_trigger=1))
            .writeStream.foreachBatch(timed_sink)
            .option("checkpointLocation", os.path.join(root, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return perf_counter() - t0, batch_s


def stream_matches_batch(spark, root: str, in_path: str, n_rows: int) -> bool:
    """The union of the committed micro-batches equals batch tag_turns
    over the same files (count and checksum)."""
    cols = ["conv_id", "turn_idx", "text", "spans"]
    streamed = fingerprint(
        spark.read.parquet(os.path.join(root, "stream_tagged")), cols
    )
    batch = fingerprint(
        tagger.tag_turns(spark.read.parquet(in_path), mode="model"), cols
    )
    return streamed == batch and batch[0] == n_rows


class KgFlagship(Workload):
    """Transcripts → mentions, triples, entities and entity edges."""

    name = "kg_flagship"
    # 1/40 of the measured corpus.  The whale keeps its 5,000 turns, as
    # salting only splits conversations above 1,024 turns, so it is 9.5%
    # of the turns here, not 0.24%.
    n_turns = inputs.MEASURED_TURNS // 40
    LAYERS = (
        "io.read", "kg.skew", "ner.tagger", "kg.cooccur",
        "kg.linking", "kg.cc", "kg.materialize",
    )
    OUTPUTS = ("mentions", "triples", "entities", "edges")

    out: dict | None = None

    def run_once(self) -> dict[str, float]:
        self.release()
        t0 = perf_counter()
        with trace.phase("pipeline", "run_pipeline"):
            out = pipeline.run_pipeline(
                self.spark,
                io_read.read_transcripts(self.spark, self.in_path),
                materialize=True,
                salt_hot=True,
            )
            self.counts = {k: out[k].count() for k in self.OUTPUTS}
        wall = perf_counter() - t0
        self.out = out
        return {
            "iteration_s": wall,
            "kg_build_s": wall,
            "triples_per_s": self.counts["triples"] / wall,
        }

    def release(self) -> None:
        if self.out is not None:
            pipeline.release_pipeline(self.out)
            self.out = None

    def check(self) -> list[tuple[str, bool]]:
        """Mentions of a seeded sample of conversations equal the
        single-process oracle row for row; triples reference existing
        mentions; entity mention counts add up to the mentions."""
        out, counts = self.out, self.counts
        rng = random.Random(f"kgbench-oracle-{self.seed}")
        convs = sorted(self.pdf["conv_id"].unique())
        sample = sorted(rng.sample(convs, min(20, len(convs))))
        got = (
            out["mentions"]
            .filter(F.col("conv_id").isin(sample))
            .select(*MENTION_COLS)
            .toPandas()
        )
        got = got.sort_values(MENTION_COLS).reset_index(drop=True)
        want = oracle_mentions(self.pdf[self.pdf["conv_id"].isin(sample)])
        same = len(got) == len(want) and all(
            got[c].astype(str).tolist() == want[c].astype(str).tolist()
            for c in MENTION_COLS
        )
        ids = out["mentions"].select(F.col("mention_id").alias("id"))
        ends = (
            out["triples"]
            .select(F.col("subj_mention_id").alias("id"))
            .union(out["triples"].select(F.col("obj_mention_id").alias("id")))
        )
        dangling = ends.join(ids, "id", "left_anti").count()
        n_sum = out["entities"].agg(F.sum("n_mentions")).collect()[0][0]
        return [
            ("oracle_mentions_sample", same and len(want) > 0),
            ("triple_ends_are_mentions", dangling == 0 and counts["triples"] > 0),
            ("entity_mentions_sum", n_sum == counts["mentions"]),
        ]


class KgCommitResume(Workload):
    """The write path.  run_resumable from an empty root, a rerun after
    the lineage rows of a quarter of the buckets are gone (a torn
    commit), and validate_all; then late turns arrive as small files
    through the streaming face's foreachBatch commit sink."""

    name = "kg_commit_resume"
    # 1/100 of the measured corpus.  At that scale a whale with its
    # measured 0.24% share would be a 50-turn conversation, so there is
    # none.
    n_turns = inputs.MEASURED_TURNS // 100
    whale = False
    LAYERS = (
        "io.read", "ner.tagger", "kg.cooccur", "checkpoint.lineage",
        "checkpoint.resume", "streaming.face",
    )
    late_turns = 100
    late_files = 2
    n_buckets = 4
    TORN_BUCKETS = (0,)  # a fixed quarter of the buckets
    STAGES = ("tagged_turns", "mentions", "triples")

    root: str | None = None

    def _resume(self, root: str, phase: str, **span_attrs) -> float:
        t0 = perf_counter()
        with trace.phase("checkpoint.resume", phase) as span:
            if span is not None:
                span.attrs.update(span_attrs)
            resume.run_resumable(
                self.spark,
                io_read.read_transcripts(self.spark, self.in_path),
                root,
                n_buckets=self.n_buckets,
            )
        return perf_counter() - t0

    def _lineage(self, root: str, stage: str) -> list[dict]:
        rows = []
        for path in glob.glob(os.path.join(root, LINEAGE_TABLE, stage, "*.json")):
            with open(path) as f:
                rows.append(json.load(f))
        return rows

    def _tear(self, root: str) -> None:
        for stage in self.STAGES:
            for part in self.TORN_BUCKETS:
                path = os.path.join(root, LINEAGE_TABLE, stage, f"part-{part:05d}.json")
                if os.path.exists(path):
                    os.remove(path)

    def _table_fingerprints(self, root: str) -> dict:
        """stage → (rows, xor of bucket checksums) from the lineage rows.
        Once validate_all has matched every bucket's data against its
        lineage row, this is the table's (count, bit_xor(xxhash64)).

        One validate_all, after the rerun, covers both commits: the
        rerun leaves the untorn buckets' data and lineage rows as the
        first commit wrote them, and equal fingerprints before and after
        tie the recomputed bucket to its original lineage row."""
        out = {}
        for stage in self.STAGES:
            rows = self._lineage(root, stage)
            out[stage] = (
                sum(r["output_rows"] for r in rows),
                functools.reduce(operator.xor, (r["checksum"] for r in rows), 0),
            )
        return out

    def run_once(self) -> dict[str, float]:
        self.release()
        root = self.root = self.fresh_dir("commit")
        commit_s = self._resume(root, "commit")
        before = self._table_fingerprints(root)

        # Only the torn buckets' turns need tagging again; the traced run
        # reports the rest of what the rerun tags as wasted rows.
        torn_turns = sum(
            r["output_rows"]
            for r in self._lineage(root, "tagged_turns")
            if r["part"] in self.TORN_BUCKETS
        )
        self._tear(root)
        partial_s = self._resume(root, "partial_rerun", needed_rows=torn_turns)
        t0 = perf_counter()
        with trace.phase("checkpoint.resume", "validate_all"):
            valid = resume.validate_all(self.spark, root)
        validate_s = perf_counter() - t0
        self.checks = [
            ("validate_after_resume", all(valid.values())),
            ("partial_resume_identical", self._table_fingerprints(root) == before),
            ("commit_nonempty", before["triples"][0] > 0),
        ]

        drain_s, self.batch_s = stream_ingest(
            self.spark, self.late_path, os.path.join(root, "stream")
        )
        return {
            "iteration_s": commit_s + validate_s + partial_s + drain_s,
            "commit_s": commit_s,
            "validate_s": validate_s,
            "resume_partial_s": partial_s,
            "stream_drain_s": drain_s,
            "batch_p50_s": statistics.median(self.batch_s),
            "batch_samples": len(self.batch_s),
        }

    def release(self) -> None:
        if self.root is not None:
            shutil.rmtree(self.root, ignore_errors=True)
            self.root = None

    def check(self) -> list[tuple[str, bool]]:
        """validate_all after the partial rerun; the partially resumed
        tables equal the first commit's; the streamed late turns equal
        batch tagging of the same files."""
        return self.checks + [
            ("one_batch_per_late_file", len(self.batch_s) >= self.late_files),
            (
                "stream_union_equals_batch",
                stream_matches_batch(
                    self.spark,
                    os.path.join(self.root, "stream"),
                    self.late_path,
                    len(self.late),
                ),
            ),
        ]


WORKLOADS = {w.name: w for w in (KgFlagship, KgCommitResume)}
