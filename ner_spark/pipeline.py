"""End-to-end pipeline composition (SURVEY.md §3.2) and the driver's
flagship entry.

The transcripts input is synthesized deterministically from the
driver's parquet (conversation count and seeding derived from the
``documents`` table — no external data), then flows through the real
stages: layout → tagger (mapInPandas BiLSTM-CRF) → co-occurrence
triples → (linking → CC → materialize, as stages land).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ner_spark.fixtures.transcripts import transcripts_df
from ner_spark.io.read import table
from ner_spark.kg.cooccur import extract_triples
from ner_spark.ner.tagger import MODES, mentions_from_turns, tag_turns


def transcripts_for_sf(
    spark: SparkSession, sf_dir: str, cap: int | None = None
) -> DataFrame:
    """Deterministic transcripts sized from the sf documents table:
    one conversation per document row (pure function of the ordinal),
    so every sf tier yields a fixed, regenerable corpus."""
    n_docs = table(spark, sf_dir, "documents").count()
    n_convs = min(n_docs, cap) if cap else n_docs
    return transcripts_df(spark, n_convs)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    mode: str = "model",
    salt_hot: bool = False,
    materialize: bool = False,
) -> dict[str, DataFrame]:
    """Stages 3–10.  ``materialize=True`` adds linking + CC + the
    node/edge tables (iterative stages — driver loop inside)."""
    tagged = tag_turns(transcripts, mode=mode, salt_hot=salt_hot)
    if materialize:
        # three downstream consumers (mentions, assignments, edges) —
        # materialize the tagger output once instead of re-running it
        # per consumer (production: this is the stage-5 table commit).
        # Serialized columnar persist beats row-object localCheckpoint
        # under GC (measured).
        tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)
        tagged.count()
    mentions = mentions_from_turns(tagged)
    triples = extract_triples(tagged)
    out = {"tagged_turns": tagged, "mentions": mentions, "triples": triples}
    if materialize:
        # imported at call time so kgbench's traced run sees the
        # patched layer functions
        from ner_spark.kg.linking import match_edges, surface_nodes
        from ner_spark.kg.materialize import (
            build_edges,
            build_entities,
            entity_assignments,
        )

        # Vocabulary-scale frames referenced by several linking/CC/
        # materialize actions — persist them so the linking pipeline
        # executes once (same policy as ops/kg_queries' stage cache;
        # callers release via release_pipeline below).
        nodes = surface_nodes(mentions).persist(StorageLevel.MEMORY_AND_DISK)
        out["nodes"] = nodes
        edges = match_edges(nodes).persist(StorageLevel.MEMORY_AND_DISK)
        out["match_edges"] = edges
        assignments = entity_assignments(nodes, edges).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        out["assignments"] = assignments
        out["entities"] = build_entities(mentions, assignments)
        out["edges"] = build_edges(triples, assignments)
    return out


def release_pipeline(out: dict[str, DataFrame]) -> None:
    """Unpersist every cached frame in ``out`` (run_pipeline's
    tagged_turns under materialize=True, nodes, match_edges,
    assignments, and any frame a caller cached into the same dict).  A
    long-lived session invoking run_pipeline per batch must release
    each batch's dict or executor storage grows without bound; the
    catalog's reset_stage_cache (ops/kg_queries.py) releases its stage
    dict the same way."""
    for df in out.values():
        if df.is_cached:
            df.unpersist()


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver smoke query: full tag→triples slice; returns triples."""
    t = transcripts_for_sf(spark, sf_dir, cap=500)
    return run_pipeline(spark, t, mode="model")["triples"]


def main(argv: list[str] | None = None) -> None:
    """spark-submit entry (BASELINE.json:6):

        spark-submit --py-files ner_spark.zip -m ner_spark.pipeline \\
            --input <transcripts path-or-iceberg-table> \\
            --root <output root> [--mode model|model_bmes|gazetteer|gazetteer_bmes]

    Resumable: committed buckets are skipped (checkpoint/resume.py).
    """
    import argparse

    from ner_spark.checkpoint.resume import run_resumable, validate_all
    from ner_spark.io.read import read_transcripts
    from ner_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--mode", default="model", choices=MODES)
    args = ap.parse_args(argv)

    spark = SparkSession.getActiveSession() or get_spark("ner_spark-pipeline")
    transcripts = read_transcripts(spark, args.input)
    out = run_resumable(spark, transcripts, args.root, mode=args.mode)
    counts = {k: v.count() for k, v in out.items()}
    ok = validate_all(spark, args.root)
    print({"counts": counts, "validated": ok})


if __name__ == "__main__":
    main()
