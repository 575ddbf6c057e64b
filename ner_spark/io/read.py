"""Readers.

- ``table``: driver testdata parquet (TESTDATA.md).
- ``read_transcripts``: the engine's primary input — Iceberg table of
  multi-turn transcripts (BASELINE.json input_hint), else parquet.
- ``read_msra_corpus``: MSRA-style ``char<SP>tag`` text corpus
  (reference data format, SURVEY.md §1.1), parsed distributed via a
  grouped mapInPandas (operator S3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One driver testdata table (parquet scan, operator S1)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_transcripts(
    spark: SparkSession, path: str, snapshot_id: int | None = None
) -> DataFrame:
    """Read the transcripts table.

    Production: Iceberg with ``option("snapshot-id", ...)`` for pinned
    reads (operator S2).  Without a catalog or the Iceberg runtime jar
    (SURVEY.md §0) this falls back to a plain parquet read, whose hive
    ``part=`` dirs surface as a column for partition pruning.  The
    fallback cannot pin: a ``snapshot_id`` without Iceberg raises
    ValueError.  Committed stages are read with
    checkpoint/lineage.read_snapshot, not here.
    """
    try:
        if ".parquet" in path or not spark.conf.get(
            "spark.sql.catalog.spark_catalog", ""
        ):
            raise ValueError("no iceberg catalog configured")
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(path)
    except Exception:
        if snapshot_id is not None:
            raise ValueError(
                f"snapshot_id={snapshot_id} requested but {path!r} has "
                "no snapshot log: the Iceberg read is unavailable"
            ) from None
        return spark.read.parquet(path)


def read_msra_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Parse an MSRA-style tagged corpus: one ``char<SP>tag`` per line,
    blank line between sentences (reference input format).

    Distributed strategy: read lines with file/line provenance, assign
    each line to a sentence by counting blank lines *within its file*
    via a window, then assemble sentences with sort_array+collect_list.
    Sentence ids are ``xxhash64(file, sentence_ordinal)`` — stable and
    partition-independent.
    """
    lines = (
        spark.read.text(path)
        .select(
            F.col("value"),
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("pos"),
        )
    )
    # monotonically_increasing_id is monotonic within a partition and
    # partitions follow file order for text reads of a single file set;
    # to stay safe we window per file on pos (text splits keep order).
    from pyspark.sql.window import Window

    w = Window.partitionBy("file").orderBy("pos")
    lines = lines.withColumn(
        "sent_ord",
        F.sum(F.when(F.trim("value") == "", 1).otherwise(0)).over(w),
    ).filter(F.trim("value") != "")
    parsed = lines.select(
        "file",
        "sent_ord",
        "pos",
        F.substring_index("value", " ", 1).alias("ch"),
        F.substring_index("value", " ", -1).alias("tag"),
    )
    return (
        parsed.groupBy("file", "sent_ord")
        .agg(
            F.sort_array(F.collect_list(F.struct("pos", "ch", "tag"))).alias("seq")
        )
        .select(
            F.xxhash64("file", "sent_ord").alias("sent_id"),
            F.col("seq.ch").alias("chars"),
            F.col("seq.tag").alias("tags"),
        )
    )
