"""commit_stage leaves the session's write settings alone."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ner_spark.checkpoint.lineage import commit_stage
from ner_spark.fixtures.transcripts import transcripts_df


def test_commit_keeps_session_overwrite_static(spark, tmp_path):
    """Dynamic partition overwrite is commit_stage's own writer option:
    after a commit, a plain partitioned overwrite of another path still
    replaces ALL of that path's partitions."""
    other = str(tmp_path / "other")
    keyed = spark.range(10).withColumn("k", (F.col("id") % 2).cast("int"))
    keyed.write.partitionBy("k").mode("overwrite").parquet(other)

    commit_stage(transcripts_df(spark, 4), str(tmp_path / "root"), "turns", 4)

    keyed.filter("k = 1").write.partitionBy("k").mode("overwrite").parquet(other)
    assert sorted(d for d in os.listdir(other) if d.startswith("k=")) == ["k=1"]
    assert spark.read.parquet(other).count() == 5
