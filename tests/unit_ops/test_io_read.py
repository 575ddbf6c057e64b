"""Reader-branch tests (S2): the Iceberg read path is exercised up to
the format dispatch — with a catalog configured but no Iceberg runtime
on the classpath, ``read_transcripts`` must attempt the iceberg branch
and fall back to the partition-pruning parquet layout transparently
(the documented sandbox behavior, io/read.py)."""

from __future__ import annotations

from ner_spark.fixtures.transcripts import transcripts_df
from ner_spark.io.read import read_transcripts


def test_read_transcripts_iceberg_branch_falls_back(spark, tmp_path):
    import pytest

    p = str(tmp_path / "transcripts_tbl")
    t = transcripts_df(spark, 10)
    t.write.parquet(p)
    spark.conf.set("spark.sql.catalog.spark_catalog", "mock.IcebergCatalog")
    try:
        got = read_transcripts(spark, p)  # un-pinned: plain fallback
        assert got.count() == t.count()
        assert set(got.columns) == set(t.columns)
        # a PINNED read over a bare dir (no snapshot log) must raise,
        # never silently return un-pinned rows (checkpoint/lineage
        # honors the pin when the path was written by commit_stage —
        # tests/resume/test_snapshots.py)
        with pytest.raises(ValueError, match="no snapshot log"):
            read_transcripts(spark, p, snapshot_id=123)
    finally:
        spark.conf.unset("spark.sql.catalog.spark_catalog")


def test_read_transcripts_parquet_direct(spark, tmp_path):
    p = str(tmp_path / "direct.parquet")
    t = transcripts_df(spark, 5)
    t.write.parquet(p)
    assert read_transcripts(spark, p).count() == t.count()
