"""SparkSession factory with scale-aware defaults.

Tuned for correctness-at-scale first (AQE on, skew-join on, Arrow on),
then for the sandbox (local[N]).  On a real cluster the same builder is
used by ``spark-submit --py-files``; only ``master`` changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size ~ the BiLSTM mini-batch: big enough to amortize the
# numpy forward pass, small enough to bound Python-worker memory
# (SURVEY.md §4.3 "Arrow batch sizing").
ARROW_BATCH_ROWS = 2048


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "ner_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Shuffle partitions default to 2×cores (at least 8); on a real
    cluster set ``spark.sql.shuffle.partitions`` high (e.g.
    2×total-cores) through ``extra_conf`` and let AQE coalesce —
    partition sizing policy per SURVEY.md §4.3.
    """
    cores = cores or default_parallelism()
    shuffle = max(2 * cores, 8)
    # Single-threaded BLAS in every process that inherits this env —
    # in local mode spark.executorEnv does NOT reach python workers;
    # they inherit the JVM env, which inherits this driver process, so
    # set it here BEFORE the JVM launches.  One worker per core times
    # one BLAS thread each; anything else thrashes (measured: 32
    # workers x default OpenBLAS threads flatlines scaling).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Make the package importable in executor Python workers no matter
    # where the driver process runs (the sandbox analog of shipping
    # ``--py-files ner_spark.zip`` on a real cluster).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prior = os.environ.get("PYTHONPATH", "")
    if repo_root not in prior.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{prior}" if prior else repo_root
        )
    b = SparkSession.builder.appName(app_name)
    # Respect the launcher's --master (spark-submit to a cluster);
    # only default to local[N] when this process launched its own JVM.
    # Detection (verified empirically under real spark-submit): the
    # launcher execs python with PYSPARK_GATEWAY_PORT pointing at its
    # already-configured JVM — whose master reaches the session at
    # getOrCreate.  Neither PYSPARK_SUBMIT_ARGS nor
    # SparkConf(loadDefaults=True) carries the master in that process,
    # so a builder-side .master() here would clobber the cluster
    # master with local[N] (tests/resume/test_spark_submit.py asserts
    # the effective master end-to-end).
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        b = b.master(f"local[{cores}]")
    b = (
        b.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        # AQE: runtime re-planning from shuffle stats — coalescing,
        # skew-join split, broadcast conversion (SURVEY.md §4.2).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere at the Python boundary (BASELINE.json:15 —
        # vectorized pandas/Arrow UDFs, no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        # Deterministic fp32 inside numpy UDF workers: single-threaded BLAS.
        .config(
            "spark.executorEnv.OMP_NUM_THREADS", "1"
        )
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
