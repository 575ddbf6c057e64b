"""North-rule clause "multi-executor cluster": the closest one box
gets is Spark's local-cluster master — an in-process standalone
master with REAL separate executor JVMs (own heap/GC/python workers).
This test pins that the tagger runs on multiple executor processes
and produces the same results as local mode (execution-topology
invariance).  ``spark.master`` goes through ``extra_conf``, which
get_spark applies after its default ``local[cores]`` master.

Runs in a subprocess: one JVM holds one SparkContext, and the
session-scoped pytest fixture already owns a local[,] context here.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SCRIPT = """
import json, sys
from ner_spark.session import get_spark
from ner_spark.fixtures.transcripts import transcripts_df
from ner_spark.ner.tagger import tag_mentions

spark = get_spark(
    "lc-test",
    cores=2,
    extra_conf={
        "spark.master": "local-cluster[2,1,1024]",
        "spark.executor.memory": "1024m",
        "spark.executorEnv.PYTHONPATH": %(repo)r,
    },
)
sc = spark.sparkContext
n_mentions = tag_mentions(transcripts_df(spark, 30), mode="gazetteer").count()
# block managers = executors + driver; local-cluster[2,1,·] => 3
n_bm = sc._jsc.sc().getExecutorMemoryStatus().size()
print(json.dumps({
    "master": sc.master,
    "n_block_managers": int(n_bm),
    "n_mentions": int(n_mentions),
}))
spark.stop()
"""


def test_local_cluster_runs_separate_executors_same_results(spark):
    from ner_spark.fixtures.transcripts import transcripts_df
    from ner_spark.ner.tagger import tag_mentions

    expected = tag_mentions(transcripts_df(spark, 30), mode="gazetteer").count()
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env.pop("PYSPARK_GATEWAY_PORT", None)  # force a fresh JVM
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT % {"repo": REPO}],
        capture_output=True,
        text=True,
        env=env,
        timeout=420,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rec["master"].startswith("local-cluster")
    # two executor JVMs + the driver's own block manager
    assert rec["n_block_managers"] >= 3
    assert rec["n_mentions"] == expected > 0
