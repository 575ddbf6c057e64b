"""The KG product path imports no module of the operator catalog
(``ner_spark.ops``), so it registers no query; loaded afterwards, the
catalog registers in architecture order, KG stages first."""

from __future__ import annotations

import json
import os
import subprocess
import sys

SCRIPT = """
import json, sys
import ner_spark.pipeline, ner_spark.checkpoint.resume, ner_spark.checkpoint.lineage
import ner_spark.streaming.face, ner_spark.ner.tagger, ner_spark.io.read
import ner_spark.kg.linking, ner_spark.kg.cc, ner_spark.kg.materialize
import ner_spark.kg.cooccur, ner_spark.kg.skew
loaded = sorted(m for m in sys.modules if m.startswith("ner_spark.ops"))
from ner_spark.ops import QUERIES, all_queries
print(json.dumps([loaded, sorted(QUERIES), next(iter(all_queries()))]))
"""


def test_product_path_loads_no_catalog_module():
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=repo, capture_output=True, text=True, check=True,
    )
    assert json.loads(out.stdout.splitlines()[-1]) == [[], [], "kg_mentions"]
