"""One-shot wall-clock of the end-to-end curation pipeline at
$SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints one JSON line: total sec, docs/s, and the funnel counts.
Not part of bench.py (the per-round driver bench stays the KG suite);
run manually, results recorded in BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geo_linked_open_data_kg_spark.plans.curation import (  # noqa: E402
    run_curation_pipeline,
)
from geo_linked_open_data_kg_spark.session import get_spark  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

spark = get_spark("curation-bench", cores=cpus,
                  shuffle_partitions=cpus * 8)
spark.sparkContext.setLogLevel("ERROR")

out = tempfile.mkdtemp(prefix="curation_bench_")
try:
    t0 = time.time()
    res = run_curation_pipeline(spark, sf_dir, out)
    # every stage table is already written; funnel read is the proof
    funnel = {r["step"]: r["value"] for r in res["funnel"].collect()}
    wall = time.time() - t0
    print(json.dumps({
        "metric": "curation_pipeline_sec", "value": round(wall, 2),
        "unit": "sec", "sf_dir": sf_dir, "cpus": cpus,
        "docs_per_sec": round(funnel["docs_in"] / wall, 1),
        "funnel": funnel,
    }))
finally:
    shutil.rmtree(out, ignore_errors=True)
    spark.stop()
