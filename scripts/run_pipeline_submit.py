"""spark-submit entry point for the KG-construction pipeline.

Cluster launch (the north rule's deployment shape):

    python scripts/make_pyfiles_zip.py   # -> dist/geo_kg_spark.zip
    spark-submit \
      --master <cluster-master> \
      --py-files dist/geo_kg_spark.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.skewJoin.enabled=true \
      scripts/run_pipeline_submit.py \
      --sf-dir /data/corpus --out-dir /data/kg_out --doc-partitions 4096

Local smoke: python scripts/run_pipeline_submit.py --sf-dir
/root/testdata/sf0.001 --out-dir /tmp/kg_out
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--doc-partitions", type=int, default=None)
    ap.add_argument("--force", action="store_true",
                    help="recompute all stages (ignore checkpoints)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # under spark-submit the session/master comes from the launcher; the
    # builder only fills in defaults when run standalone
    spark = (SparkSession.builder.appName("geo_kg_pipeline")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from geo_linked_open_data_kg_spark.plans.pipeline import run_pipeline
    res = run_pipeline(spark, args.sf_dir, args.out_dir,
                       doc_partitions=args.doc_partitions, force=args.force)
    for stage, df in res.items():
        print(f"{stage}: {df.count()} rows")
    spark.stop()


if __name__ == "__main__":
    main()
