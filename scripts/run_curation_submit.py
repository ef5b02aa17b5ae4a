"""spark-submit entry point for the training-data curation pipeline.

Cluster launch (same deployment shape as run_pipeline_submit.py):

    python scripts/make_pyfiles_zip.py   # -> dist/geo_kg_spark.zip
    spark-submit \
      --master <cluster-master> \
      --py-files dist/geo_kg_spark.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.skewJoin.enabled=true \
      scripts/run_curation_submit.py \
      --sf-dir /data/corpus --out-dir /data/curated \
      --weights web=0.6,code=1.0 --seed mix-v1

Local smoke: python scripts/run_curation_submit.py --sf-dir
/root/testdata/sf0.001 --out-dir /tmp/curated_out
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_weights(s: str | None) -> dict[str, float]:
    if not s:
        return {}
    out = {}
    for part in s.split(","):
        part = part.strip()
        if not part:
            continue  # tolerate a trailing comma
        k, _, v = part.partition("=")
        if not k or not v:
            raise SystemExit(
                f"--weights: expected source=fraction, got {part!r}")
        out[k.strip()] = float(v)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--weights", default=None,
                    help="per-source keep fractions, e.g. web=0.6,code=1.0")
    ap.add_argument("--seed", default="mix-v1")
    ap.add_argument("--budget", type=int, default=512,
                    help="packing context length in tokens")
    ap.add_argument("--eval-dir", default=None,
                    help="parquet dir of benchmark docs (doc_id, text) "
                         "to decontaminate against")
    ap.add_argument("--force", action="store_true",
                    help="recompute all stages (ignore checkpoints)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.appName("geo_kg_curation")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from geo_linked_open_data_kg_spark.plans.curation import (
        run_curation_pipeline,
    )
    eval_docs = (spark.read.parquet(args.eval_dir)
                 .select("doc_id", "text") if args.eval_dir else None)
    res = run_curation_pipeline(
        spark, args.sf_dir, args.out_dir, eval_docs=eval_docs,
        weights=parse_weights(args.weights), seed=args.seed,
        budget=args.budget, force=args.force)
    for r in res["funnel"].orderBy("step").collect():
        print(f"{r['step']}: {r['value']}")
    spark.stop()


if __name__ == "__main__":
    main()
