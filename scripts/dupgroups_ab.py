"""Measure the shared-scan rework of duplicate_groups (VERDICT r4 #4).

OLD shape (round 4): each pair generator and each exact-Jaccard verify
re-tokenized the corpus — 3-5 corpus text passes. NEW shape (round 5):
ONE tokenize pass and ONE shingle stream, localCheckpointed, fanned out
to minhash/simhash/jaccard and both verifies.

Interleaved A/B in one session, both shapes computing the IDENTICAL
result (the old shape is reproduced by calling the generators without
the shared streams). Prints one JSON line with per-shot walls, medians
and the row counts (which must match).
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geo_linked_open_data_kg_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rounds = int(os.environ.get("SPARK_GRAFT_AB_ROUNDS", "3"))
    spark = get_spark("dupgroups_ab", cores=cpus,
                      shuffle_partitions=cpus * 8)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.operators import dedup
    from geo_linked_open_data_kg_spark.operators.canonicalize import (
        connected_components,
    )
    from geo_linked_open_data_kg_spark.operators.textstats import (
        quality_scores,
    )
    from geo_linked_open_data_kg_spark.sources.registry import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def groups_from_pairs(pairs):
        cc, _ = connected_components(pairs, src="doc_a", dst="doc_b")
        qs = quality_scores(docs).select("doc_id", "quality")
        members = (cc.select(F.col("component").alias("group_id"),
                             F.col("node").alias("doc_id"))
                   .join(qs, "doc_id", "left"))
        kw = (Window.partitionBy("group_id")
              .orderBy(F.col("quality").desc_nulls_last(),
                       F.col("doc_id").asc()))
        gw = Window.partitionBy("group_id")
        return (members.withColumn("rn", F.row_number().over(kw))
                .select("group_id", "doc_id",
                        (F.col("rn") == 1).alias("is_keeper"),
                        F.count("*").over(gw).alias("n_members")))

    def old_shape():
        # round-4 form: every generator/verify re-derives its own scans
        pairs = (dedup.minhash_lsh_pairs(docs).select("doc_a", "doc_b")
                 .unionByName(dedup.simhash_banded_pairs(docs)
                              .select("doc_a", "doc_b"))
                 .unionByName(dedup.ngram_jaccard_pairs(docs)
                              .select("doc_a", "doc_b")))
        return groups_from_pairs(pairs).count()

    def new_shape():
        return dedup.duplicate_groups(docs)[0].count()

    def release():
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(3)

    shots = {"old": [], "new": []}
    counts = {}
    # warm-up (codegen/JIT) on a small slice
    dedup.duplicate_groups(docs.limit(2000))[0].count()
    release()
    for rnd in range(rounds):
        order = [("old", old_shape), ("new", new_shape)]
        if rnd % 2:
            order.reverse()
        for name, fn in order:
            t0 = time.time()
            counts[name] = fn()
            shots[name].append(round(time.time() - t0, 2))
            release()
    med = {k: round(statistics.median(v), 2) for k, v in shots.items()}
    print(json.dumps({
        "metric": "dup_groups_shared_scan_ab",
        "sf_dir": sf_dir,
        "shots": shots,
        "median": med,
        "speedup": round(med["old"] / med["new"], 3) if med["new"] else None,
        "rows": counts,
        "rows_match": counts.get("old") == counts.get("new"),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
