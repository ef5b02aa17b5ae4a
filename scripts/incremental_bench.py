"""Incremental compaction vs full re-dedup, measured at an inflated corpus.

The incremental claim (operators/incremental_dedup.py): folding a new
batch into the persisted signature store costs O(new text + store),
while the naive alternative re-reads EVERY byte ever ingested. This
script measures both on the same corpus and asserts they produce
identical groups.

Corpus: sf0.1 documents x SCALE_MULT replicas; every word gets a
per-replica suffix so replicas are NOT near-dups of each other — the
dup structure is the base corpus's, repeated independently per replica
(an undoctored replication would make every doc a member of one
MULT-sized group and measure a pathology instead). The "new batch" is
the highest-doc_id replica (append-only ingest), i.e. 1/MULT of the
corpus.

Run: python scripts/incremental_bench.py   (env: SCALE_MULT, SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS). Prints one JSON line for BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geo_linked_open_data_kg_spark.operators.incremental_dedup import (  # noqa: E402
    incremental_dup_groups,
    signature_dup_groups,
    signature_dup_state,
)
from geo_linked_open_data_kg_spark.session import get_spark  # noqa: E402

GROUP_COLS = ["group_id", "doc_id", "is_keeper", "n_members"]


def fold(df):
    """Order-insensitive exact digest of the full groups table."""
    return df.select(
        F.bit_xor(F.xxhash64(*GROUP_COLS)).alias("h"),
        F.count("*").alias("n")).collect()[0]


def main() -> None:
    mult = int(os.environ.get("SCALE_MULT", "8"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("inc_bench", cores=cpus, shuffle_partitions=cpus * 8)
    spark.sparkContext.setLogLevel("ERROR")

    base = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    rep = F.col("rep").cast("string")
    inflated = (base.crossJoin(F.broadcast(
                    spark.range(mult).select(F.col("id").alias("rep"))))
                .select((F.col("doc_id") + F.col("rep")
                         * F.lit(1_000_000_000)).alias("doc_id"),
                        F.regexp_replace(
                            F.col("text"), F.lit(r"(\S+)"),
                            F.concat(F.lit("$1x"), rep)).alias("text")))
    tmp = tempfile.mkdtemp(prefix="inc_bench_")
    try:
        (inflated.repartition(cpus * 4).write.mode("overwrite")
         .parquet(f"{tmp}/docs.parquet"))
        docs = spark.read.parquet(f"{tmp}/docs.parquet")
        n_docs = docs.count()
        cut = (mult - 1) * 1_000_000_000
        new_docs = docs.where(F.col("doc_id") >= cut)
        n_new = new_docs.count()

        # FULL path: one-shot signatures + groups over everything
        t0 = time.time()
        state_all = signature_dup_state(docs).localCheckpoint()
        t_sig_full = round(time.time() - t0, 2)
        t0 = time.time()
        groups_all = signature_dup_groups(state_all).localCheckpoint()
        full_digest = fold(groups_all)
        t_groups_full = round(time.time() - t0, 2)

        # INCREMENTAL path setup (untimed: this state already existed
        # before the batch arrived in the incremental story)
        prior_state = (state_all.where(F.col("doc_id") < cut)
                       .localCheckpoint())
        prior_groups = signature_dup_groups(prior_state).localCheckpoint()

        t0 = time.time()
        new_state = signature_dup_state(new_docs).localCheckpoint()
        t_sig_inc = round(time.time() - t0, 2)
        t0 = time.time()
        inc_groups = incremental_dup_groups(
            new_state, prior_state, prior_groups).localCheckpoint()
        inc_digest = fold(inc_groups)
        t_groups_inc = round(time.time() - t0, 2)

        assert (full_digest["h"], full_digest["n"]) \
            == (inc_digest["h"], inc_digest["n"]), \
            "incremental groups diverged from the one-shot pass"

        full_total = round(t_sig_full + t_groups_full, 2)
        inc_total = round(t_sig_inc + t_groups_inc, 2)
        print(json.dumps({
            "metric": "incremental_dedup_compaction",
            "sf_dir": sf_dir, "mult": mult,
            "n_docs": n_docs, "n_new_batch": n_new,
            "n_group_rows": full_digest["n"],
            "full_sec": {"signatures": t_sig_full,
                         "groups": t_groups_full, "total": full_total},
            "incremental_sec": {"signatures": t_sig_inc,
                                "groups": t_groups_inc,
                                "total": inc_total},
            "speedup": round(full_total / max(inc_total, 1e-9), 2),
            "groups_identical": True,
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
