"""Two-cluster-size scaling bench (the north rule's N vs 4N executors
criterion).

Two modes:
- EXEC_MODE=local-cluster (default): REAL multi-executor evidence —
  `local-cluster[k, EXEC_CORES, mem]` launches k separate executor JVMs
  (own heap, GC domain, allocator, spill path), so N executors vs 4N
  executors is measured directly: LEVELS=1,4 means local-cluster[1,8]
  vs local-cluster[4,8].
- EXEC_MODE=local: single-JVM thread scaling (LEVELS are core counts,
  e.g. 8,32) — kept for comparison with round-1 numbers; under-reads
  multi-executor scaling (shared heap/GC/memory bus, see BENCH.md).

Job: the full KG pipeline (mention detection -> linking -> triple
extraction -> canonicalization) over the sf0.1 corpus inflated x{MULT}
(deterministic doc_id-suffixed copies) so per-core work dominates fixed
scheduling overhead. Each level runs in its own subprocess (one
SparkContext per driver JVM). Appends a measurement section to BENCH.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# the checkout this script lives in
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MULT = int(os.environ.get("SCALE_MULT", "8"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EXEC_MODE = os.environ.get("EXEC_MODE", "local-cluster")
EXEC_CORES = int(os.environ.get("EXEC_CORES", "8"))
EXEC_MEM_MB = int(os.environ.get("EXEC_MEM_MB", "20480"))
LEVELS = [int(x) for x in os.environ.get("SCALE_LEVELS", "1,4").split(",")]

WORKER = r"""
import json, shutil, sys, tempfile, time
root = sys.argv[6]
sys.path.insert(0, root)
master = sys.argv[1]; total_cores = int(sys.argv[2])
mult = int(sys.argv[3]); sf_dir = sys.argv[4]; exec_mem = sys.argv[5]

from geo_linked_open_data_kg_spark.session import get_spark
from geo_linked_open_data_kg_spark.sources.registry import load
from pyspark.sql import functions as F

# cores*8 shuffle partitions: executor-mode spills dominate when
# partitions are large (measured: sp 64 -> 256 at 32 cores cut the
# cascade 31%); smaller partitions also smooth AQE coalescing
spark = get_spark(f"scale_{total_cores}", cores=total_cores,
                  shuffle_partitions=total_cores * 8, master=master,
                  executor_memory=exec_mem)
spark.sparkContext.setLogLevel("ERROR")
if master.startswith("local-cluster"):
    # real executors have their own Python workers: ship the package the
    # same way production does (spark-submit --py-files)
    spark.sparkContext.addPyFile(f"{root}/dist/geo_kg_spark.zip")

docs = load(spark, sf_dir, "geo_documents")
copies = [docs.withColumn("doc_id", F.concat("doc_id", F.lit(f"#{i}")))
          for i in range(mult)]
inflated = copies[0]
for c in copies[1:]:
    inflated = inflated.unionByName(c)
tmp_in = tempfile.mkdtemp(prefix=f"scale_in_{total_cores}_")
inflated.write.mode("overwrite").parquet(f"{tmp_in}/geo_documents.parquet")
n_docs = spark.read.parquet(f"{tmp_in}/geo_documents.parquet").count()

from geo_linked_open_data_kg_spark.operators import linking, direct_link, admin, spatial
from geo_linked_open_data_kg_spark.operators.canonicalize import (
    canonical_mapping, rewrite_triples)

places = load(spark, sf_dir, "places")
wd = load(spark, sf_dir, "wikidata_places")
fprio = load(spark, sf_dir, "feature_priority")
wprio = load(spark, sf_dir, "wd_type_priority")
# column (not hash-expression) repartition: downstream per-span groupBy
# and tokens joins reuse this clustering instead of re-shuffling the
# corpus (subset distribution satisfaction)
big_docs = spark.read.parquet(f"{tmp_in}/geo_documents.parquet") \
    .repartition(total_cores * 8, F.col("doc_id"))

# warm: Catalyst planning + whole-stage-codegen JIT of the fused cascade
# plan on a tiny slice — a per-session constant (~30 s) that a production
# batch amortizes over hours; measured separately in BENCH.md
linking.link_mentions(big_docs.limit(2000), places).count()
spatial.spatial_links(wd.limit(500), places, fprio, wprio).count()

TRIPLE_COLS = ["subj", "pred", "obj", "confidence", "evidence"]


def run_once():
    # rebuild the WHOLE DAG (fresh localCheckpoints — nothing cached
    # across runs) and execute it end to end
    t0 = time.time()
    linked = linking.link_mentions(big_docs, places, n_docs=n_docs)
    mt = linking.mention_triples(linked)
    gaz = (direct_link.direct_id_links(wd, places).select(*TRIPLE_COLS)
           .unionByName(admin.admin_triples(places).select(*TRIPLE_COLS))
           .unionByName(spatial.spatial_links(wd, places, fprio, wprio)
                        .select(*TRIPLE_COLS)))
    canon = rewrite_triples(
        gaz.unionByName(mt.select(*TRIPLE_COLS)),
        canonical_mapping(gaz.where(F.col("pred") == "sameAs"))[0])
    n = canon.count()
    return time.time() - t0, n


# cold run (first full-size execution: JIT of the full-size plan, page
# cache, shuffle-file allocation) then steady-state run — long-lived
# executors amortize the cold costs, so steady state is the
# production-relevant number; both are reported
cold_sec, n_triples = run_once()
# measurement hygiene (round 4): each fresh-DAG run leaves its
# localCheckpoint blocks in executor storage until the driver's
# ContextCleaner gets around to them, so at MULT=8 the second run used
# to execute under storage-eviction + GC pressure (observed: steady
# SLOWER than cold — an artifact, not engine behavior). Force driver GC
# so the cleaner releases run 1's blocks before timing run 2.
import gc
gc.collect()
spark._jvm.System.gc()
time.sleep(10)
steady_sec, n2 = run_once()
assert n2 == n_triples
print(json.dumps({"master": master, "total_cores": total_cores,
                  "sec": round(steady_sec, 2),
                  "cold_sec": round(cold_sec, 2),
                  "n_docs": n_docs, "n_triples": n_triples,
                  "docs_per_sec": round(n_docs / steady_sec, 1),
                  "cold_docs_per_sec": round(n_docs / cold_sec, 1)}))
shutil.rmtree(tmp_in, ignore_errors=True)
spark.stop()
"""


def level_master(level: int) -> tuple[str, int]:
    if EXEC_MODE == "local-cluster":
        return (f"local-cluster[{level},{EXEC_CORES},{EXEC_MEM_MB}]",
                level * EXEC_CORES)
    return (f"local[{level}]", level)


def main() -> None:
    subprocess.run([sys.executable,
                    os.path.join(os.path.dirname(__file__),
                                 "make_pyfiles_zip.py")], check=True)
    results = {}
    for level in LEVELS:
        master, total_cores = level_master(level)
        env = dict(os.environ, SPARK_DRIVER_MEM=os.environ.get(
            "SPARK_DRIVER_MEM", "24g"))
        out = subprocess.run(
            [sys.executable, "-c", WORKER, master, str(total_cores),
             str(MULT), SF_DIR, f"{EXEC_MEM_MB}m", ROOT],
            capture_output=True, text=True, env=env)
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-4000:])
            raise SystemExit(f"worker {master} failed")
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        results[level] = json.loads(line)
        print(line, flush=True)

    lo, hi = LEVELS
    thr_lo = results[lo]["docs_per_sec"]
    thr_hi = results[hi]["docs_per_sec"]
    ratio = results[hi]["total_cores"] / results[lo]["total_cores"]
    eff = thr_hi / (thr_lo * ratio)
    cold_lo = results[lo]["cold_docs_per_sec"]
    cold_hi = results[hi]["cold_docs_per_sec"]
    cold_eff = cold_hi / (cold_lo * ratio)
    unit = "executors x %d cores" % EXEC_CORES \
        if EXEC_MODE == "local-cluster" else "threads"
    section = f"""
## Measurement: {EXEC_MODE}, MULT={MULT} ({results[lo]['n_docs']} docs)

| level | master | steady sec | steady docs/sec | cold sec | cold docs/sec | triples |
|---|---|---|---|---|---|---|
| N = {lo} {unit} | `{results[lo]['master']}` | {results[lo]['sec']} | {thr_lo} | {results[lo]['cold_sec']} | {cold_lo} | {results[lo]['n_triples']} |
| {hi // lo}N = {hi} {unit} | `{results[hi]['master']}` | {results[hi]['sec']} | {thr_hi} | {results[hi]['cold_sec']} | {cold_hi} | {results[hi]['n_triples']} |

**Scaling efficiency (N -> {hi // lo}N): steady {eff:.3f}** =
{thr_hi} / ({ratio:.0f} x {thr_lo}); cold {cold_eff:.3f}
"""
    with open(os.path.join(ROOT, "BENCH.md"), "a") as f:
        f.write(section)
    print(section)


if __name__ == "__main__":
    main()
