"""Two-cluster-size scaling probe for the training-data curation ops
(round-5 additions: PII scrub, repetition signals, composite quality
filter, domain-mixture sampling, language ID).

These are the engine's zero-corpus-shuffle surface — pure Column /
higher-order-function passes with at most a broadcast join — so the
north rule's N-vs-4N criterion should come out near the host ceiling:
no cross-executor shuffle exists to lose efficiency to. This probe
evidences that, with the same subprocess-per-level / cold+steady /
forced-GC hygiene as scripts/scaling_bench.py.

Every op's FULL output is forced through an xxhash64 fold (a count()
would let Catalyst prune the very regexp/HOF columns being measured);
the fold doubles as a cross-level consistency check — all levels must
produce identical hashes or the run aborts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# the checkout this script lives in
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MULT = int(os.environ.get("SCALE_MULT", "64"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EXEC_MODE = os.environ.get("EXEC_MODE", "local-cluster")
EXEC_CORES = int(os.environ.get("EXEC_CORES", "2"))
EXEC_MEM_MB = int(os.environ.get("EXEC_MEM_MB", "10240"))
LEVELS = [int(x) for x in os.environ.get("SCALE_LEVELS", "1,4").split(",")]
if len(LEVELS) != 2:
    # fail BEFORE the hours-long workers run, not at the report line
    raise SystemExit(f"SCALE_LEVELS must be exactly two levels (N,4N "
                     f"pair for the scaling criterion); got {LEVELS}")

WORKER = r"""
import json, shutil, sys, tempfile, time
root = sys.argv[6]
sys.path.insert(0, root)
master = sys.argv[1]; total_cores = int(sys.argv[2])
mult = int(sys.argv[3]); sf_dir = sys.argv[4]; exec_mem = sys.argv[5]

from geo_linked_open_data_kg_spark.session import get_spark
from pyspark.sql import functions as F

spark = get_spark(f"td_scale_{total_cores}", cores=total_cores,
                  shuffle_partitions=total_cores * 8, master=master,
                  executor_memory=exec_mem)
spark.sparkContext.setLogLevel("ERROR")
if master.startswith("local-cluster"):
    spark.sparkContext.addPyFile(f"{root}/dist/geo_kg_spark.zip")

from geo_linked_open_data_kg_spark.operators.sampling import domain_mixture
from geo_linked_open_data_kg_spark.operators.textstats import (
    language_id, pii_stats, quality_filter, repetition_stats)

base = spark.read.parquet(f"{sf_dir}/documents.parquet") \
    .select("doc_id", "text", "source")
# crossJoin a replica range instead of a mult-way union: one narrow
# 2-branch plan at any MULT (a 256-branch union bloats planning)
inflated = (base.crossJoin(F.broadcast(
                spark.range(mult).select(F.col("id").alias("rep"))))
            .select((F.col("doc_id")
                     + F.col("rep") * F.lit(1_000_000_000)).alias("doc_id"),
                    "text", "source"))
tmp_in = tempfile.mkdtemp(prefix=f"td_scale_{total_cores}_")
# 256 files at EVERY level: the sf0.1 base is one ~MB parquet file, so
# an un-repartitioned write lands in ONE file / one row group and every
# level executes the timed jobs on a single split — one busy core no
# matter how many executors (observed: a "4x2" level at 100% of one
# CPU). Identical input layout across levels is also measurement
# hygiene: levels must differ only in core count.
inflated.repartition(256).write.mode("overwrite") \
    .parquet(f"{tmp_in}/documents.parquet")
docs = spark.read.parquet(f"{tmp_in}/documents.parquet")
n_docs = docs.count()

WEIGHTS = {f"src{i}": ((i * 7) % 9 + 1) / 10 for i in range(18)}


def fold(df):
    # xxhash64 over every column -> bit_xor fold (order-independent,
    # cannot overflow under ANSI): forces full evaluation of each op's
    # output AND pins cross-level result identity
    return df.agg(
        F.bit_xor(F.xxhash64(*df.columns)).alias("h")).collect()[0]["h"]


def run_once():
    t0 = time.time()
    hashes = [
        fold(pii_stats(docs)),
        fold(repetition_stats(docs)),
        fold(quality_filter(docs)),
        fold(domain_mixture(docs, WEIGHTS)),
        fold(language_id(docs)),
    ]
    return time.time() - t0, hashes

# warm: plan + codegen JIT on a slice (per-session constant)
small = docs.limit(2000).localCheckpoint()
for op in (pii_stats, repetition_stats, quality_filter, language_id):
    fold(op(small))
fold(domain_mixture(small, WEIGHTS))

cold_sec, h1 = run_once()
import gc
gc.collect(); spark._jvm.System.gc(); time.sleep(5)
steady_sec, h2 = run_once()
assert h1 == h2, "non-deterministic op output across runs"
print(json.dumps({"master": master, "total_cores": total_cores,
                  "sec": round(steady_sec, 2),
                  "cold_sec": round(cold_sec, 2),
                  "n_docs": n_docs,
                  "docs_per_sec": round(n_docs / steady_sec, 1),
                  "cold_docs_per_sec": round(n_docs / cold_sec, 1),
                  "hashes": h1}))
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
    if results[lo]["hashes"] != results[hi]["hashes"]:
        raise SystemExit("levels disagree on op output hashes")
    thr_lo = results[lo]["docs_per_sec"]
    thr_hi = results[hi]["docs_per_sec"]
    ratio = results[hi]["total_cores"] / results[lo]["total_cores"]
    eff = thr_hi / (thr_lo * ratio)
    cold_eff = (results[hi]["cold_docs_per_sec"]
                / (results[lo]["cold_docs_per_sec"] * ratio))
    unit = "executors x %d cores" % EXEC_CORES \
        if EXEC_MODE == "local-cluster" else "threads"
    section = f"""
## Measurement: td curation suite, {EXEC_MODE}, MULT={MULT} ({results[lo]['n_docs']} docs)

Suite = pii_stats + repetition_stats + quality_filter + domain_mixture
+ language_id, each fully evaluated via an xxhash64 fold (identical
hashes asserted across levels).

| level | master | steady sec | steady docs/sec | cold sec | cold docs/sec |
|---|---|---|---|---|---|
| N = {lo} {unit} | `{results[lo]['master']}` | {results[lo]['sec']} | {thr_lo} | {results[lo]['cold_sec']} | {results[lo]['cold_docs_per_sec']} |
| {hi // lo}N = {hi} {unit} | `{results[hi]['master']}` | {results[hi]['sec']} | {thr_hi} | {results[hi]['cold_sec']} | {results[hi]['cold_docs_per_sec']} |

**Scaling efficiency (N -> {hi // lo}N): steady {eff:.3f}** =
{thr_hi} / ({ratio:.0f} x {thr_lo}); cold {cold_eff:.3f}
"""
    with open(os.path.join(ROOT, "BENCH.md"), "a") as f:
        f.write(section)
    print(section)


if __name__ == "__main__":
    main()
