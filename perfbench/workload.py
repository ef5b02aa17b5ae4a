"""The benchmark's workloads, run against the package in this checkout.

Every run starts one Spark session and builds the knowledge graph once
with `plans.pipeline.run_pipeline` (the cold first build). The workloads
differ in what the measured window then runs: warm builds on
`build_small`, reads of the built graph with `operators.serving.
nearby_edges` and `ego_edges` on `serve_reads`. Only calls into those
public entry points are timed, and every operation's output is checked.

One run, in order:

1. set-up: generate the inputs from the seed (three times, median), start
   the Spark session;
2. the cold first build;
3. untimed warm-up operations, then the measured window: operations until
   `--seconds` have passed.

The traced run (`--trace 1`) follows the cold build with an untraced warm
build, a traced one, another untraced one and a fixed count of traced
reads, whatever the workload.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import checks
import tracing

STAGES = ["linked_mentions", "mention_triples", "gazetteer_triples", "nodes",
          "canonical_triples", "edges"]
CHAINS = [("linked_mentions", "mention_triples"), ("gazetteer_triples",),
          ("nodes",)]
EGO_EVERY = 5          # one read in five is an ego read
EGO_K = 2
RADII_KM = (25, 100, 300)
GEN_REPEATS = 3
TRACED_READS = 10


@dataclass(frozen=True)
class Workload:
    sf: str        # fixture size key in fixtures.generate.SF_SIZES
    window: str    # what the measured window runs: "builds" or "reads"
    min_ops: int   # operations the window runs however long they take
    warmup: int    # untimed (but checked) operations before the window
    # the generator's seed, when the inputs are not made from --seed
    data_seed: int | None = None


WORKLOADS = {
    "build_small": Workload(sf="0.001", window="builds", min_ops=1,
                            warmup=0),
    # Reads serve one graph; --seed draws the read mix. Spark lists a
    # partitioned table with distributed jobs once a directory holds more
    # than spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    # subdirectories. At sf0.001 the largest predicates span 30-34 cells,
    # so graphs from different seeds fall on either side and nearby reads
    # take 1x or ~1.8x. The seed-103 graph is on the far side, where every
    # graph of realistic size is: each read pays the listing jobs.
    # Read latency also falls by a third over a session's first ~15 reads
    # as the JIT compiles the read path, hence the warm-up.
    "serve_reads": Workload(sf="0.001", window="reads", min_ops=EGO_EVERY,
                            warmup=2 * EGO_EVERY, data_seed=103),
}

# metric name -> unit; the end-to-end set is what --trace 0 prints, the
# per-layer set what --trace 1 prints
E2E_UNITS = {
    "op_p50_ms": "ms", "ops_per_s": "1/s",
    "candidate_recall": "ratio", "occurrence_precision": "ratio",
    "setup_s": "s",
}
TRACE_UNITS = {
    "first_build_s": "s", "pipeline.wall_s": "s", "pipeline.jobs": "count",
    "pipeline.stages": "count", "pipeline.tasks": "count",
    "pipeline.chain_overlap": "ratio",
    "pipeline.critical_path_share": "ratio", "trace.overhead_s": "s",
    **{f"stage.{st}.{k}": u for st in STAGES for k, u in (
        ("wall_s", "s"), ("compute_s", "s"), ("commit_s", "s"),
        ("jobs", "count"), ("tasks", "count"), ("commit_jobs", "count"),
        ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"))},
    "canonicalize.cc_rounds": "count", "process.cpu_s": "s",
    "edges.files": "count", "edges.dirs": "count",
    "serve.nearby.p50_ms": "ms", "serve.nearby.jobs": "count",
    "serve.nearby.cells": "count", "serve.nearby.files_opened": "count",
    "serve.nearby.rows_returned": "count", "serve.nearby.keep_ratio": "ratio",
    "serve.ego.p50_ms": "ms", "serve.ego.jobs": "count",
    "serve.ego.hops": "count", "serve.ego.frontier_nodes": "count",
    "serve.ego.rows_returned": "count",
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "session.retained_block_mb": "MB", "session.driver_heap_mb": "MB",
}


class JvmDied(RuntimeError):
    pass


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)

    def mismatch(self, what: str) -> None:
        self.mismatches.append(what)
        print(f"[perfbench] CHECK FAILED: {what}", file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else None


class Run:
    """One run of one workload: its session, operations, checks and
    metrics."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool,
                 work: str, cores: int, heap_mb: int, event_dir: str | None):
        self.name = name
        self.wl = WORKLOADS[name]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cores = cores
        self.heap_mb = heap_mb
        self.event_dir = event_dir
        self.tally = Tally()
        self.rng = random.Random(seed)
        self.n_reads = 0
        self.n_nearby = 0
        self.first_hashes = None
        self.builds = 0
        self.spark = None
        self.metrics: dict[str, float | None] = {}

    # -- set-up -----------------------------------------------------------

    def generate(self) -> float:
        """Generate the inputs GEN_REPEATS times into fresh roots; keep the
        last. Returns the median generation time."""
        times = []
        for i in range(GEN_REPEATS):
            root = os.path.join(self.work, f"inputs{i}")
            t0 = time.perf_counter()
            self.sf_dir = generate_inputs(
                root, self.wl.sf,
                self.seed if self.wl.data_seed is None else self.wl.data_seed)
            times.append(time.perf_counter() - t0)
            if i + 1 < GEN_REPEATS:
                shutil.rmtree(root)
        return statistics.median(times)

    def start_session(self) -> float:
        from geo_linked_open_data_kg_spark.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.cores,
                               shuffle_partitions=self.cores * 8)
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to
        exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        proc = getattr(SparkContext._gateway, "proc", None)
        try:
            self.spark.stop()
        except Exception:
            traceback.print_exc(file=sys.stderr)
        self.spark = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def jvm_alive(self) -> bool:
        try:
            return not self.spark.sparkContext._jsc.sc().isStopped()
        except Exception:
            return False

    # -- operations -------------------------------------------------------

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failed operation,
        and a dead JVM ends the run."""
        self.tally.attempted += 1
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.tally.failed += 1
            self.tally.mismatch(f"{what} raised")
            if not self.jvm_alive():
                raise JvmDied(what)
            return None

    def release(self) -> None:
        """Drop cached blocks and collect both heaps between operations
        (bench.py's release(), with a shorter settle)."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()
        time.sleep(0.25)

    def build(self, tracer: tracing.Tracer | None = None) -> dict | None:
        """One full build into an empty checkpoint directory, checked.
        Returns {"wall", "dir"} or None if it failed."""
        from geo_linked_open_data_kg_spark.plans.pipeline import run_pipeline
        out = os.path.join(self.work, f"graph{self.builds}")
        self.builds += 1

        def go():
            t0 = time.perf_counter()
            if tracer is None:
                run_pipeline(self.spark, self.sf_dir, out)
            else:
                with traced_checkpoints(tracer), \
                        tracer.root_span("run_pipeline"):
                    run_pipeline(self.spark, self.sf_dir, out)
            return time.perf_counter() - t0

        wall = self.attempt("build", go)
        if wall is None:
            return None
        ok = self.check_build(out)
        self.release()
        if not ok:
            self.tally.failed += 1
        return {"wall": wall, "dir": out}

    def check_build(self, out: str) -> bool:
        (hits, n_truth), (right, n_det) = checks.truth_scores(
            f"{out}/linked_mentions", f"{self.sf_dir}/mention_truth.parquet")
        self.recall = hits / n_truth
        self.precision = right / n_det
        ok = True
        if checks.below_gate(hits, n_truth, checks.RECALL_GATE):
            self.tally.mismatch(f"candidate recall {hits}/{n_truth}")
            ok = False
        if checks.below_gate(right, n_det, checks.PRECISION_GATE):
            self.tally.mismatch(f"occurrence precision {right}/{n_det}")
            ok = False
        hashes = {t: checks.table_hash(f"{out}/{t}")
                  for t in ("canonical_triples", "edges")}
        if self.first_hashes is None:
            self.first_hashes = hashes
        elif hashes != self.first_hashes:
            self.tally.mismatch(f"build {out} differs from the first build")
            ok = False
        return ok

    def next_read(self) -> tuple:
        """The next read of the seeded mix: every EGO_EVERY-th is an ego
        read, the rest are nearby reads."""
        self.n_reads += 1
        if self.n_reads % EGO_EVERY == 0:
            return self.ego_query()
        return self.nearby_query()

    def nearby_query(self) -> tuple:
        """("nearby", pred, lat, lon, radius_km): the point is the
        coordinate of a random located edge's subject; the radius cycles
        through RADII_KM so every run reads the same mix of disc sizes."""
        e = self.ref.placed.iloc[self.rng.randrange(len(self.ref.placed))]
        lat, lon = self.ref.coords.loc[e["subj"]]
        radius = RADII_KM[self.n_nearby % len(RADII_KM)]
        self.n_nearby += 1
        return ("nearby", e["pred"], float(lat), float(lon), float(radius))

    def ego_query(self) -> tuple:
        """("ego", start_id): a random node that has edges."""
        return ("ego", self.rng.choice(self.ref.node_ids))

    def read(self, q: tuple, tracer: tracing.Tracer | None = None
             ) -> dict | None:
        """One closed-loop read against the reference graph, checked.
        Returns {"kind", "ms", "rows", ...} or None if it failed."""
        from geo_linked_open_data_kg_spark.operators.serving import (
            ego_edges,
            nearby_edges,
        )
        graph = self.graph_dir

        def go():
            if q[0] == "nearby":
                call = lambda: nearby_edges(self.spark, graph, *q[1:]).collect()  # noqa: E731
            else:
                call = lambda: ego_edges(self.spark, graph, [q[1]],  # noqa: E731
                                         k=EGO_K).collect()
            t0 = time.perf_counter()
            if tracer is None:
                rows = call()
                span = None
            else:
                with tracer.span(f"serve.{q[0]}") as span:
                    rows = call()
            return rows, (time.perf_counter() - t0) * 1e3, span

        got = self.attempt(q[0], go)
        if got is None:
            return None
        rows, ms, span = got
        rec = {"kind": q[0], "ms": ms, "rows": len(rows), "span": span,
               "q": q}
        print(f"[perfbench] read {q} {ms:.0f} ms {len(rows)} rows",
              file=sys.stderr, flush=True)
        if q[0] == "nearby":
            ok = self.ref.nearby_matches(rows, *q[1:])
        else:
            ref, sizes = self.ref.ego([q[1]], EGO_K)
            got_set = {(r["subj"], r["pred"], r["obj"], r["hop"])
                       for r in rows}
            ok = got_set == ref and len(got_set) == len(rows)
            rec.update(hops=len(sizes), frontier=sum(sizes))
        if not ok:
            self.tally.failed += 1
            self.tally.mismatch(f"read {q} differs from the reference")
        return rec

    def reads(self, min_count: int, seconds: float = 0.0, tracer=None
              ) -> tuple[list[dict], float]:
        """At least `min_count` reads, continuing until `seconds` have
        passed. Returns (records of the reads that ran, wall seconds)."""
        recs, n = [], 0
        t0 = time.perf_counter()
        while n < min_count or time.perf_counter() - t0 < seconds:
            rec = self.read(self.next_read(), tracer)
            n += 1
            if rec is not None:
                recs.append(rec)
        wall = time.perf_counter() - t0
        self.release()
        return recs, wall

    # -- the run ----------------------------------------------------------

    def run(self) -> None:
        self.t_start = time.perf_counter()
        gen_s = self.generate()
        self.session_s = self.start_session()
        self.setup_s = gen_s + self.session_s
        self.phase("set-up done")

        cold = self.build()
        self.phase("cold build done")
        if cold is None:
            return
        self.first_build_s = cold["wall"]
        self.graph_dir = cold["dir"]
        if self.trace:
            with tracing.RssSampler() as self.rss:
                self.run_traced()
        elif self.wl.window == "reads":
            self.ref = checks.GraphReference(self.graph_dir)
            self.reads(self.wl.warmup)
            recs, wall = self.reads(self.wl.min_ops, self.seconds)
            self.report_window([r["ms"] for r in recs], wall)
        else:
            shutil.rmtree(self.graph_dir, ignore_errors=True)
            walls, t0 = [], time.perf_counter()
            while (len(walls) < self.wl.min_ops
                   or time.perf_counter() - t0 < self.seconds):
                b = self.build()
                if b is None:
                    break
                walls.append(b["wall"] * 1e3)
                shutil.rmtree(b["dir"], ignore_errors=True)
            self.report_window(walls, time.perf_counter() - t0)
        self.phase("window done")

    def phase(self, what: str) -> None:
        print(f"[perfbench] {time.perf_counter() - self.t_start:7.1f}s "
              f"{what}", file=sys.stderr, flush=True)

    def report_window(self, op_ms: list[float], wall: float) -> None:
        m = self.metrics
        m["op_p50_ms"] = _median(op_ms)
        m["ops_per_s"] = len(op_ms) / wall if op_ms else None
        m["candidate_recall"] = self.recall
        m["occurrence_precision"] = self.precision
        m["setup_s"] = self.setup_s
        print(f"[perfbench] window: {len(op_ms)} operations in {wall:.1f} s",
              file=sys.stderr)

    def run_traced(self) -> None:
        shutil.rmtree(self.graph_dir, ignore_errors=True)
        sc = self.spark.sparkContext
        tracer = tracing.Tracer(sc, f"{self.name}-{self.seed}")
        self.tracer = tracer

        u1 = self.build()
        before_ungrouped = tracing.ungrouped_jobs(sc)
        cpu0 = tracing.tree_cpu_s()
        t = self.build(tracer)
        cpu_s = tracing.tree_cpu_s() - cpu0
        if t is None or u1 is None:
            return
        ungrouped = tracing.ungrouped_jobs(sc) - before_ungrouped
        retained_mb = _retained_block_mb(sc)
        stage_jobs = self.stage_job_counts(tracer)
        pipe = tracing.job_counts(sc, [tracer.group(s)
                                       for s in tracer.spans])
        edges_files, edges_dirs = _layout(f"{t['dir']}/edges")
        cc_rounds = _cc_rounds(t["dir"])
        shutil.rmtree(u1["dir"], ignore_errors=True)
        # builds still speed up as the JIT settles: an untraced build on
        # each side of the traced one cancels that trend
        u2 = self.build()
        if u2 is None:
            return
        shutil.rmtree(u2["dir"], ignore_errors=True)

        self.graph_dir = t["dir"]
        n_spans_build = len(tracer.spans)
        self.ref = checks.GraphReference(self.graph_dir)
        recs, _ = self.reads(TRACED_READS, tracer=tracer)
        read_counts = {id(r): tracing.job_counts(sc, [tracer.group(r["span"])])
                       for r in recs}
        self.stop_session()
        log_bytes = tracing.event_log_bytes(self.event_dir)

        m = self.metrics
        m["first_build_s"] = self.first_build_s
        build_spans = tracer.spans[:n_spans_build]
        root = next(s for s in build_spans if s["name"] == "run_pipeline")
        wall = root["end"] - root["start"]
        m["pipeline.wall_s"] = wall
        m["pipeline.jobs"] = pipe["jobs"] + len(ungrouped)
        m["pipeline.stages"] = pipe["stages"]
        m["pipeline.tasks"] = pipe["tasks"]
        goc = {s["stage"]: s for s in build_spans
               if s["name"].startswith("stage.")}
        commit = {s["stage"]: s for s in build_spans
                  if s["name"].startswith("commit.")}
        chains = [(goc[c[0]]["start"], goc[c[-1]]["end"]) for c in CHAINS]
        chain_walls = [e - s for s, e in chains]
        span_all = max(e for _, e in chains) - min(s for s, _ in chains)
        m["pipeline.chain_overlap"] = sum(chain_walls) / span_all
        critical = (max(chain_walls) + _dur(goc["canonical_triples"])
                    + _dur(goc["edges"]))
        m["pipeline.critical_path_share"] = critical / wall
        m["trace.overhead_s"] = t["wall"] - (u1["wall"] + u2["wall"]) / 2
        for st in STAGES:
            g, c = goc[st], commit[st]
            jc = stage_jobs[st]
            b_goc = log_bytes.get(tracer.group(g), {})
            b_com = log_bytes.get(tracer.group(c), {})
            m[f"stage.{st}.wall_s"] = _dur(g)
            m[f"stage.{st}.compute_s"] = _dur(g) - _dur(c)
            m[f"stage.{st}.commit_s"] = _dur(c)
            m[f"stage.{st}.jobs"] = jc["all"]["jobs"]
            m[f"stage.{st}.tasks"] = jc["all"]["tasks"]
            m[f"stage.{st}.commit_jobs"] = jc["commit"]["jobs"]
            for k in ("shuffle_write_bytes", "spill_bytes"):
                m[f"stage.{st}.{k}"] = b_goc.get(k, 0) + b_com.get(k, 0)
        m["canonicalize.cc_rounds"] = cc_rounds
        m["process.cpu_s"] = cpu_s
        m["edges.files"] = edges_files
        m["edges.dirs"] = edges_dirs
        self.report_reads(recs, read_counts)
        m["session.start_s"] = self.session_s
        m["session.peak_rss_mb"] = self.rss.peak_mb
        m["session.retained_block_mb"] = retained_mb
        m["session.driver_heap_mb"] = self.heap_mb

    def stage_job_counts(self, tracer) -> dict:
        sc = self.spark.sparkContext
        out = {}
        for s in tracer.spans:
            if s["name"].startswith("stage."):
                st = s["stage"]
                com = next(c for c in tracer.spans
                           if c["name"] == f"commit.{st}")
                out[st] = {
                    "all": tracing.job_counts(
                        sc, [tracer.group(s), tracer.group(com)]),
                    "commit": tracing.job_counts(sc, [tracer.group(com)])}
        return out

    def report_reads(self, recs, read_counts) -> None:
        m = self.metrics
        near = [r for r in recs if r["kind"] == "nearby"]
        ego = [r for r in recs if r["kind"] == "ego"]
        from geo_linked_open_data_kg_spark.functions.geo import (
            coarse_cells_covering,
        )
        cells, files, scanned = [], [], 0
        for r in near:
            _, pred, lat, lon, radius = r["q"]
            cs = coarse_cells_covering(lat, lon, radius)
            f = _pruned_files(f"{self.graph_dir}/edges", pred, cs)
            cells.append(len(cs))
            files.append(len(f))
            scanned += sum(_parquet_rows(p) for p in f)
        returned = sum(r["rows"] for r in near)
        m["serve.nearby.p50_ms"] = _median([r["ms"] for r in near])
        m["serve.nearby.jobs"] = _median([read_counts[id(r)]["jobs"] for r in near])
        m["serve.nearby.cells"] = _median(cells)
        m["serve.nearby.files_opened"] = _median(files)
        m["serve.nearby.rows_returned"] = _median([r["rows"] for r in near])
        m["serve.nearby.keep_ratio"] = returned / scanned if scanned else None
        m["serve.ego.p50_ms"] = _median([r["ms"] for r in ego])
        m["serve.ego.jobs"] = _median([read_counts[id(r)]["jobs"] for r in ego])
        m["serve.ego.hops"] = _median([r["hops"] for r in ego])
        m["serve.ego.frontier_nodes"] = _median([r["frontier"] for r in ego])
        m["serve.ego.rows_returned"] = _median([r["rows"] for r in ego])


# --- helpers ---------------------------------------------------------------

@contextmanager
def traced_checkpoints(tracer: tracing.Tracer):
    """Wrap CheckpointStore.get_or_compute (span `stage.<S>`) and
    CheckpointStore.write (span `commit.<S>`, nested in it) for the
    duration of one traced build."""
    from geo_linked_open_data_kg_spark.plans.checkpoint import CheckpointStore
    goc, write = CheckpointStore.get_or_compute, CheckpointStore.write

    def traced_goc(store, spark, stage, *args, **kwargs):
        with tracer.span(f"stage.{stage}", stage=stage):
            return goc(store, spark, stage, *args, **kwargs)

    def traced_write(store, df, stage, *args, **kwargs):
        with tracer.span(f"commit.{stage}", stage=stage):
            return write(store, df, stage, *args, **kwargs)

    CheckpointStore.get_or_compute = traced_goc
    CheckpointStore.write = traced_write
    try:
        yield
    finally:
        CheckpointStore.get_or_compute = goc
        CheckpointStore.write = write


def generate_inputs(root: str, sf: str, seed: int) -> str:
    """Write the fixture tables for size `sf` and `seed` under `root` with
    the package's own generator; returns the sf directory. The generator
    reads SEED and SYNTH_ROOT at call time, and the pipeline's loads resolve
    through SYNTH_ROOT, so it stays pointed at `root` afterwards."""
    from geo_linked_open_data_kg_spark.fixtures import generate as g
    g.SEED = seed
    g.SYNTH_ROOT = root
    # driver-provided tables (IVF centroids) are not part of the inputs
    g.DRIVER_ROOT = os.path.join(root, "no-driver-tables")
    return g.synth_dir_for(os.path.join(root, f"sf{sf}"))


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq
    return pq.read_metadata(path).num_rows


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _layout(edges_dir: str) -> tuple[int, int]:
    files = dirs = 0
    for _, sub, names in os.walk(edges_dir):
        dirs += len(sub)
        files += sum(n.endswith(".parquet") for n in names)
    return files, dirs


def _pruned_files(edges_dir: str, pred: str, cells) -> list[str]:
    out = []
    for c in cells:
        d = os.path.join(edges_dir, f"pred={pred}", f"cell={int(c)}")
        if os.path.isdir(d):
            out += [os.path.join(d, n) for n in sorted(os.listdir(d))
                    if n.endswith(".parquet")]
    return out


def _cc_rounds(graph_dir: str) -> int | None:
    import pyarrow.parquet as pq
    t = pq.read_table(f"{graph_dir}/_metrics/canonical_triples").to_pydict()
    for metric, value in zip(t["metric"], t["value"]):
        if metric == "cc_rounds_run":
            return value
    return None


def _retained_block_mb(sc) -> float:
    """Memory the block manager still holds for cached RDD blocks."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20
