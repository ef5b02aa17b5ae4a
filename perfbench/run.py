"""Benchmark geo-kg-spark from the checkout this file lives in.

Run from the checkout root:

    python3 perfbench/run.py --workload build_small --seed 1 --seconds 12 \
        --trace 0

Prints one line per metric (name, value, unit), then, as the last line of
standard output, one JSON object: {"correct", "attempted", "failed",
"metrics"}. `--trace 0` reports the end-to-end metrics; `--trace 1` is the
separate traced run and reports the per-layer metrics. See README.md in
this directory for the workloads and what each metric measures.

Exits non-zero, printing no result, when the package cannot be imported
from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "geo_linked_open_data_kg_spark"
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def import_checkout_package():
    """Import the package from ROOT, never from anywhere else, and make the
    Python workers Spark starts import it from there too."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import importlib
    pkg = importlib.import_module(PACKAGE)
    where = os.path.realpath(pkg.__file__)
    if not where.startswith(os.path.realpath(ROOT) + os.sep):
        raise ImportError(f"{PACKAGE} imported from {where}, not {ROOT}")
    return pkg


def driver_heap_mb() -> int:
    """A quarter of the memory this process may use, 1-2 GB (the inputs
    are small): the package defaults the driver heap to 16g, more than
    small hosts have."""
    with open("/proc/meminfo") as fh:
        total = next(int(line.split()[1]) // 1024 for line in fh
                     if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            total = min(total, int(limit) // 2**20)
    except OSError:
        pass
    return max(1024, min(2048, total // 4))


def configure_environment(work: str, heap_mb: int, event_dir: str | None
                          ) -> None:
    """Everything Spark writes goes under `work`; set before the JVM
    starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Spark and the generator print to stdout; keep it for the result
    out = os.fdopen(os.dup(sys.stdout.fileno()), "w")
    sys.stdout.flush()
    os.dup2(sys.stderr.fileno(), sys.stdout.fileno())

    try:
        import_checkout_package()
    except ImportError as e:
        print(f"perfbench: cannot import {PACKAGE} from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import workload
    if args.workload not in workload.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workload.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    heap_mb = driver_heap_mb()
    cores = len(os.sched_getaffinity(0))
    event_dir = os.path.join(work, "events") if args.trace else None
    configure_environment(work, heap_mb, event_dir)

    run = workload.Run(args.workload, args.seed, args.seconds,
                       bool(args.trace), work, cores, heap_mb, event_dir)
    try:
        run.run()
    except workload.JvmDied as e:
        print(f"perfbench: the JVM died during {e}", file=sys.stderr)
    finally:
        run.stop_session()
        if args.trace and getattr(run, "tracer", None):
            run.tracer.dump(os.path.join(
                OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)

    units = workload.TRACE_UNITS if args.trace else workload.E2E_UNITS
    metrics = {name: {"value": run.metrics.get(name), "unit": unit}
               for name, unit in units.items()}
    complete = all(m["value"] is not None for m in metrics.values())
    t = run.tally
    print(f"# workload {args.workload} seed {args.seed} cores {cores} "
          f"shuffle_partitions {cores * 8} driver_heap {heap_mb}m "
          f"trace {args.trace}", file=out)
    for name, m in metrics.items():
        print(f"# {name} {m['value']} {m['unit']}", file=out)
    for what in t.mismatches:
        print(f"# check failed: {what}", file=out)
    print(json.dumps({"correct": complete and not t.mismatches,
                      "attempted": max(t.attempted, 1),
                      "failed": t.failed,
                      "metrics": metrics}), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
