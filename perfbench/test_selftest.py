"""Self-test of the benchmark. From the checkout root:

    python3 -m pytest perfbench/test_selftest.py -q

The spec and input tests take seconds. The last test runs every workload
once per trace mode at its real (smallest) size, one Spark session at a
time: about five minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import tracing  # noqa: E402
import workload  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_benchmark_json_matches_the_metrics_printed():
    assert sorted(w["name"] for w in SPEC["workloads"]) == \
        sorted(workload.WORKLOADS)
    for key, units in (("end_to_end", workload.E2E_UNITS),
                       ("per_layer", workload.TRACE_UNITS)):
        assert {m["name"]: m["unit"] for m in SPEC[key]} == units


@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_seed_42_inputs_equal_committed_synthdata(sf):
    committed = os.path.join(ROOT, "synthdata", f"sf{sf}")
    if not os.path.isdir(committed):
        pytest.skip("no committed synthdata in this checkout")
    root = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    try:
        made = workload.generate_inputs(root, sf, 42)
        names = sorted(n for n in os.listdir(committed)
                       # computed from driver-provided embeddings, not
                       # from the seed; the pipeline does not read it
                       if n != "kmeans_centroids.parquet")
        assert sorted(os.listdir(made)) == names
        for n in names:
            assert pq.read_table(os.path.join(made, n)).equals(
                pq.read_table(os.path.join(committed, n))), n
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", sorted(workload.WORKLOADS))
def test_workload_prints_every_metric(name, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name,
         "--seed", "42", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, p.stdout
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)), m["name"]
        assert f"# {m['name']} " in p.stdout
    if not trace:
        return

    spans_file = os.path.join(ROOT, ".perfbench_out",
                              f"spans-{name}-seed42.json")
    with open(spans_file) as fh:
        spans = json.load(fh)
    assert tracing.check_nesting(spans) == []
    by_id = {s["id"]: s for s in spans}
    stages = [s for s in spans if s["name"].startswith("stage.")]
    commits = [s for s in spans if s["name"].startswith("commit.")]
    assert sorted(s["stage"] for s in stages) == sorted(workload.STAGES)
    assert all(by_id[s["parent"]]["name"] == "run_pipeline" for s in stages)
    assert all(by_id[c["parent"]]["name"] == f"stage.{c['stage']}"
               for c in commits)
    assert len({s["thread"] for s in stages}) > 1   # the concurrent chains
    share = result["metrics"]["pipeline.critical_path_share"]["value"]
    assert 0.9 <= share <= 1.1
