"""Spans, Spark job accounting and process counters for the traced run.

Everything here is recorded from the benchmark's side of the public entry
points: spans wrap calls into the package, each span owns one Spark job
group (job groups are thread-local, so the pipeline's concurrent stage
chains stay apart), job/stage/task counts come from the status tracker,
and shuffle/spill bytes come from the Spark event log written at launch.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"
_JOB_DESC = "spark.job.description"


class Tracer:
    """In-memory spans: name, start, end, parent span, thread and run id.

    A span opened on a thread with no open span of its own nests under
    `root`, so stage spans opened by the pipeline's worker threads hang
    off the enclosing `run_pipeline` span."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._t0 = time.perf_counter()

    def group(self, span: dict) -> str:
        return f"perfbench-{self.run_id}-{span['id']}"

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": stack[-1]["id"] if stack else self.root,
               "thread": threading.current_thread().name, **attrs}
        prev = (self.sc.getLocalProperty(_JOB_GROUP),
                self.sc.getLocalProperty(_JOB_DESC))
        self.sc.setJobGroup(self.group(rec), name)
        stack.append(rec)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()
            self.sc.setLocalProperty(_JOB_GROUP, prev[0])
            self.sc.setLocalProperty(_JOB_DESC, prev[1])
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def root_span(self, name: str, **attrs):
        with self.span(name, **attrs) as rec:
            self.root = rec["id"]
            try:
                yield rec
            finally:
                self.root = None

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), fh,
                      indent=1)


def check_nesting(spans: list[dict]) -> list[str]:
    """Problems with the span tree: unknown parents, or children that
    start before or end after their parent."""
    by_id = {s["id"]: s for s in spans}
    problems = []
    for s in spans:
        p = s["parent"]
        if p is None:
            continue
        if p not in by_id:
            problems.append(f"span {s['name']} has unknown parent {p}")
        elif s["start"] < by_id[p]["start"] or s["end"] > by_id[p]["end"]:
            problems.append(f"span {s['name']} leaves its parent "
                            f"{by_id[p]['name']}")
    return problems


def job_counts(sc, groups: list[str]) -> dict:
    """Jobs, stages run and tasks completed for the union of job groups,
    from the status tracker."""
    st = sc.statusTracker()
    jobs = set()
    for g in groups:
        jobs.update(st.getJobIdsForGroup(g))
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = ran = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


def ungrouped_jobs(sc) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup(None))


def event_log_bytes(log_dir: str) -> dict[str, dict[str, int]]:
    """Shuffle-write and spill bytes per job group, summed over the
    completed stages of every job in the group, from the (uncompressed)
    event log of the one application in `log_dir`."""
    group_of_stage: dict[int, str] = {}
    totals: dict[str, dict[str, int]] = defaultdict(
        lambda: {"shuffle_write_bytes": 0, "spill_bytes": 0})
    # Spark 4 writes a rolling log: a directory of events_<n>_* files
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir)
                   for n in names
                   if not n.startswith((".", "appstatus")))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_JOB_GROUP)
                    for sid in ev.get("Stage IDs", []):
                        group_of_stage.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = group_of_stage.get(info["Stage ID"])
                    if group is None:
                        continue
                    acc = {a.get("Name"): int(a.get("Value", 0))
                           for a in info.get("Accumulables", [])
                           if str(a.get("Value", "")).lstrip("-").isdigit()}
                    t = totals[group]
                    t["shuffle_write_bytes"] += acc.get(
                        "internal.metrics.shuffle.write.bytesWritten", 0)
                    t["spill_bytes"] += (
                        acc.get("internal.metrics.memoryBytesSpilled", 0)
                        + acc.get("internal.metrics.diskBytesSpilled", 0))
    return totals


# --- the driver's process tree, read from /proc -------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """`root` and all of its descendants."""
    root = root or os.getpid()
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children[int(st[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) of the tree."""
    total = 0
    for pid in process_tree():
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in process_tree():
        st = _stat(pid)
        if st is not None:
            total += int(st[21])
    return total * _PAGE / 2**20


class RssSampler:
    """Samples the process tree's resident memory in a daemon thread."""

    def __init__(self, every_s: float = 0.25):
        self.peak_mb = 0.0
        self._every = every_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self._every)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
