"""Per-stage checkpoint tables with metrics + per-partition lineage.

Replaces the reference's JSON resume-state files
(create_admin_hierarchies_robust.py:40-50,453-461) and its reliance on
MERGE idempotency: each pipeline stage writes its output once to a
checkpoint table; a re-run skips stages whose checkpoint exists
(_SUCCESS marker semantics come free with Spark's parquet committer).

A stage commit costs one Spark job, the data write (plus one per-pred
count for a triple table not partitioned by pred): its row count, its
per-task lineage and (for a pred-partitioned table) its per-pred triple
counts are read from the written files' parquet footers and directory
names on the driver, and the small `_lineage`/`_metrics` tables are
written with pyarrow. Build time at small inputs is bound by per-job
latency, so a commit that re-scanned its output would cost more than
the stage's own write.

Production target is Iceberg (snapshot commit per stage, MERGE INTO for
incremental re-runs); this module uses plain parquet paths so the local
harness has no catalog dependency — the stage protocol is identical.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

# the directory value Spark writes for a null partition column
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# the characters Spark %XX-escapes in a partition directory value
_HIVE_ESCAPED = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list("\"#%'*/:=?[\\]^{\x7f"))


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root

    def path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def exists(self, stage: str) -> bool:
        self._recover(stage)
        return os.path.exists(os.path.join(self.path(stage), "_SUCCESS"))

    def _recover(self, stage: str) -> None:
        """Crash recovery for merge_upsert's promote. The promote is a
        two-phase commit over the three stage subs (data, _lineage,
        _metrics): a `<stage>__commit` marker is created atomically
        AFTER all shadows are written and removed after all swaps — so a
        crash anywhere leaves either no marker (roll BACK: restore any
        half-swapped sub from `__old`, discard uncommitted shadows) or
        the marker (roll FORWARD: finish every remaining swap). Either
        way data, lineage and metrics always describe the SAME snapshot
        (round-4 ADVICE: the old per-sub swap could strand lineage and
        data on different merges)."""
        if os.path.exists(self._marker(stage)):
            self._promote(stage)
            return
        for sub in ("", "_lineage", "_metrics"):
            dst = os.path.join(self.root, sub, stage)
            old = dst + "__old"
            if os.path.exists(old):
                if not os.path.exists(dst):
                    os.replace(old, dst)
                else:
                    shutil.rmtree(old, ignore_errors=True)
            # a shadow without the commit marker is an uncommitted merge
            shutil.rmtree(os.path.join(self.root, sub,
                                       f"{stage}__merge_tmp"),
                          ignore_errors=True)

    def _marker(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}__commit")

    def _promote(self, stage: str) -> None:
        """Swap every written shadow sub into place, then clear the
        commit marker. Idempotent: a sub whose shadow is already gone
        was swapped before the crash and is skipped."""
        for sub in ("", "_lineage", "_metrics"):
            src = os.path.join(self.root, sub, f"{stage}__merge_tmp")
            dst = os.path.join(self.root, sub, stage)
            old = dst + "__old"
            if os.path.exists(src):
                shutil.rmtree(old, ignore_errors=True)
                if os.path.exists(dst):
                    os.replace(dst, old)
                os.replace(src, dst)
            shutil.rmtree(old, ignore_errors=True)
        os.remove(self._marker(stage))

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(self.path(stage))

    def write(self, df: DataFrame, stage: str,
              partition_by: list[str] | None = None,
              label: str | None = None,
              extra_metrics: list[tuple[str, int]] | None = None
              ) -> DataFrame:
        """Write stage output + lineage (per-write-task row counts) +
        metrics (total rows, and triple counts per pred if present), and
        return the written table.

        The data write is the commit's only Spark job, except that an
        output with a `pred` column it is not partitioned by needs one
        `groupBy("pred").count()` over the written files. Everything
        else is read on the driver: row counts from the parquet footers
        (a part file's name carries the id of the task that wrote it,
        which is the lineage `partition_id`), per-pred counts of a
        pred-partitioned output from its `pred=` directories, and the
        returned table re-reads the files with the schema `df` already
        has, so no schema-inference job runs. `_lineage` and `_metrics`
        are written with pyarrow.

        `label` overrides the stage name recorded IN lineage/metrics rows
        (used by merge_upsert's shadow write). `extra_metrics` appends
        caller-supplied (metric, value) rows — e.g. the CC convergence
        audit (the stats canonicalize.connected_components returns)."""
        label = label or stage
        path = self.path(stage)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        out = df.sparkSession.read.schema(df.schema).parquet(path)

        files = _part_files(path)
        lineage: Counter = Counter()
        for rel, n in files:
            lineage[int(os.path.basename(rel).split("-")[1])] += n
        per_pred: Counter = Counter()
        if "pred" in (partition_by or []):
            for rel, n in files:
                per_pred[_partition_value(rel, "pred")] += n
        elif "pred" in df.columns:
            per_pred.update(dict(out.groupBy("pred").count().collect()))
        metrics = [("n_rows", lineage.total())]
        metrics += [(None if p is None else f"n_triples:{p}", n)
                    for p, n in sorted(per_pred.items(),
                                       key=lambda kv: kv[0] or "")]
        metrics += [(m, int(v)) for m, v in extra_metrics or []]

        pids = sorted(p for p, n in lineage.items() if n)
        self._write_table("_lineage", stage, pa.table({
            "partition_id": pa.array(pids, pa.int32()),
            "n_rows": pa.array([lineage[p] for p in pids], pa.int64()),
            "stage": pa.array([label] * len(pids), pa.string())}))
        self._write_table("_metrics", stage, pa.table({
            "stage": pa.array([label] * len(metrics), pa.string()),
            "metric": pa.array([m for m, _ in metrics], pa.string()),
            "value": pa.array([v for _, v in metrics], pa.int64())}))
        return out

    def _write_table(self, sub: str, stage: str, table: pa.Table) -> None:
        d = os.path.join(self.root, sub, stage)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))

    def get_or_compute(self, spark: SparkSession, stage: str, compute,
                       partition_by: list[str] | None = None,
                       force: bool = False,
                       extra_metrics_fn=None) -> DataFrame:
        """`extra_metrics_fn` (no-arg -> [(metric, value), ...]) is
        invoked AFTER compute() so it can report stats of the
        computation itself (e.g. CC rounds); skipped on checkpoint
        reuse, when nothing was computed."""
        if not force and self.exists(stage):
            return self.read(spark, stage)
        df = compute()
        extra = extra_metrics_fn() if extra_metrics_fn is not None else None
        return self.write(df, stage, partition_by, extra_metrics=extra)

    def merge_upsert(self, df: DataFrame, stage: str, keys: list[str],
                     partition_by: list[str] | None = None) -> DataFrame:
        """Keyed MERGE-INTO semantics for incremental re-runs (SURVEY
        §1.1 K1: the reference leans on Neo4j MERGE upserts; the
        production target is Iceberg MERGE INTO): every existing row
        whose key appears in `df` is replaced by the new rows for that
        key, unmatched existing rows are kept, new keys are inserted.

        Because the merge plan READS the stage it replaces, the result
        is written to a shadow directory first and swapped in via a
        marker-fenced two-phase promote: all three shadow subs (data,
        _lineage, _metrics) are written, a `<stage>__commit` marker is
        created (the commit point), every sub is swapped
        (current -> __old, shadow -> current), the marker is removed.
        _recover() on the next exists() call rolls an interrupted
        promote FORWARD past the marker and BACK before it, so the
        three subs can never straddle two merges. Local-FS os.replace
        is used because CheckpointStore's stage protocol is path-based
        local parquet by design (module docstring: the production
        target is Iceberg MERGE INTO, where the snapshot commit
        replaces this dance entirely)."""
        spark = df.sparkSession
        if self.exists(stage):
            changed = df.select(*keys).distinct()
            merged = (self.read(spark, stage)
                      .join(changed, keys, "left_anti")
                      .unionByName(df)
                      # the using-join moves the key columns first; pin
                      # the incoming schema order so the durable table's
                      # column order never drifts across merges
                      .select(*df.columns))
        else:
            merged = df
        shadow = f"{stage}__merge_tmp"
        self.write(merged, shadow, partition_by, label=stage)
        with open(self._marker(stage), "w") as fh:
            fh.write("promote\n")
        self._promote(stage)
        return self.read(spark, stage)


def _part_files(path: str) -> list[tuple[str, int]]:
    """(path relative to `path`, row count from its footer) of every
    parquet part file a Spark write committed under `path`."""
    out = []
    for d, subs, names in os.walk(path):
        subs[:] = [s for s in subs if not s.startswith(("_", "."))]
        for n in names:
            if n.startswith("part-"):
                f = os.path.join(d, n)
                out.append((os.path.relpath(f, path),
                            pq.read_metadata(f).num_rows))
    return out


def _partition_value(rel: str, col: str) -> str | None:
    """The value of partition column `col` in a part file's relative
    path (`col=<value>/...`), unescaped the way Spark escapes it."""
    for part in rel.split(os.sep)[:-1]:
        key, _, value = part.partition("=")
        if key == col:
            return None if value == _HIVE_NULL else unquote(value)
    raise ValueError(f"no {col}= directory in {rel}")


def partition_dir(col: str, value: str | None) -> str:
    """The directory `col=<value>` Spark writes for partition value
    `value`, escaped the way Spark escapes it (the inverse of
    `_partition_value`)."""
    if not value:
        return f"{col}={_HIVE_NULL}"
    return col + "=" + "".join(f"%{ord(ch):02X}" if ch in _HIVE_ESCAPED
                               else ch for ch in value)
