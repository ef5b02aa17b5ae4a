"""End-to-end training-data curation pipeline over the documents table.

    documents ──[1] quality verdicts (Gopher/C4 rules) ─┐
                [2] PII audit + scrub ──────────────────┤
                [3] near-dup groups → keeper decisions ─┤
                [4] benchmark decontamination ──────────┤
                [5] domain-mixture sampling ────────────┤
                                                        ▼
    [6] curated corpus (ONE text write, partitioned by source)
    [7] sequence packing  [8] funnel metrics table

This is the `run_pipeline` pattern (plans/pipeline.py) applied to the
LLM-data side of the engine: every stage is a pure DataFrame transform
checkpointed through CheckpointStore (resume skips completed stages;
_metrics/_lineage written per stage), and the composition is the
published pre-training recipe order — filter before dedup (dropped docs
never pay for shingling), dedup before decontamination (one keeper per
group is checked, not every member), sample last (so mixture fractions
apply to the CLEAN pool), pack last of all.

Scale shape — the design decision that matters at 100 TB: stages 1-5
materialize DECISION tables (verdicts, group memberships, contamination
flags, sampling buckets — all doc_id-keyed and narrow), never the
corpus text. The text is written exactly ONCE, at stage 6, after every
decision is in; a naive stage-per-copy layout would write the corpus
3-4 times. The scrubbed text the dedup/decontamination stages consume
is a localCheckpointed in-flight stream shared across consumers within
the run, not a persisted copy. Production target is Iceberg (snapshot
per stage); parquet paths keep the local harness catalog-free, same
protocol (checkpoint.py module doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_linked_open_data_kg_spark.operators.dedup import (
    decontaminate,
    duplicate_groups,
)
from geo_linked_open_data_kg_spark.operators.packing import sequence_packing
from geo_linked_open_data_kg_spark.operators.sampling import domain_mixture
from geo_linked_open_data_kg_spark.operators.textstats import (
    pii_stats,
    quality_filter,
    redact_pii,
)
from geo_linked_open_data_kg_spark.plans.checkpoint import CheckpointStore

# every CheckpointStore stage this pipeline writes, in funnel order —
# what a resume inspection or stage-table consumer should enumerate
STAGES = ["quality", "pii", "dup_groups", "contamination", "mixture",
          "mixture_audit", "curated", "sequences", "funnel"]


def run_curation_pipeline(spark: SparkSession, sf_dir: str, out_dir: str,
                          *,
                          documents: DataFrame | None = None,
                          eval_docs: DataFrame | None = None,
                          weights: dict[str, float] | None = None,
                          seed: str = "mix-v1",
                          budget: int = 512,
                          decontam_k: int = 5,
                          force: bool = False) -> dict[str, DataFrame]:
    """Run (or resume) the curation pipeline; returns the stage outputs.

    `documents` overrides the default `{sf_dir}/documents.parquet` scan
    (tests inject crafted corpora); it must carry (doc_id, text,
    source). `eval_docs` (doc_id, text) enables the decontamination
    stage — omitted, the stage records zero contaminated docs rather
    than silently skipping (no silent caps: the funnel always shows
    the stage ran). `weights` maps source -> keep fraction for the
    mixture stage (absent sources keep everything).
    """
    ckpt = CheckpointStore(out_dir)
    if documents is None:
        documents = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                     .select("doc_id", "text", "source"))

    quality = ckpt.get_or_compute(
        spark, "quality", lambda: quality_filter(documents), force=force)

    pii = ckpt.get_or_compute(
        spark, "pii", lambda: pii_stats(documents), force=force)

    # the in-flight scrubbed survivors every downstream stage consumes:
    # quality-kept docs with PII placeholders already substituted, so
    # dedup/decontamination/packing all observe the text that will ship
    # (two docs differing only in a redacted email ARE duplicates)
    kept = (documents
            .join(quality.where(F.col("keep")).select("doc_id"), "doc_id")
            .select("doc_id", "source",
                    redact_pii(F.col("text")).alias("text"))
            .localCheckpoint(eager=False))

    # CC convergence audit, same contract as the KG pipeline's
    # canonicalization stage: the stats duplicate_groups' CC returned
    cc_stats: dict = {}

    def _dup_groups() -> DataFrame:
        out, stats = duplicate_groups(kept)
        cc_stats.update(stats)
        return out

    dup_groups = ckpt.get_or_compute(
        spark, "dup_groups", _dup_groups, force=force,
        extra_metrics_fn=lambda: [
            ("cc_rounds_run", cc_stats.get("rounds_run", -1)),
            ("cc_converged", int(cc_stats.get("converged", False)))])

    # dedup survivors (keepers + singletons) — the docstring's "dedup
    # before decontamination": only these pay for contamination
    # shingling, so the stage cost never multiplies by the duplication
    # factor, and the funnel's contaminated count can't double-count a
    # doc that dedup already dropped (review findings 6 + 10)
    dropped_dups = dup_groups.where(~F.col("is_keeper")).select("doc_id")
    dedup_survivors = kept.join(dropped_dups, "doc_id", "left_anti")

    def _contamination() -> DataFrame:
        if eval_docs is None:
            return spark.createDataFrame(
                [], "doc_id long, n_shared_shingles int, n_eval_docs int")
        return decontaminate(dedup_survivors, eval_docs, k=decontam_k)

    contamination = ckpt.get_or_compute(
        spark, "contamination", _contamination, force=force)

    clean = dedup_survivors.join(
        contamination.select("doc_id"), "doc_id", "left_anti")

    mixture = ckpt.get_or_compute(
        spark, "mixture",
        lambda: domain_mixture(clean, weights or {}, seed=seed),
        force=force)

    curated = ckpt.get_or_compute(
        spark, "curated",
        lambda: clean.join(mixture.select("doc_id"), "doc_id"),
        partition_by=["source"], force=force)

    mixture_audit = ckpt.get_or_compute(
        spark, "mixture_audit",
        lambda: _mixture_audit(spark, clean, curated, weights or {}),
        force=force)

    sequences = ckpt.get_or_compute(
        spark, "sequences",
        lambda: sequence_packing(curated, budget=budget), force=force)

    funnel = ckpt.get_or_compute(
        spark, "funnel",
        lambda: _funnel_table(documents, quality, dup_groups,
                              contamination, curated, sequences),
        force=force)

    return {"quality": quality, "pii": pii, "dup_groups": dup_groups,
            "contamination": contamination, "mixture": mixture,
            "mixture_audit": mixture_audit,
            "curated": curated, "sequences": sequences, "funnel": funnel}


def _mixture_audit(spark: SparkSession, clean: DataFrame,
                   curated: DataFrame,
                   weights: dict[str, float]) -> DataFrame:
    """Per-source REQUESTED vs ACHIEVED mixture — the mixture stage asks
    for keep fractions; nothing else reports what actually shipped ("no
    silent caps" applied to sampling). Output per source: pool size
    (post-clean, what the fraction applies to), kept docs, kept tokens,
    requested_fraction (1.0 for unlisted sources = keep-all sentinel),
    achieved_fraction (kept/pool, 4dp). Hash-threshold sampling is
    content-addressed, so achieved tracks requested to binomial noise —
    a big gap means a skewed doc-id/source distribution worth seeing."""
    from geo_linked_open_data_kg_spark.operators.textstats import tokens

    pool = clean.groupBy("source").agg(F.count("*").alias("n_pool"))
    kept = (curated
            .groupBy("source")
            .agg(F.count("*").alias("n_kept"),
                 F.sum(F.size(tokens(F.col("text")))).alias("n_tokens")))
    req = spark.createDataFrame(
        [(s, float(f)) for s, f in weights.items()] or
        [("", -1.0)],  # dummy row: createDataFrame needs a schema carrier
        "source string, requested_fraction double")
    return (pool.join(kept, "source", "left")
            .join(F.broadcast(req.where(F.col("requested_fraction") >= 0)),
                  "source", "left")
            .select("source", "n_pool",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("requested_fraction", F.lit(1.0))
                    .alias("requested_fraction"),
                    F.round(F.coalesce("n_kept", F.lit(0))
                            / F.greatest("n_pool", F.lit(1)), 4)
                    .alias("achieved_fraction"))
            .orderBy("source"))


def _funnel_table(documents: DataFrame, quality: DataFrame,
                  dup_groups: DataFrame, contamination: DataFrame,
                  curated: DataFrame, sequences: DataFrame) -> DataFrame:
    """One queryable row per funnel step: docs entering, surviving and
    dropped at each stage, plus per-rule quality drop counts — the
    pipeline's own "no silent caps" audit. Every input except
    `documents` is an already-checkpointed decision table, so this is
    counts over materialized parquet, not corpus recomputation."""
    per_rule = (quality.where(~F.col("keep"))
                .select(F.explode(F.split(F.col("reasons"), ","))
                        .alias("rule"))
                .groupBy("rule").agg(F.count("*").alias("value"))
                .select(F.concat(F.lit("quality_drop:"),
                                 F.col("rule")).alias("step"), "value"))
    scalars = [
        ("docs_in", documents.count()),
        ("quality_kept", quality.where(F.col("keep")).count()),
        ("dup_members_dropped",
         dup_groups.where(~F.col("is_keeper")).count()),
        ("contaminated_dropped", contamination.count()),
        ("curated_docs", curated.count()),
    ]
    # one job for both sequence metrics (round 6 — the old shape ran
    # two separate 1-row aggregates over the same table)
    seq_row = sequences.agg(
        F.countDistinct("seq_id").alias("s"),
        F.sum("n_tokens").alias("t")).collect()[0]
    scalars.append(("sequences_packed", seq_row["s"] or 0))
    scalars.append(("tokens_packed", seq_row["t"] or 0))
    scalar_df = documents.sparkSession.createDataFrame(
        [(s, int(v)) for s, v in scalars], "step string, value long")
    return scalar_df.unionByName(per_rule)


def merge_curation_batch(spark: SparkSession, new_docs: DataFrame,
                         store: CheckpointStore) -> dict[str, DataFrame]:
    """Periodic dedup compaction for the filter-at-ingest stream.

    `stream_curate_documents` (streaming/documents.py) applies every
    PER-DOCUMENT curation stage at ingest but deliberately defers
    cross-document dedup to a batch job — this is that job. It folds a
    new batch of already-ingest-filtered docs (doc_id, text; append-only
    doc_ids) into the durable signature store and group table:

      sig_state   (doc_id, quality, mh_0..mh_11)  — merge-upserted
      sig_groups  (group_id, doc_id, is_keeper, n_members) — refreshed

    using operators/incremental_dedup.py, so compaction cost is
    O(new batch + signature store), never O(corpus text). Returns the
    updated groups plus the current non-keeper doc_ids ("dropped") —
    note a new higher-quality near-dup can RETROACTIVELY demote an old
    keeper, so callers reconcile the curated set against `dropped`
    after every compaction rather than treating past keeps as final.
    """
    from geo_linked_open_data_kg_spark.operators.incremental_dedup import (
        incremental_dup_groups,
        signature_dup_groups,
        signature_dup_state,
    )
    new_state = signature_dup_state(
        new_docs.select("doc_id", "text")).localCheckpoint()
    if store.exists("sig_state"):
        # anti-join the batch out of the prior state: a REPLAYED batch
        # (crash after the sig_state upsert, retry) would otherwise be
        # present on both sides of the union and double-count every
        # member join downstream — this makes the whole job idempotent
        prior_state = (store.read(spark, "sig_state")
                       .join(new_state.select("doc_id"), "doc_id",
                             "left_anti"))
        if store.exists("sig_groups"):
            groups = incremental_dup_groups(
                new_state, prior_state, store.read(spark, "sig_groups"))
        else:
            # interrupted before ANY group commit: every signature is
            # still present, so rebuild groups from scratch (state is
            # O(docs); no text is re-read)
            groups = signature_dup_groups(
                prior_state.unionByName(new_state))
    else:
        groups = signature_dup_groups(new_state)
    # pin before the upserts below: the incremental plan READS the very
    # stage tables the upserts replace (merge_upsert shadow-writes, but
    # the returned handle must not lazily re-read swapped paths either)
    groups = groups.localCheckpoint()
    store.merge_upsert(new_state, "sig_state", keys=["doc_id"])
    store.merge_upsert(groups, "sig_groups", keys=["doc_id"])
    return {"groups": groups,
            "dropped": groups.where(~F.col("is_keeper"))
                             .select("doc_id", "group_id")}
