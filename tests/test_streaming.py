"""Batch/stream parity for incremental document ingest: mention
detection, the linking cascade and per-document curation."""

from __future__ import annotations

import shutil
import tempfile

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="kg_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_mention_detection_matches_batch(spark, tmpdir):
    """Incremental corpus ingest: two document drops through
    foreachBatch detection must equal one batch detection over the full
    corpus, with exactly-once per input file across two availableNow
    runs sharing a checkpoint."""
    import os

    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.operators.mentions import (
        detect_mentions,
    )
    from geo_linked_open_data_kg_spark.sources.registry import load
    from geo_linked_open_data_kg_spark.streaming.documents import (
        read_documents_stream,
        stream_detect_mentions,
    )

    docs = load(spark, SF_DIR, "geo_documents")
    places = load(spark, SF_DIR, "places").cache()
    half_a = docs.where(F.crc32(F.col("doc_id")) % 2 == 0)
    half_b = docs.where(F.crc32(F.col("doc_id")) % 2 == 1)

    src = f"{tmpdir}/docs_stream"
    out = f"{tmpdir}/mentions_out"
    os.makedirs(src, exist_ok=True)

    def drop(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/{name}")
        import glob
        import shutil as sh
        part = glob.glob(f"{tmpdir}/{name}/part-*.parquet")[0]
        sh.move(part, f"{src}/{name}.parquet")
        sh.rmtree(f"{tmpdir}/{name}")

    drop(half_a, "drop_a")
    stream_detect_mentions(read_documents_stream(spark, src), places,
                           out, f"{tmpdir}/ck_docs")
    drop(half_b, "drop_b")
    stream_detect_mentions(read_documents_stream(spark, src), places,
                           out, f"{tmpdir}/ck_docs")

    sink = spark.read.parquet(out)
    got = {tuple(r) for r in sink.drop("_batch_id").collect()}
    want = {tuple(r) for r in detect_mentions(docs, places).collect()}
    assert got == want and len(got) > 0
    # idempotent sink: one partition per micro-batch, ids distinct across
    # the two availableNow runs (a retried batch would overwrite its own
    # partition, not append)
    assert sink.select("_batch_id").distinct().count() >= 2


def test_stream_linking_cascade_matches_batch_with_pinned_stoplist(
        spark, tmpdir):
    """Incremental LINKING (VERDICT r3 item 5): two document drops
    through the full scored cascade with the stoplist snapshotted at
    stream start must equal one batch run over the full corpus with the
    same pinned stoplist — the snapshot freeze makes linking
    per-document, so drop order cannot change any candidate, score, or
    rank."""
    import os

    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.operators.linking import (
        link_mentions,
        snapshot_stop_surfaces,
    )
    from geo_linked_open_data_kg_spark.sources.registry import load
    from geo_linked_open_data_kg_spark.streaming.documents import (
        read_documents_stream,
        stream_link_mentions,
    )

    docs = load(spark, SF_DIR, "geo_documents")
    places = load(spark, SF_DIR, "places").cache()
    stop = snapshot_stop_surfaces(docs, places).cache()
    half_a = docs.where(F.crc32(F.col("doc_id")) % 2 == 0)
    half_b = docs.where(F.crc32(F.col("doc_id")) % 2 == 1)

    src = f"{tmpdir}/docs_link_stream"
    out = f"{tmpdir}/linked_out"
    os.makedirs(src, exist_ok=True)

    def drop(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/{name}")
        import glob
        import shutil as sh
        part = glob.glob(f"{tmpdir}/{name}/part-*.parquet")[0]
        sh.move(part, f"{src}/{name}.parquet")
        sh.rmtree(f"{tmpdir}/{name}")

    drop(half_a, "ldrop_a")
    stream_link_mentions(read_documents_stream(spark, src), places, stop,
                         out, f"{tmpdir}/ck_link")
    drop(half_b, "ldrop_b")
    stream_link_mentions(read_documents_stream(spark, src), places, stop,
                         out, f"{tmpdir}/ck_link")

    got = {tuple(r) for r in
           spark.read.parquet(out).drop("_batch_id").collect()}
    want = {tuple(r) for r in
            link_mentions(docs, places, stop_surfaces=stop).collect()}
    assert got == want and len(got) > 0


def test_stream_curation_matches_batch_per_doc_stages(spark, tmpdir):
    """Filter-at-ingest parity: two corpus drops through the streaming
    curation stages (quality + scrub + pinned-eval decontamination +
    mixture) must equal one batch pass over the full corpus — every
    included decision is per-document, so drop order cannot change any
    verdict, redaction, contamination flag or sampling bucket."""
    import glob
    import os
    import shutil as sh

    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.operators.dedup import decontaminate
    from geo_linked_open_data_kg_spark.operators.sampling import (
        domain_mixture,
    )
    from geo_linked_open_data_kg_spark.operators.textstats import (
        quality_filter,
        redact_pii,
    )
    from geo_linked_open_data_kg_spark.streaming.documents import (
        read_corpus_stream,
        stream_curate_documents,
    )

    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text", "source").cache())
    eval_docs = (docs.orderBy("doc_id").limit(3)
                 .select((F.col("doc_id") + 900000000).alias("doc_id"),
                         "text").cache())
    weights = {"web": 0.5}

    src = f"{tmpdir}/corpus_stream"
    out = f"{tmpdir}/curated_out"
    os.makedirs(src, exist_ok=True)

    def drop(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/{name}")
        part = glob.glob(f"{tmpdir}/{name}/part-*.parquet")[0]
        sh.move(part, f"{src}/{name}.parquet")
        sh.rmtree(f"{tmpdir}/{name}")

    drop(docs.where(F.crc32(F.col("doc_id").cast("string")) % 2 == 0),
         "cdrop_a")
    stream_curate_documents(read_corpus_stream(spark, src), out,
                            f"{tmpdir}/ck_cur", eval_docs=eval_docs,
                            weights=weights)
    drop(docs.where(F.crc32(F.col("doc_id").cast("string")) % 2 == 1),
         "cdrop_b")
    stream_curate_documents(read_corpus_stream(spark, src), out,
                            f"{tmpdir}/ck_cur", eval_docs=eval_docs,
                            weights=weights)

    got = {tuple(r) for r in
           spark.read.parquet(out).drop("_batch_id")
           .select("doc_id", "source", "text").collect()}

    kept = (docs.join(quality_filter(docs).where(F.col("keep"))
                      .select("doc_id"), "doc_id")
            .select("doc_id", "source",
                    redact_pii(F.col("text")).alias("text")))
    kept = kept.join(decontaminate(kept, eval_docs).select("doc_id"),
                     "doc_id", "left_anti")
    want = {tuple(r) for r in
            kept.join(domain_mixture(kept, weights).select("doc_id"),
                      "doc_id")
            .select("doc_id", "source", "text").collect()}
    assert got == want and len(got) > 0
    # the planted eval overlap is non-vacuous: its 3 source docs were
    # quality-kept or not, but any kept one must have been dropped
    dropped_contam = (docs.join(quality_filter(docs)
                                .where(F.col("keep")).select("doc_id"),
                                "doc_id").count()
                      - kept.count())
    assert dropped_contam >= 1, "decontamination stage never fired"
