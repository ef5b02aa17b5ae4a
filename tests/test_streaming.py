"""Batch/stream parity for the windowed event aggregation."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from geo_linked_open_data_kg_spark.streaming.events import (
    read_events_stream,
    run_available_now,
    windowed_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="kg_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_matches_batch(spark, tmpdir):
    import os
    src = f"{tmpdir}/events"
    os.makedirs(src)  # file source streams a DIRECTORY of files
    shutil.copy(f"{SF_DIR}/events.parquet", f"{src}/part-0.parquet")

    stream = read_events_stream(spark, src)
    assert stream.isStreaming
    agg = windowed_counts(stream)
    run_available_now(agg, "ev_win", f"{tmpdir}/ckpt")

    got = {tuple(r) for r in spark.sql("SELECT * FROM ev_win").collect()}
    batch = windowed_counts(
        spark.read.parquet(f"{SF_DIR}/events.parquet"))
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_session_window_builtin_matches_lag_based_batch(spark):
    """The built-in session_window groups events exactly like the
    lag+running-sum batch sessionization (queries.ev_sessionization)."""
    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark import queries as q
    from geo_linked_open_data_kg_spark.streaming.events import session_windows

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    sw = session_windows(events.withColumn(
        "ts", F.col("ts").cast("timestamp")))
    got = {(r["user_id"], str(r["session_start"])[:19], r["n_events"])
           for r in sw.collect()}
    lag = q.ev_sessionization(spark, "/root/testdata/sf0.001")
    want = {(r["user_id"], r["session_start"], r["n_events"])
            for r in lag.collect()}  # already 'yyyy-MM-dd HH:mm:ss'
    assert got == want and len(got) > 0


def _py_capped_sessions(rows, gap_s=1800, cap_s=14400):
    """Pure-Python reference for gap+cap sessionization."""
    from collections import defaultdict
    by_user = defaultdict(list)
    for u, t in rows:
        by_user[u].append(t)
    out = set()
    for u, ts in by_user.items():
        ts.sort()
        start = last = None
        n = 0
        for t in ts:
            if n == 0:
                start = last = t
                n = 1
            elif t - last > gap_s or t - start > cap_s:
                out.add((u, start, last, n))
                start = last = t
                n = 1
            else:
                last = t
                n += 1
        if n:
            out.add((u, start, last, n))
    return out


def test_capped_sessionization_batch_matches_python_reference(spark):
    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.streaming.events import (
        sessionize_capped_batch,
    )

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = {(r["user_id"],
            int(r["session_start"].timestamp()),
            int(r["session_end"].timestamp()),
            r["n_events"])
           for r in sessionize_capped_batch(events).collect()}
    rows = [(r["user_id"], int(r["ts_s"]))
            for r in events.select(
                "user_id",
                F.col("ts").cast("timestamp").cast("long").alias("ts_s"))
            .collect()]
    assert got == _py_capped_sessions(rows) and len(got) > 0
    # the duration cap must actually split at least one long session
    # (else the operator is indistinguishable from plain gap sessions)
    plain = _py_capped_sessions(rows, cap_s=10**12)
    assert len(got) >= len(plain)


def test_capped_sessionization_stream_matches_batch(spark, tmpdir):
    """applyInPandasWithState twin: sentinel far-future events per user
    close every real session deterministically within availableNow."""
    import os

    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.streaming.events import (
        EVENTS_SCHEMA,
        sessionize_capped_batch,
        sessionize_capped_stream,
        run_available_now,
    )

    events = spark.read.parquet(f"{SF_DIR}/events.parquet") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    sentinel_ts = events.agg(
        (F.max("ts").cast("long") + 864000).cast("timestamp")).first()[0]
    sentinels = (events.select("user_id").distinct()
                 .select(F.lit(-1).cast("long").alias("event_id"),
                         F.lit(sentinel_ts).alias("ts"), "user_id",
                         F.lit("sentinel").alias("event_type"),
                         F.lit(0.0).alias("value"),
                         F.lit(None).cast("string").alias("props")))
    aug = events.select([f.name for f in EVENTS_SCHEMA]).unionByName(sentinels)

    src = f"{tmpdir}/ev_caps"
    os.makedirs(src, exist_ok=True)
    aug.coalesce(1).write.mode("overwrite").parquet(src)

    from geo_linked_open_data_kg_spark.streaming.events import (
        read_events_stream,
    )
    stream = read_events_stream(spark, src)
    out = sessionize_capped_stream(stream)
    run_available_now(out, "ev_caps", f"{tmpdir}/ckpt2",
                      output_mode="append")
    got = {tuple(r) for r in spark.sql(
        "SELECT user_id, CAST(session_start AS LONG), "
        "CAST(session_end AS LONG), n_events FROM ev_caps "
        f"WHERE CAST(session_start AS LONG) < {int(sentinel_ts.timestamp())}"
    ).collect()}
    want = {(r["user_id"], int(r["session_start"].timestamp()),
             int(r["session_end"].timestamp()), r["n_events"])
            for r in sessionize_capped_batch(events).collect()}
    assert got == want and len(got) > 0


def test_capped_sessionization_two_batch_out_of_order(spark, tmpdir):
    """Cross-microbatch disorder (round-2 ADVICE): a second batch carries
    events older than the stored session state. The guard must (a) fold
    an in-session late event without moving bounds, (b) emit a
    beyond-gap late event as its own singleton, and (c) never produce
    session_end < session_start."""
    import os

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.streaming.events import (
        EVENTS_SCHEMA,
        read_events_stream,
        run_available_now,
        sessionize_capped_stream,
    )

    def _ev(eid, user, t):
        return Row(event_id=eid, ts=t, user_id=user, event_type="e",
                   value=0.0, props="p")

    def _write(rows, name):
        df = (spark.createDataFrame(rows)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withColumn("props", F.col("props").cast("string"))
              .select([f.name for f in EVENTS_SCHEMA]))
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/{name}")
        # file source wants files in ONE dir: move the part file up
        import glob
        import shutil as sh
        part = glob.glob(f"{src}/{name}/part-*.parquet")[0]
        sh.move(part, f"{src}/{name}.parquet")
        sh.rmtree(f"{src}/{name}")

    src = f"{tmpdir}/ooo"
    os.makedirs(src, exist_ok=True)

    def _run():
        # file sink (not memory): supports checkpoint recovery, so the
        # second availableNow run resumes the same state
        out = sessionize_capped_stream(read_events_stream(spark, src))
        q = (out.writeStream.format("parquet")
             .option("path", f"{tmpdir}/ooo_out")
             .option("checkpointLocation", f"{tmpdir}/ck_ooo")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    base = 100000
    _write([_ev(1, 1, base), _ev(2, 1, base + 100)], "b1")
    _run()
    # batch 2: in-session late (100050), beyond-gap late (95000; 5000s
    # older than session start > 1800s gap), and a far-future watermark
    # driver on another user to flush user 1's open session
    _write([_ev(3, 1, base + 50), _ev(4, 1, base - 5000),
            _ev(5, 99, base + 200000)], "b2")
    _run()

    got = [(r["user_id"], r["s"], r["e"], r["n_events"])
           for r in spark.read.parquet(f"{tmpdir}/ooo_out")
           .selectExpr("user_id", "CAST(session_start AS LONG) AS s",
                       "CAST(session_end AS LONG) AS e", "n_events")
           .collect()]
    u1 = sorted(t for t in got if t[0] == 1)
    assert u1 == [(1, base - 5000, base - 5000, 1),
                  (1, base, base + 100, 3)], got
    assert all(s <= e for _, s, e, _ in got)


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
