"""Truth-based P/R for mention detection + entity linking (stages 1-2),
plus the per-row span-sequence invariant from BASELINE.json input_hint.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geo_linked_open_data_kg_spark.fixtures.generate import synth_dir_for
from geo_linked_open_data_kg_spark.operators.linking import link_mentions

D = synth_dir_for("sf0.001")


@pytest.fixture(scope="module")
def data(spark):
    docs = spark.read.parquet(f"{D}/geo_documents.parquet").cache()
    places = spark.read.parquet(f"{D}/places.parquet").cache()
    truth = spark.read.parquet(f"{D}/mention_truth.parquet").cache()
    linked = link_mentions(docs, places).cache()
    linked.count()
    return docs, places, truth, linked


def test_candidate_recall_ge_95(data):
    _, _, truth, linked = data
    t = truth.where(F.col("geoname_id").isNotNull())
    hit = (linked.select("doc_id", "span_offset",
                         F.col("geoname_id").alias("gid")).distinct())
    nt = t.count()
    nh = t.join(hit, (t.doc_id == hit.doc_id)
                & (t.span_offset == hit.span_offset)
                & (t.geoname_id == hit.gid), "left_semi").count()
    assert nh / nt >= 0.95, f"recall {nh}/{nt}"


def test_occurrence_precision_ge_95(data):
    _, _, truth, linked = data
    det = linked.select("doc_id", "span_offset", "start",
                        "mention_text").distinct()
    tm = truth.select("doc_id", "span_offset",
                      F.lower(F.col("mention_text")).alias("mt")).distinct()
    p = det.join(tm, (det.doc_id == tm.doc_id)
                 & (det.span_offset == tm.span_offset)
                 & (F.lower(det.mention_text) == tm.mt), "left_semi").count()
    nd = det.count()
    assert p / nd >= 0.95, f"precision {p}/{nd}"


def test_exact_and_case_variants_fully_recalled(data):
    _, _, truth, linked = data
    t = truth.where(F.col("geoname_id").isNotNull()
                    & F.col("variant").isin("exact", "case"))
    hit = (linked.select("doc_id", "span_offset",
                         F.col("geoname_id").alias("gid")).distinct())
    nt = t.count()
    nh = t.join(hit, (t.doc_id == hit.doc_id)
                & (t.span_offset == hit.span_offset)
                & (t.geoname_id == hit.gid), "left_semi").count()
    assert nh == nt, f"exact/case recall {nh}/{nt} should be 1.0"


def test_span_sequence_invariant(spark, data):
    """Documents pass through the mention stage unchanged: per-doc span
    sequence (kind, text, media_ref, order) is preserved, media spans
    untouched. The stage reads docs and emits a side table; this asserts
    the document table that continues down the pipeline is bit-identical.
    """
    docs, _, _, _ = data
    # the pipeline's document pass-through (repartition = the only physical
    # change any stage applies to the corpus)
    out = docs.repartition(8, "doc_id")
    a = docs.select(
        "doc_id",
        F.to_json(F.col("spans")).alias("sig"))
    b = out.select(
        "doc_id",
        F.to_json(F.col("spans")).alias("sig"))
    assert a.join(b, ["doc_id", "sig"], "left_anti").count() == 0
    assert b.join(a, ["doc_id", "sig"], "left_anti").count() == 0
    # media refs survive with order intact
    m_in = (docs.select(F.explode("spans").alias("s"))
            .where(F.col("s.kind") == "media")
            .agg(F.count("*"), F.sum("s.offset")).collect()[0])
    m_out = (out.select(F.explode("spans").alias("s"))
             .where(F.col("s.kind") == "media")
             .agg(F.count("*"), F.sum("s.offset")).collect()[0])
    assert tuple(m_in) == tuple(m_out)


def test_historical_strategy_present_and_gated(data):
    """reconcile.py:197-235,305-317: historical candidates (PPLH/PPLQ/PPLW
    feature code or dissolved_date) link at confidence 0.9 under
    strategy='historical'; non-historical candidates never do."""
    _, places, _, linked = data
    hist = linked.where(F.col("strategy") == "historical")
    assert hist.count() > 0, "historical strategy is vacuous on fixtures"
    assert hist.where(F.col("confidence") != 0.9).count() == 0
    # every historical-linked candidate really is a historical place
    not_hist_places = places.where(
        ~F.col("feature_code").isin("PPLH", "PPLQ", "PPLW")
        & F.col("dissolved_date").isNull())
    assert hist.join(not_hist_places, "geoname_id", "left_semi").count() == 0


def test_fuzzy_count_gate_cascade_order(data):
    """reconcile.py:319-333 fidelity: fuzzy runs for occurrences with
    FEWER THAN 5 exact candidates (not only zero), and its candidates
    append AFTER the exact ones in cascade order — every fuzzy rank for
    a mixed occurrence exceeds every exact rank, no gid repeats within
    an occurrence (seen_ids), and no occurrence with >=5 exact
    candidates has fuzzy rows."""
    _, _, _, linked = data
    occ = linked.groupBy("doc_id", "span_offset", "start", "n").agg(
        F.sum(F.when(F.col("strategy") == "fuzzy", 1).otherwise(0))
        .alias("nf"),
        F.sum(F.when(F.col("strategy") != "fuzzy", 1).otherwise(0))
        .alias("ne"),
        F.min(F.when(F.col("strategy") == "fuzzy", F.col("rank")))
        .alias("min_fr"),
        F.max(F.when(F.col("strategy") != "fuzzy", F.col("rank")))
        .alias("max_er"),
        F.count("*").alias("n_rows"),
        F.countDistinct("geoname_id").alias("n_gids"))
    both = occ.where((F.col("nf") > 0) & (F.col("ne") > 0)).cache()
    assert both.count() > 0, "count-based gate is vacuous on fixtures"
    assert both.where(F.col("min_fr") <= F.col("max_er")).count() == 0
    assert occ.where((F.col("ne") >= 5) & (F.col("nf") > 0)).count() == 0
    # seen_ids: a gid appears at most once per occurrence across branches
    assert occ.where(F.col("n_gids") != F.col("n_rows")).count() == 0
