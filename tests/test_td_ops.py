"""Behavioral tests for the round-5 training-data ops: PII
detect/redact, Gopher repetition signals, distributed-prefix-sum
sequence packing, and benchmark decontamination — plus non-vacuity of
the folded person/org edge-union registry slots."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from geo_linked_open_data_kg_spark import queries as q
from geo_linked_open_data_kg_spark.operators.dedup import (
    decontaminate,
)
from geo_linked_open_data_kg_spark.operators.packing import (
    sequence_packing,
)
from geo_linked_open_data_kg_spark.operators.textstats import (
    PII_SAMPLE_DOCS,
    REPETITION_SAMPLE_DOCS,
    pii_stats,
    repetition_stats,
)

SF_DIR = "/root/testdata/sf0.01"


# ------------------------------------------------------------------ PII ----

def test_pii_counts_and_redaction(spark):
    df = spark.createDataFrame(PII_SAMPLE_DOCS, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in pii_stats(df).collect()}
    expected = {
        9100001: (1, 0, 1, "contact [EMAIL] or call [PHONE]"),
        9100002: (1, 2, 0, "host [IPV4] and [IPV4] pinged [EMAIL] today"),
        9100003: (0, 0, 0,
                  "no pii here just plain text about tables and rows"),
        9100004: (0, 1, 2, "dial [PHONE] or [PHONE] backup ip [IPV4]"),
        # near-misses must NOT trigger: 2-3-4 digit phone, 5-digit last
        # ip octet (the \b guards)
        9100005: (0, 0, 0,
                  "almost a phone 12-345-6789 and almost an ip 1.2.3.4567"),
    }
    for did, (ne, ni, np_, red) in expected.items():
        r = rows[did]
        assert (r["n_email"], r["n_ipv4"], r["n_phone"]) == (ne, ni, np_)
        assert r["pii_total"] == ne + ni + np_
        assert r["redacted_hash"] == hashlib.md5(red.encode()).hexdigest()


# ----------------------------------------------------------- repetition ----

def test_repetition_metrics_hand_computed(spark):
    df = spark.createDataFrame(REPETITION_SAMPLE_DOCS,
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    # "alpha beta gamma" x3 + "delta epsilon": 11 words (top 3), 10
    # bigrams (top "alpha beta" x3), 4 lines (2 dup "alpha beta gamma",
    # 16 chars each -> 48 of 61 chars in duplicated lines)
    r = rows[9200001]
    assert r["n_words"] == 11
    assert r["top_word_frac"] == round(3 / 11, 6)
    assert r["top_bigram_frac"] == round(3 / 10, 6)
    assert r["n_lines"] == 4
    assert r["dup_line_frac"] == 0.5
    assert r["dup_line_char_frac"] == round(48 / 61, 6)
    # blank/whitespace-only lines are dropped before dup accounting
    r = rows[9200004]
    assert r["n_lines"] == 3
    assert r["dup_line_frac"] == round(1 / 3, 6)
    assert r["dup_line_char_frac"] == round(6 / 11, 6)
    assert r["n_words"] == 7 and r["top_word_frac"] == round(2 / 7, 6)
    # single line, no repetition
    r = rows[9200002]
    assert r["dup_line_frac"] == 0.0 and r["n_lines"] == 1
    assert r["top_word_frac"] == round(1 / 3, 6)
    # "repeat" x4 of 7 words dominates
    assert rows[9200003]["top_word_frac"] == round(4 / 7, 6)


# -------------------------------------------------------------- packing ----

def test_sequence_packing_prefix_sum_invariants(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range((i * 7) % 23 + 1)))
         for i in range(100)], "doc_id long, text string")
    out = sorted(sequence_packing(docs, budget=64, num_partitions=5)
                 .collect(), key=lambda r: r["doc_id"])
    assert len(out) == 100
    running = 0
    for r in out:
        assert r["seq_id"] == running // 64, \
            f"doc {r['doc_id']}: seq_id {r['seq_id']} != {running // 64}"
        assert r["seq_offset"] == running % 64
        running += r["n_tokens"]
    assert running == sum(r["n_tokens"] for r in out)
    # multiple sequences must actually be produced (non-vacuous chunking)
    assert out[-1]["seq_id"] > 0


def test_sequence_packing_matches_naive_global_window(spark):
    """The two-phase distributed prefix sum must equal the naive
    single-partition global-window spelling it replaces."""
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    from pyspark.sql import Window
    from geo_linked_open_data_kg_spark.operators.textstats import tokens
    naive_w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1)
    naive = (docs
             .select("doc_id",
                     F.size(tokens(F.col("text"))).alias("n_tokens"))
             .select("doc_id", "n_tokens",
                     F.coalesce(F.sum("n_tokens").over(naive_w),
                                F.lit(0)).alias("pre"))
             .select("doc_id", "n_tokens",
                     F.floor(F.col("pre") / 512).cast("long")
                     .alias("seq_id"),
                     (F.col("pre") % 512).cast("long")
                     .alias("seq_offset")))
    a = sorted(map(tuple, naive.collect()))
    b = sorted(map(tuple, sequence_packing(docs, budget=512).collect()))
    assert a == b


def test_sequence_packing_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert sequence_packing(empty).count() == 0


# -------------------------------------------------------- decontaminate ----

def test_decontaminate_flags_only_overlapping_docs(spark):
    ev = spark.createDataFrame(
        [(100, "q w e r t y u")], "doc_id long, text string")
    tr = spark.createDataFrame(
        [(1, "x w e r t z"),          # shares the 4-gram "w e r t"
         (2, "aa bb cc dd ee ff"),    # disjoint
         (3, "q w e r t nope")],      # shares "q w e r" and "w e r t"
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in decontaminate(tr, ev, k=4).collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["n_shared_shingles"] == 1
    assert rows[1]["n_eval_docs"] == 1
    assert rows[3]["n_shared_shingles"] == 2


def test_decontaminate_registry_query_nonvacuous(spark):
    out = q.td_decontaminate(spark, SF_DIR)
    assert out.count() > 0, "eval slice shares no 4-grams (vacuous)"


# ------------------------------------------------------- edge-fold slots ---

@pytest.mark.parametrize("qname,preds", [
    ("kg_person_edges", {"bornIn", "citizenOf", "spouseOf", "parentOf",
                         "residedIn", "workedAt", "bornInPlace"}),
    ("kg_org_edges", {"headquarteredIn", "foundedIn"}),
])
def test_edge_union_folds_cover_every_family(spark, qname, preds):
    """Each folded edge family must contribute rows — a fixture change
    cannot silently zero a branch out of the union slot."""
    got = {r["pred"]: r["n"] for r in
           q.QUERIES[qname](spark, SF_DIR).groupBy("pred")
           .agg(F.count("*").alias("n")).collect()}
    assert set(got) == preds
    assert all(n > 0 for n in got.values())


# -------------------------------------------------------- quality filter ---

def test_quality_filter_one_violator_per_rule(spark):
    """Every rule has a dedicated violator in the sample docs, and the
    clean doc passes all six."""
    from geo_linked_open_data_kg_spark.operators.textstats import (
        QUALITY_SAMPLE_DOCS,
        quality_filter,
    )
    df = spark.createDataFrame(QUALITY_SAMPLE_DOCS,
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in quality_filter(df).collect()}
    expected = {
        9300001: "word_count",
        9300002: "mean_word_len",
        9300003: "mean_word_len,repetition",
        9300004: "alpha_ratio",
        # the 1-3 char symbol words also drag mean length under 3
        9300005: "mean_word_len,alpha_ratio,symbol_ratio",
        9300006: "repetition",
        9300007: "dup_lines",
        9300008: "",
    }
    for did, reasons in expected.items():
        r = rows[did]
        assert r["reasons"] == reasons, (did, r["reasons"])
        assert r["keep"] == (reasons == "")
        assert r["n_fail"] == (0 if not reasons else reasons.count(",") + 1)


def test_quality_filter_corpus_mostly_passes(spark):
    """The synth word-soup corpus is clean by construction — the filter
    must not mass-reject it (guards against inverted comparisons)."""
    from geo_linked_open_data_kg_spark.operators.textstats import (
        quality_filter,
    )
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    out = quality_filter(docs).agg(
        F.count("*").alias("n"),
        F.sum(F.col("keep").cast("int")).alias("kept")).collect()[0]
    assert out["kept"] / out["n"] > 0.9


def test_quality_filter_plan_has_no_exchange(spark):
    from geo_linked_open_data_kg_spark.operators.textstats import (
        quality_filter,
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = quality_filter(docs)._jdf.queryExecution().executedPlan() \
        .toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in plan, plan


# --------------------------------------------------------- domain mixture --

def test_domain_mixture_matches_python_oracle(spark):
    """Exact replication: the kept set equals an independent Python
    md5 computation, doc by doc (including the default-fraction path
    for a source absent from the weight table)."""
    import hashlib as hl
    from geo_linked_open_data_kg_spark.operators.sampling import (
        cutoff_hex,
        domain_mixture,
    )
    weights = {"a": 0.3, "b": 0.7, "c": 0.0}
    docs = spark.createDataFrame(
        [(i, ["a", "b", "c", "d"][i % 4]) for i in range(400)],
        "doc_id long, source string")
    got = {(r["doc_id"], r["source"], r["bucket"])
           for r in domain_mixture(docs, weights, seed="s1").collect()}
    exp = set()
    for i in range(400):
        src = ["a", "b", "c", "d"][i % 4]
        h = hl.md5(f"s1:{src}:{i}".encode()).hexdigest()[:8]
        if h < cutoff_hex(weights.get(src, 1.0)):
            exp.add((i, src, h))
    assert got == exp
    assert not any(s == "c" for _, s, _ in got)      # 0.0 drops all
    assert sum(1 for _, s, _ in got if s == "d") == 100  # default keeps all


def test_domain_mixture_hits_target_fractions(spark):
    """At 3000 docs/source the realized keep rate must sit near the
    target fraction (hash uniformity calibration)."""
    from geo_linked_open_data_kg_spark.operators.sampling import (
        domain_mixture,
    )
    weights = {"x": 0.2, "y": 0.8}
    docs = spark.createDataFrame(
        [(i, "x" if i < 3000 else "y") for i in range(6000)],
        "doc_id long, source string")
    got = {r["source"]: r["n"] for r in
           domain_mixture(docs, weights).groupBy("source")
           .agg(F.count("*").alias("n")).collect()}
    assert abs(got["x"] / 3000 - 0.2) < 0.03
    assert abs(got["y"] / 3000 - 0.8) < 0.03


def test_domain_mixture_plan_is_broadcast_only(spark):
    """The sampling filter must stay map-side: no shuffle Exchange —
    only the broadcast of the cutoff table."""
    from geo_linked_open_data_kg_spark.operators.sampling import (
        domain_mixture,
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = domain_mixture(docs, {"src0": 0.5})._jdf.queryExecution() \
        .executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    import re
    shuffles = [ln for ln in plan.splitlines()
                if re.search(r"\bExchange\b", ln)
                and "BroadcastExchange" not in ln]
    assert not shuffles, shuffles
    assert "BroadcastExchange" in plan
