"""End-to-end curation pipeline: funnel semantics, determinism, resume.

A crafted corpus where every stage has a known victim:
  1  good web doc (60 distinct words)            -> keeper, curated
  2  exact copy of 1                             -> dup member, dropped
  3  near-dup of 1 (one word changed)            -> dup member, dropped
  4  "a a a a a"                                 -> quality drop
  5  good web doc with an email address          -> curated, redacted
  6  good web doc sharing a 5-gram with eval set -> contaminated, dropped
  7  good code doc                               -> mixture drop (f=0.0)
  8  good code doc                               -> mixture drop (f=0.0)
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from geo_linked_open_data_kg_spark.plans.curation import (
    run_curation_pipeline,
)

SF_DIR = "/root/testdata/sf0.001"

D1 = " ".join(f"alpha{i:02d}" for i in range(60))
D3 = D1.replace("alpha30", "changed")
D5 = ("contact the research team via alice@example.com for details "
      "about the dataset release")
EVAL = "the quick brown fox jumps over the lazy dog tonight"
D6 = ("students reported that the quick brown fox jumps over the lazy "
      "dog tonight during the exam")
# 7 and 8 must NOT be near-dups of each other -> disjoint vocabularies
CODE7 = " ".join(f"code{i:02d}" for i in range(12))
CODE8 = " ".join(f"lang{i:02d}" for i in range(12))

ROWS = [
    (1, D1, "web"), (2, D1, "web"), (3, D3, "web"),
    (4, "a a a a a", "web"), (5, D5, "web"), (6, D6, "web"),
    (7, CODE7, "code"), (8, CODE8, "code"),
]


@pytest.fixture(scope="module")
def out_dir():
    d = tempfile.mkdtemp(prefix="curation_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string, "
                                       "source string")


@pytest.fixture(scope="module")
def eval_docs(spark):
    return spark.createDataFrame([(100, EVAL)], "doc_id long, text string")


@pytest.fixture(scope="module")
def result(spark, corpus, eval_docs, out_dir):
    return run_curation_pipeline(
        spark, SF_DIR, out_dir, documents=corpus, eval_docs=eval_docs,
        weights={"code": 0.0}, budget=64)


def test_curated_set_is_exactly_the_survivors(result):
    curated = {r["doc_id"] for r in result["curated"].collect()}
    assert curated == {1, 5}


def test_each_stage_dropped_its_victim(result):
    q = {r["doc_id"]: r["keep"] for r in result["quality"].collect()}
    assert q[4] is False and q[1] is True
    dropped = {r["doc_id"] for r in
               result["dup_groups"].where(~F.col("is_keeper")).collect()}
    assert dropped == {2, 3}  # keeper = min doc_id on equal quality
    contaminated = {r["doc_id"] for r in result["contamination"].collect()}
    assert contaminated == {6}
    mixture = {r["doc_id"] for r in result["mixture"].collect()}
    assert 7 not in mixture and 8 not in mixture  # f=0.0 drops all code


def test_curated_text_is_scrubbed(result):
    rows = {r["doc_id"]: r["text"] for r in result["curated"].collect()}
    assert "[EMAIL]" in rows[5]
    assert "@" not in rows[5]


def test_funnel_accounts_for_every_drop(result):
    f = {r["step"]: r["value"] for r in result["funnel"].collect()}
    assert f["docs_in"] == 8
    assert f["quality_kept"] == 7
    assert f["dup_members_dropped"] == 2
    assert f["contaminated_dropped"] == 1
    assert f["curated_docs"] == 2
    assert f["quality_drop:word_count"] == 1
    assert f["tokens_packed"] == 60 + 12  # d1 + d5 (redacted) word counts


def test_dedup_stage_records_cc_convergence(spark, result, out_dir):
    m = {r["metric"]: r["value"] for r in
         spark.read.parquet(f"{out_dir}/_metrics/dup_groups").collect()}
    assert m["cc_converged"] == 1, m
    assert 1 <= m["cc_rounds_run"] <= 25, m


def test_sequences_cover_exactly_the_curated_docs(result):
    seq = {r["doc_id"]: r for r in result["sequences"].collect()}
    assert set(seq) == {1, 5}
    # doc_id order, budget 64: d1's 60 tokens fill [0,60) of seq 0,
    # d5's 12 start at offset 60 and straddle into seq 1
    assert (seq[1]["seq_id"], seq[1]["seq_offset"]) == (0, 0)
    assert (seq[5]["seq_id"], seq[5]["seq_offset"]) == (0, 60)


def test_resume_skips_completed_stages(spark, corpus, eval_docs, out_dir):
    import time
    t0 = time.time()
    res = run_curation_pipeline(
        spark, SF_DIR, out_dir, documents=corpus, eval_docs=eval_docs,
        weights={"code": 0.0}, budget=64)
    elapsed = time.time() - t0
    assert {r["doc_id"] for r in res["curated"].collect()} == {1, 5}
    assert elapsed < 20, f"resume took {elapsed:.0f}s — stages re-ran"


def test_rerun_in_fresh_dir_is_deterministic(spark, corpus, eval_docs,
                                             result):
    d = tempfile.mkdtemp(prefix="curation_ckpt2_")
    try:
        res = run_curation_pipeline(
            spark, SF_DIR, d, documents=corpus, eval_docs=eval_docs,
            weights={"code": 0.0}, budget=64)
        a = sorted(map(tuple, result["curated"].collect()))
        b = sorted(map(tuple, res["curated"].collect()))
        assert a == b
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_smoke_on_driver_corpus(spark):
    """The real documents table end-to-end, no eval set, keep-all
    mixture: curated == quality-kept minus dup members, and the funnel
    balances exactly."""
    d = tempfile.mkdtemp(prefix="curation_sf_")
    try:
        res = run_curation_pipeline(spark, SF_DIR, d)
        f = {r["step"]: r["value"] for r in res["funnel"].collect()}
        assert f["docs_in"] > 0
        assert f["contaminated_dropped"] == 0
        assert f["curated_docs"] == (f["quality_kept"]
                                     - f["dup_members_dropped"])
        assert res["curated"].count() == f["curated_docs"]
        # partitioned by source on disk
        import os
        assert any(p.startswith("source=")
                   for p in os.listdir(f"{d}/curated"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_merge_curation_batch_compacts_and_retroactively_demotes(spark):
    """The stream's deferred-dedup compaction job: batch 2 folds into the
    durable signature store, a longer (higher-quality) near-dup arriving
    later demotes the old keeper, and the merged groups equal the
    one-shot signature pass over the union."""
    import shutil
    import tempfile

    from geo_linked_open_data_kg_spark.operators.incremental_dedup import (
        signature_dup_groups,
        signature_dup_state,
    )
    from geo_linked_open_data_kg_spark.plans.checkpoint import (
        CheckpointStore,
    )
    from geo_linked_open_data_kg_spark.plans.curation import (
        merge_curation_batch,
    )

    a = " ".join(f"a{i}" for i in range(24))
    base = [f"w{i}" for i in range(40)]
    b_short = " ".join(base)
    b_long = " ".join(base + ["x1", "x2", "x3", "x4"])
    schema = "doc_id long, text string"
    batch1 = spark.createDataFrame(
        [(1, a), (2, a), (3, b_short)], schema)
    batch2 = spark.createDataFrame(
        [(11, b_long), (12, " ".join(f"z{i}" for i in range(20)))], schema)

    d = tempfile.mkdtemp(prefix="kg_compact_")
    try:
        store = CheckpointStore(d)
        r1 = merge_curation_batch(spark, batch1, store)
        g1 = {r["doc_id"]: r for r in r1["groups"].collect()}
        assert set(g1) == {1, 2}            # 3 is a singleton so far
        assert g1[1]["is_keeper"] and not g1[2]["is_keeper"]

        r2 = merge_curation_batch(spark, batch2, store)
        g2 = {r["doc_id"]: r for r in r2["groups"].collect()}
        # 11 is longer -> higher quality -> keeper; old singleton 3
        # is RETROACTIVELY demoted to a dropped member
        assert g2[11]["is_keeper"] and not g2[3]["is_keeper"]
        assert {r["doc_id"] for r in r2["dropped"].collect()} == {2, 3}
        assert 12 not in g2                 # fresh singleton stays out

        want = {tuple(r) for r in signature_dup_groups(
            signature_dup_state(batch1.unionByName(batch2))).collect()}
        assert {tuple(r) for r in r2["groups"].collect()} == want
        # durable across store handles (what a later compaction reads)
        assert {tuple(r) for r in
                CheckpointStore(d).read(spark, "sig_groups").collect()} \
            == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_merge_curation_batch_replay_is_idempotent(spark):
    """Crash-replay safety: re-running a batch after a full success, and
    retrying after a simulated crash between the two upserts (sig_state
    committed, sig_groups not), must both land on the one-shot answer —
    no double-counted members."""
    import shutil
    import tempfile

    from geo_linked_open_data_kg_spark.operators.incremental_dedup import (
        signature_dup_groups,
        signature_dup_state,
    )
    from geo_linked_open_data_kg_spark.plans.checkpoint import (
        CheckpointStore,
    )
    from geo_linked_open_data_kg_spark.plans.curation import (
        merge_curation_batch,
    )

    a = " ".join(f"a{i}" for i in range(24))
    schema = "doc_id long, text string"
    batch1 = spark.createDataFrame([(1, a), (2, a)], schema)
    batch2 = spark.createDataFrame(
        [(11, a), (12, " ".join(f"q{i}" for i in range(20)))], schema)
    want = {tuple(r) for r in signature_dup_groups(
        signature_dup_state(batch1.unionByName(batch2))).collect()}

    # replay after success
    d = tempfile.mkdtemp(prefix="kg_replay_")
    try:
        store = CheckpointStore(d)
        merge_curation_batch(spark, batch1, store)
        merge_curation_batch(spark, batch2, store)
        again = merge_curation_batch(spark, batch2, store)  # replay
        assert {tuple(r) for r in again["groups"].collect()} == want
        for r in again["groups"].collect():
            assert r["n_members"] == 3  # not 4/5: no double count
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # crash between the upserts: sig_state has the batch, sig_groups
    # does not (here: never written at all — the first-batch variant)
    d = tempfile.mkdtemp(prefix="kg_replay2_")
    try:
        store = CheckpointStore(d)
        store.merge_upsert(signature_dup_state(batch1), "sig_state",
                           keys=["doc_id"])
        assert not store.exists("sig_groups")
        r1 = merge_curation_batch(spark, batch1, store)  # retry batch 1
        g1 = {r["doc_id"]: r["n_members"]
              for r in r1["groups"].collect()}
        assert g1 == {1: 2, 2: 2}
        r2 = merge_curation_batch(spark, batch2, store)
        assert {tuple(r) for r in r2["groups"].collect()} == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_every_stage_table_materialized(result, out_dir):
    import os

    from geo_linked_open_data_kg_spark.plans.curation import STAGES
    for s in STAGES:
        assert os.path.isdir(f"{out_dir}/{s}"), f"stage {s} not written"


def test_mixture_audit_requested_vs_achieved(result):
    """The sampling stage's own audit: per source, the requested keep
    fraction next to what actually shipped (docs + tokens) — sampling
    must not be a silent cap."""
    audit = {r["source"]: r for r in result["mixture_audit"].collect()}
    assert set(audit) == {"web", "code"}
    w = audit["web"]
    assert (w["n_pool"], w["n_kept"], w["n_tokens"]) == (2, 2, 72)
    assert w["requested_fraction"] == 1.0  # unlisted -> keep-all
    assert w["achieved_fraction"] == 1.0
    c = audit["code"]
    assert (c["n_pool"], c["n_kept"], c["n_tokens"]) == (2, 0, 0)
    assert c["requested_fraction"] == 0.0
    assert c["achieved_fraction"] == 0.0
