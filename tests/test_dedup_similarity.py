"""Behavioral tests for the dedup/similarity scale paths: ANN-LSH recall
vs the brute baseline (the round-1 gate passed vacuously with 0 rows),
rare-shingle blocking recall, banded-hamming full recall within radius,
and a plan assertion that embedding near-dup never degenerates to the
all-pairs cartesian join."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from geo_linked_open_data_kg_spark import queries as q
from geo_linked_open_data_kg_spark.operators.dedup import (
    hot_shingles,
    ngram_jaccard_pairs,
    simhash,
    simhash_banded_pairs,
)

SF_DIR = "/root/testdata/sf0.01"


def test_ann_lsh_recall_vs_brute(spark):
    """Multi-band LSH must recover >=0.6 of the brute-force top-5 on the
    structure-free random embeddings — and must not be vacuous."""
    brute = {(r["query_id"], r["neighbor_id"])
             for r in q.td_ann_brute_topk(spark, SF_DIR).collect()}
    lsh = {(r["query_id"], r["neighbor_id"])
           for r in q.td_ann_lsh_topk(spark, SF_DIR).collect()}
    assert len(lsh) > 0, "ANN-LSH returned 0 rows (vacuous)"
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.6, f"ANN-LSH recall {recall:.2f} < 0.6 vs brute"


def test_embedding_near_dups_no_cartesian(spark):
    plan = (q.td_embedding_near_dups(spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_media_near_dups_no_cartesian_and_near_not_exact(spark):
    """Asset-level frame-hash dedup: candidates only materialize within
    phash buckets (no cartesian), and the variant stub produces genuine
    NEAR pairs (0.5 <= J < 1) alongside exact re-uploads (J = 1)."""
    df = q.td_media_near_dups(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    js = [r["frame_jaccard"] for r in df.collect()]
    assert len(js) > 0, "media near-dups vacuous on fixtures"
    assert any(j == 1.0 for j in js), "no exact re-upload pairs"
    assert any(j < 1.0 for j in js), "no near (non-exact) pairs"


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t)
                                  for i, t in rows])


def test_rare_shingle_blocking_keeps_near_dups(spark):
    """Docs sharing ONLY a hot stop-phrase must not become candidates;
    genuine near-copies (which also share rare shingles) must survive."""
    stop = "official census record of the district"
    rows = [(i, f"{stop} unique body {i} alpha beta gamma {i}")
            for i in range(30)]
    # planted near-copy pair: long shared tail, differs by one token
    base = "settlers cleared the north field and planted barley oats rye"
    rows += [(100, base + " early"), (101, base + " late")]
    docs = _docs(spark, rows)
    hot = {r["shingle"] for r in hot_shingles(docs, df_cap=20).collect()}
    assert any("census" in s for s in hot), "stop-phrase shingles not hot"
    pairs = {(r["doc_a"], r["doc_b"])
             for r in ngram_jaccard_pairs(docs, threshold=0.7,
                                          df_cap=20).collect()}
    assert (100, 101) in pairs, "near-copy pair lost by rare blocking"
    # nothing should pair up via the stop-phrase alone
    assert all(a >= 100 for a, _ in pairs), f"hot-shingle FP pairs: {pairs}"


def test_simhash_banded_full_recall_within_radius(spark):
    """Pigeonhole property: every pair at hamming<=3 (by brute-force
    fingerprint comparison) must be found by the banded search."""
    base = ("the expedition travelled north across the frozen river and "
            "reached the trading post before the first snow of winter")
    rows = [(0, base), (1, base),                       # hamming 0
            (2, base.replace("frozen", "icy")),         # small drift
            (3, "completely different text about spark shuffles and "
                "partition pruning in columnar scans")]
    docs = _docs(spark, rows)
    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    brute = {(a, b) for a in fp for b in fp if a < b
             and bin(fp[a] ^ fp[b]).count("1") <= 3}
    banded = {(r["doc_a"], r["doc_b"])
              for r in simhash_banded_pairs(docs).collect()}
    assert (0, 1) in banded and brute <= banded, (brute, banded)
    # every reported pair really is within the radius
    for a, b in banded:
        assert bin(fp[a] ^ fp[b]).count("1") <= 3


def test_dedup_cap_metrics_shape(spark):
    rows = {r["metric"]: r["value"]
            for r in q.td_dedup_cap_metrics(spark, SF_DIR).collect()}
    assert set(rows) == {"minhash_capped_buckets",
                         "minhash_dropped_doc_slots",
                         "jaccard_hot_shingles_excluded",
                         "jaccard_hot_only_docs",
                         "jaccard_fallback_dropped_docs",
                         "media_capped_phash_buckets",
                         "media_dropped_asset_slots"}
    assert all(v >= 0 for v in rows.values())


def test_hot_only_template_cluster_still_pairs(spark):
    """>df_cap near-identical template docs: every shared shingle is hot,
    so rare-only blocking yields ZERO candidates (round-2 ADVICE). The
    per-doc lowest-df fallback key must rescue the cluster."""
    from geo_linked_open_data_kg_spark.operators.dedup import (
        _jaccard_blocking,
        dedup_cap_metrics,
    )
    base = ("standard form letter issued by the land office regarding "
            "the quarter section survey of township")
    rows = [(i, f"{base} {i % 2}") for i in range(30)]  # 2 exact groups
    docs = _docs(spark, rows)
    # the fallback path must be exercised: all docs are hot-only
    m = {r["metric"]: r["value"]
         for r in dedup_cap_metrics(docs, df_cap=10).collect()}
    assert m["jaccard_hot_only_docs"] == 30
    pairs = {(r["doc_a"], r["doc_b"])
             for r in ngram_jaccard_pairs(docs, threshold=0.8,
                                          df_cap=10).collect()}
    # same-parity docs are near-identical (J=1 on shared shingles)
    assert (0, 2) in pairs and (1, 3) in pairs, pairs
    # blocking stream stays bounded: one fallback row per doc
    assert _jaccard_blocking(docs, df_cap=10).count() <= 30


def test_duplicate_groups_keeper_selection(spark):
    """Pairs -> connected components -> one keeper per group (VERDICT r3
    item 2): a 3-copy cluster collapses to ONE group whose keeper is the
    highest-quality member (tie-break min doc_id); singletons never
    appear; n_members counts the whole group."""
    from geo_linked_open_data_kg_spark.operators.dedup import (
        duplicate_groups,
    )
    body = ("annual report of the provincial land survey describing "
            "boundary markers along the northern township line in detail")
    rows = [(1, body), (2, body), (3, body),          # exact triple
            (4, body + " appended notes"),  # J=15/17 vs body: near-dup
            (10, "entirely unrelated short text about harbour tides"),
            (11, "another unrelated document concerning railway fares")]
    groups, _ = duplicate_groups(_docs(spark, rows))
    got = {r["doc_id"]: r for r in groups.collect()}
    # docs 1-4 form one component (4 chains in via near-dup overlap)
    assert set(got) == {1, 2, 3, 4}, got
    assert {r["group_id"] for r in got.values()} == {1}
    assert all(r["n_members"] == 4 for r in got.values())
    # doc 4 is longest -> highest len_score -> keeper; others not
    keepers = [d for d, r in got.items() if r["is_keeper"]]
    assert keepers == [4], got


def test_trigram_language_id_on_real_sentences(spark):
    """The char-trigram profiles must classify natural sentences in all
    six supported languages and pick the dominant language of a mixed
    document — the capability stopword-argmax lacked (VERDICT r3 #6)."""
    from geo_linked_open_data_kg_spark.operators.textstats import (
        language_id,
    )
    rows = [
        (1, "the history of the town and its people is told in the "
            "records that were kept by the clerk"),
        (2, "la historia de la ciudad y de sus habitantes se cuenta en "
            "los registros que el escribano guardaba para el archivo"),
        (3, "die geschichte der stadt und der menschen wird in den "
            "akten erzaehlt die der schreiber mit sorgfalt gefuehrt hat"),
        (4, "l'histoire de la ville et de ses habitants est racontee "
            "dans les registres que le greffier gardait pour les archives"),
        (5, "la storia della citta e dei suoi abitanti viene raccontata "
            "nei registri che il cancelliere custodiva con cura"),
        (6, "de geschiedenis van de stad en haar mensen wordt verteld "
            "in de registers die de klerk met zorg heeft bewaard"),
        # mixed: two English clauses, one short Spanish tail -> en
        (7, "the records of the town were kept for many years by the "
            "clerk of the county en la ciudad"),
        (8, "zzz qqq xxx"),  # no profile hits -> und
    ]
    got = {r["doc_id"]: r["pred_lang"]
           for r in language_id(_docs(spark, rows)).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "fr", 5: "it", 6: "nl",
                   7: "en", 8: "und"}, got


def test_script_aware_language_id(spark):
    """Round-5: Unicode-script detection must classify non-Latin docs
    (CJK/Cyrillic/Arabic/Greek/Hangul) that the Latin trigram profiles
    would send to 'und'; Latin-majority mixed-script text must still
    take the trigram path; kana presence must separate ja from zh."""
    from geo_linked_open_data_kg_spark.operators.textstats import (
        SCRIPT_SAMPLE_DOCS,
        language_id,
    )
    out = {r["doc_id"]: (r["pred_lang"], r["best_ratio"])
           for r in language_id(_docs(spark, SCRIPT_SAMPLE_DOCS)).collect()}
    langs = {i: lg for i, (lg, _) in out.items()}
    assert langs == {9000001: "ru", 9000002: "ar", 9000003: "el",
                     9000004: "zh", 9000005: "ja", 9000006: "ko",
                     9000007: "en"}, langs
    # script-decided docs report the script char share, a real ratio
    for i in (9000001, 9000002, 9000003, 9000004, 9000005, 9000006):
        assert 0.5 <= out[i][1] <= 1.0, out[i]
    # the mixed doc (4 Han chars in Latin text) is NOT script-decided
    assert out[9000007][1] < 0.5


def test_ann_ivf_recall_and_cell_pruning(spark):
    """IVF coarse-quantizer ANN (the cell-pruned scale path): recall
    >=0.7 of brute top-5 at n_probe=4 of 16 cells, strictly better than
    chance scanning ~25% of the corpus; no cartesian in the plan; every
    vector lands in exactly one cell (the inverted index partitions the
    corpus)."""
    from geo_linked_open_data_kg_spark.operators.similarity import (
        _collect_cents,
        ann_brute_topk,
        ann_ivf_topk,
        ivf_assign,
    )
    from geo_linked_open_data_kg_spark.sources.registry import load

    emb = load(spark, SF_DIR, "embeddings").cache()
    brute = {(r["query_id"], r["neighbor_id"])
             for r in ann_brute_topk(emb).collect()}
    # round-5: centroids are persisted fixture data (write_centroids),
    # shared bit-identically with the DuckDB oracle
    cents_df = load(spark, SF_DIR, "kmeans_centroids")
    cents = _collect_cents(cents_df)
    assert len(cents) == 16
    ivf_df = ann_ivf_topk(emb, cents_df, n_probe=4)
    plan = ivf_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    ivf = {(r["query_id"], r["neighbor_id"]) for r in ivf_df.collect()}
    assert len(ivf) > 0
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.7, f"IVF recall {recall:.2f} < 0.7 vs brute"
    # inverted index: total assignment rows == corpus rows (one cell per
    # vector), >1 cell populated (the quantizer actually partitions)
    assigned = ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.select("cid").distinct().count() > 1


def test_media_decoder_seam_swap(spark):
    """Round-5 (VERDICT r4 item 7): a 'real' decoder injected through
    the decode_stub mapInPandas seam must flow through media_features
    and sample_frames coherently — no operator-code change, only the
    decoder callable swaps."""
    import pandas as pd

    from geo_linked_open_data_kg_spark.operators.multimodal import (
        decode_stub,
        media_features,
        media_refs,
        sample_frames,
    )
    from geo_linked_open_data_kg_spark.sources.registry import load

    docs = load(spark, "/root/testdata/sf0.001", "geo_documents")

    def real_probe(refs: pd.Series) -> pd.DataFrame:
        # stand-in for a PIL/ffmpeg probe: fixed dims, 8 frames
        return pd.DataFrame({
            "media_ref": refs,
            "n_ref_bytes": refs.str.len().astype("int32"),
            "fake_width": pd.Series([640] * len(refs)).astype("int32"),
            "fake_height": pd.Series([480] * len(refs)).astype("int32"),
            "fake_n_frames": pd.Series([8] * len(refs)).astype("int32"),
        })

    m = media_refs(docs)
    n_assets = m.select("media_ref").distinct().count()
    assert n_assets > 0, "fixture corpus carries no media spans"
    feats = decode_stub(m, decoder=real_probe).collect()
    assert len(feats) == n_assets
    assert all(r["fake_width"] == 640 and r["fake_n_frames"] == 8
               for r in feats)

    # downstream coherence: the frame-sampling plan reflects the
    # injected metadata (8 frames, max 4 sampled -> stride 2 -> 0,2,4,6)
    sf = sample_frames(media_features(docs, decoder=real_probe))
    idxs = {r["frame_idx"] for r in sf.select("frame_idx").distinct()
            .collect()}
    assert idxs == {0, 2, 4, 6}, idxs

    # and the default stub still drives the same pipeline (seam is
    # optional, not a fork): the stub's md5-derived fake_n_frames vary
    # per asset, so per-asset sampled-frame counts are NOT one constant
    # (the injected probe's uniform 8-frame metadata gives exactly 4)
    stub_counts = {r["n"] for r in
                   sample_frames(media_features(docs))
                   .groupBy("media_ref")
                   .agg(F.count("*").alias("n")).collect()}
    assert len(stub_counts) > 1, stub_counts


def test_cluster_profile_diversity_audit(spark):
    """cluster_profile: shares sum to 1, counts sum to the corpus, every
    populated cell's tightness stats are valid cosines, and the per-cell
    counts agree exactly with an independent ivf_assign groupBy."""
    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.operators.similarity import (
        _collect_cents,
        cluster_profile,
        ivf_assign,
    )
    from geo_linked_open_data_kg_spark.sources.registry import load

    emb = load(spark, SF_DIR, "embeddings").cache()
    cents_df = load(spark, SF_DIR, "kmeans_centroids")
    prof = cluster_profile(emb, cents_df).collect()
    assert len(prof) > 1, "quantizer should populate several cells"
    n_total = emb.count()
    assert sum(r["n_vecs"] for r in prof) == n_total
    assert abs(sum(r["share"] for r in prof) - 1.0) < 1e-4
    for r in prof:
        assert -1.0 - 1e-9 <= r["min_cos"] <= r["avg_cos"] <= 1.0 + 1e-9, r
    want = {(r["cid"], r["n"]) for r in
            ivf_assign(emb, _collect_cents(cents_df))
            .groupBy("cid").agg(F.count("*").alias("n")).collect()}
    got = {(r["cid"], r["n_vecs"]) for r in prof}
    assert got == want
