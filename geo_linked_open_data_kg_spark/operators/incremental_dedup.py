"""Incremental near-duplicate grouping over an append-only corpus.

At 100 TB the batch `duplicate_groups` pass is a full-corpus job; rerunning
it for every ingest batch re-reads every byte ever ingested. The standard
production shape instead persists a PER-DOCUMENT SIGNATURE STORE — O(docs)
rows of fixed width, not O(corpus bytes) — and, per batch:

1. signatures for the NEW docs only (the only pass over new text);
2. LSH band-bucket join over old+new signatures, keeping only candidate
   pairs that touch at least one new doc (old-old pairs were resolved by
   earlier batches and enter as group edges, step 4);
3. verify candidates with the SIGNATURE-estimated Jaccard
   (matching-minhash fraction — the classic unbiased MinHash estimator),
   so verification never re-reads old text either;
4. connected components over (new verified pairs) UNION (prior groups'
   member->group star edges), so components merge across batches;
5. keeper re-election per merged group from quality stored in the state.

Parity invariant (tested): for monotonically increasing doc_ids
(append-only ingest), incremental over batch1 then batch2 produces
EXACTLY the groups of the one-shot `signature_dup_groups` over the whole
corpus. The argument: signatures are a pure function of each doc's text,
band buckets are a pure function of signatures, the per-bucket cap keeps
the `max_bucket` LOWEST doc_ids (later batches only append higher ids, so
earlier survivors never change), and old-old connectivity is exactly what
the prior groups encode.

This is the signature-verified tier of the dedup family: the batch
`duplicate_groups` (dedup.py:372) additionally runs exact-Jaccard /
simhash / rare-shingle generators, which need the old corpus text and are
therefore the periodic-compaction path, not the per-batch path (the same
batch-vs-ingest split as streaming/documents.py:stream_curate_documents).
Reference analog: resumable loaders skip already-loaded keys instead of
re-scanning prior dumps (scripts/loaders/load_geonames.py progress file).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geo_linked_open_data_kg_spark.functions.hashing import md5_hex
from geo_linked_open_data_kg_spark.operators.canonicalize import (
    connected_components,
)
from geo_linked_open_data_kg_spark.operators.dedup import (
    N_BANDS,
    N_MINHASH,
    minhash_signatures,
)

EST_JACCARD_THRESHOLD = 0.5


def signature_dup_state(documents: DataFrame,
                        n_hashes: int = N_MINHASH) -> DataFrame:
    """The persisted per-doc dedup state: (doc_id, quality, mh_0..mh_{n-1}).

    ~13 narrow columns per document — the ONLY thing a later batch needs
    to dedup against this one. Docs shorter than k tokens still get a
    signature from their single truncated shingle (shingles_from_tokens
    emits index 0 even when size < k), mirroring the batch generators;
    only a doc whose normalized text is empty is absent.
    """
    from geo_linked_open_data_kg_spark.operators.textstats import (
        quality_scores,
    )
    sig = minhash_signatures(documents, n_hashes)
    q = quality_scores(documents).select("doc_id", "quality")
    return sig.join(q, "doc_id", "left")


def _band_buckets(state: DataFrame, n_hashes: int, n_bands: int,
                  max_bucket: int) -> DataFrame:
    """(doc_id, is_new, band, bucket) with the deterministic per-bucket
    cap (lowest doc_ids survive) — identical to the batch LSH layout."""
    rows = n_hashes // n_bands
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        bands.append(state.select(
            "doc_id", "is_new", F.lit(b).alias("band"),
            md5_hex(F.concat_ws("|", *cols)).alias("bucket")))
    banded = bands[0]
    for b in bands[1:]:
        banded = banded.unionByName(b)
    w = Window.partitionBy("band", "bucket").orderBy("doc_id")
    return (banded.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= max_bucket).drop("rn"))


def _estimated_pairs(state: DataFrame, n_hashes: int, n_bands: int,
                     threshold: float, max_bucket: int,
                     new_only: bool) -> DataFrame:
    """Candidate pairs from the band-bucket join, verified by the
    signature-estimated Jaccard (fraction of agreeing minhashes).
    `new_only` keeps pairs touching >= 1 new doc (the incremental cut)."""
    banded = _band_buckets(state, n_hashes, n_bands, max_bucket)
    a = banded.select("band", "bucket", F.col("doc_id").alias("doc_a"),
                      F.col("is_new").alias("new_a"))
    b = banded.select("band", "bucket", F.col("doc_id").alias("doc_b"),
                      F.col("is_new").alias("new_b"))
    cand = (a.join(b, ["band", "bucket"])
            .where(F.col("doc_a") < F.col("doc_b")))
    if new_only:
        cand = cand.where(F.col("new_a") | F.col("new_b"))
    cand = cand.select("doc_a", "doc_b").distinct()

    sig_a = state.select(F.col("doc_id").alias("doc_a"),
                         *[F.col(f"mh_{i}").alias(f"a_{i}")
                           for i in range(n_hashes)])
    sig_b = state.select(F.col("doc_id").alias("doc_b"),
                         *[F.col(f"mh_{i}").alias(f"b_{i}")
                           for i in range(n_hashes)])
    matches = sum((F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int")
                  for i in range(n_hashes))
    return (cand.join(sig_a, "doc_a").join(sig_b, "doc_b")
            .withColumn("est_jaccard",
                        F.round(matches / F.lit(float(n_hashes)), 4))
            .where(F.col("est_jaccard") >= threshold)
            .select("doc_a", "doc_b", "est_jaccard"))


def _groups_from_edges(edges: DataFrame, state: DataFrame) -> DataFrame:
    """CC over the pair graph, then keeper election per component from the
    state's stored quality: max quality, tie-break min doc_id — the same
    rule as the batch duplicate_groups (dedup.py:418-421)."""
    cc, _ = connected_components(edges, src="doc_a", dst="doc_b")
    members = (cc.select(F.col("component").alias("group_id"),
                         F.col("node").alias("doc_id"))
               .join(state.select("doc_id", "quality"), "doc_id", "left"))
    kw = (Window.partitionBy("group_id")
          .orderBy(F.col("quality").desc_nulls_last(),
                   F.col("doc_id").asc()))
    gw = Window.partitionBy("group_id")
    return (members
            .withColumn("rn", F.row_number().over(kw))
            .select("group_id", "doc_id",
                    (F.col("rn") == 1).alias("is_keeper"),
                    F.count("*").over(gw).alias("n_members")))


def signature_dup_groups(state: DataFrame,
                         n_hashes: int = N_MINHASH,
                         n_bands: int = N_BANDS,
                         threshold: float = EST_JACCARD_THRESHOLD,
                         max_bucket: int = 50) -> DataFrame:
    """One-shot signature-verified dup groups over a full state table —
    the batch reference point the incremental path must reproduce.
    Output: (group_id, doc_id, is_keeper, n_members)."""
    # three consumers fan out of the state (band buckets + both sides of
    # the signature join): pin ONE materialization, same pattern as the
    # cascade's gram stream (linking.py) and duplicate_groups' tok/sh
    st = (state.withColumn("is_new", F.lit(True))
          .localCheckpoint(eager=False))
    pairs = _estimated_pairs(st, n_hashes, n_bands, threshold, max_bucket,
                             new_only=False)
    return _groups_from_edges(pairs.select("doc_a", "doc_b"),
                              st.drop("is_new"))


def incremental_dup_groups(new_state: DataFrame,
                           prior_state: DataFrame,
                           prior_groups: DataFrame,
                           n_hashes: int = N_MINHASH,
                           n_bands: int = N_BANDS,
                           threshold: float = EST_JACCARD_THRESHOLD,
                           max_bucket: int = 50) -> DataFrame:
    """Merge a new batch into existing dup groups WITHOUT re-reading any
    old text: old docs participate through `prior_state` (signatures +
    quality) and `prior_groups` (their resolved connectivity) only.

    Returns the full updated groups table (group_id, doc_id, is_keeper,
    n_members); the caller persists it and the unioned state for the
    next batch (checkpoint.merge_upsert is the durable spelling).
    """
    st = (prior_state.withColumn("is_new", F.lit(False))
          .unionByName(new_state.withColumn("is_new", F.lit(True)))
          .localCheckpoint(eager=False))  # 4 consumers: see above
    new_pairs = _estimated_pairs(st, n_hashes, n_bands, threshold,
                                 max_bucket, new_only=True)
    prior_edges = (prior_groups
                   .where(F.col("doc_id") != F.col("group_id"))
                   .select(F.col("group_id").alias("doc_a"),
                           F.col("doc_id").alias("doc_b")))
    edges = new_pairs.select("doc_a", "doc_b").unionByName(prior_edges)
    return _groups_from_edges(edges, st.drop("is_new"))
