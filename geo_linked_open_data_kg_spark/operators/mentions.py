"""Stage 1 — mention detection over the interleaved text+media corpus.

Input (per BASELINE.json input_hint): documents
(doc_id string, spans array<struct<kind,text,media_ref,offset>>).

Spark shape (no per-row Python anywhere):
  posexplode spans -> keep kind='text' -> tokenize (split) -> n-gram
  candidates (1..4 tokens, pure Column via transform/sequence/slice) ->
  equi-join normalized n-gram against the gazetteer alias map
  (name + ascii_name + alternate_names exploded; broadcastable) ->
  longest-match overlap resolution (left_anti containment self-join).

Media spans are never touched: the stage reads text spans only and the
document table passes through unchanged (span-sequence invariant,
tests/test_span_invariant.py).

Reference: the planned Document/EntityMention layer
(docs/planning/HISTORICAL_KG_PIPELINE.md:89-96,139-161) and the alias
lookup in scripts/utilities/reconcile.py:26-66 (J7) — there a per-mention
Cypher query; here one set-based join for the whole corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_NGRAM = 4


def alias_map(places: DataFrame, with_population: bool = False,
              dedup: bool = True) -> DataFrame:
    """(alias_norm, geoname_id[, population]) — exploded, deduped. The
    broadcast alias hash map of the north star. `dedup=False` skips the
    distinct (and its exchange) for consumers that tolerate duplicate
    keys, e.g. semi/anti-join dims."""
    extra = ["population"] if with_population else []
    aliases = places.select(
        "geoname_id", *extra,
        F.explode(
            F.array_union(
                F.array(F.col("name"), F.col("ascii_name")),
                F.coalesce(F.col("alternate_names"),
                           F.array().cast("array<string>")),
            )).alias("alias"))
    out = (aliases
           .where(F.col("alias").isNotNull() & (F.trim(F.col("alias")) != ""))
           .select(F.lower(F.trim(F.col("alias"))).alias("alias_norm"),
                   "geoname_id", *extra))
    return out.distinct() if dedup else out


def text_spans(documents: DataFrame) -> DataFrame:
    """Explode to one row per text span: (doc_id, span_offset, text, tokens)."""
    s = (documents
         .select("doc_id", F.explode("spans").alias("s"))
         .where(F.col("s.kind") == "text")
         .select("doc_id",
                 F.col("s.offset").alias("span_offset"),
                 F.col("s.text").alias("text")))
    return s.withColumn("tokens", F.split(F.col("text"), " +"))


def ngram_candidates(spans: DataFrame, max_n: int = MAX_NGRAM) -> DataFrame:
    """All n-grams (n=1..max_n) with 0-based token start positions.

    Single pass: one flattened higher-order expression per span, one
    explode — the corpus is scanned once, not once per n (the explode is
    the dominant cost of detection at scale).
    """
    size = F.size("tokens")

    def make(n: int):
        grams_n = F.transform(
            F.sequence(F.lit(0), F.greatest(size - n, F.lit(0))),
            lambda i: F.struct(
                i.alias("start"), F.lit(n).alias("n"),
                F.concat_ws(" ", F.slice(F.col("tokens"), i + 1, n))
                .alias("gram")))
        # sequence(0, 0) emits one bogus window when size < n — drop it
        return F.filter(grams_n, lambda s: s["start"] + n <= size)

    allgrams = F.flatten(F.array(*[make(n) for n in range(1, max_n + 1)]))
    return (spans
            .select("doc_id", "span_offset",
                    F.explode(allgrams).alias("ng"))
            .select("doc_id", "span_offset",
                    F.col("ng.start").alias("start"),
                    F.col("ng.n").alias("n"),
                    F.col("ng.gram").alias("gram"))
            .withColumn("gram_norm", F.lower(F.col("gram"))))


def alias_first_tokens(am: DataFrame) -> DataFrame:
    """Distinct first tokens of the alias vocabulary — the pruning dim
    for pruned_ngram_candidates. Vocabulary-sized, always broadcastable."""
    return (am.select(F.element_at(F.split("alias_norm", " +"), 1)
                      .alias("ft"))
            .where(F.col("ft") != "").distinct())


def position_windows(spans: DataFrame, window_len: int) -> DataFrame:
    """One row per token position: (doc_id, span_offset, start, w) with
    w = the next `window_len` tokens starting at `start` (truncated at
    span end).

    The round-5 shape posexploded tokens while CARRYING the full token
    array on every exploded row — O(T^2) array-copy traffic per span in
    the generate node. Exploding precomputed fixed-width windows keeps
    the generate linear in span length and lets downstream consumers
    drop the tokens column entirely (guide §2.3: project before wide
    operators)."""
    toks = F.col("tokens")
    idx = F.filter(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda i: i < F.size(toks))
    pw = F.transform(
        idx,
        lambda i: F.struct(i.cast("int").alias("start"),
                           F.slice(toks, i + 1, window_len).alias("w")))
    return (spans
            .select("doc_id", "span_offset", F.explode(pw).alias("p"))
            .select("doc_id", "span_offset",
                    F.col("p.start").alias("start"),
                    F.col("p.w").alias("w")))


def grams_from_windows(pos: DataFrame, max_n: int = MAX_NGRAM,
                       n_after: int = 0,
                       carry: list[str] | None = None) -> DataFrame:
    """Grams 1..max_n built from position windows. `n_after` > 0 also
    emits the first n_after tokens FOLLOWING each gram (columns a1..ak,
    null past span end) — the linking cascade's context tokens, captured
    here so no consumer ever has to re-join the corpus tokens. `carry`
    names extra position-level columns to keep on every gram row (the
    shared exact+fuzzy stream's membership flags)."""
    w = F.col("w")
    carry = carry or []

    def make(n: int):
        fields = [F.lit(n).alias("n"),
                  F.concat_ws(" ", F.slice(w, 1, n)).alias("gram")]
        for j in range(1, n_after + 1):
            # w[k] (1-based) = tokens[start + k - 1]; try_element_at
            # returns null past the (truncated) window end — the oracle's
            # out-of-bounds-NULL indexing semantics (plain element_at
            # raises under Spark 4 ANSI)
            fields.append(F.try_element_at(w, F.lit(n + j)).alias(f"a{j}"))
        # a window shorter than n means start + n > span length — no gram
        return F.when(F.size(w) >= n, F.struct(*fields))

    arr = F.array_compact(F.array(*[make(n) for n in range(1, max_n + 1)]))
    after_cols = [F.col(f"ng.a{j}").alias(f"a{j}")
                  for j in range(1, n_after + 1)]
    return (pos
            .select("doc_id", "span_offset", "start", *carry,
                    F.explode(arr).alias("ng"))
            .select("doc_id", "span_offset", "start",
                    F.col("ng.n").alias("n"),
                    F.col("ng.gram").alias("gram"), *after_cols, *carry)
            .withColumn("gram_norm", F.lower(F.col("gram"))))


def pruned_ngram_candidates(spans: DataFrame, first_tokens: DataFrame,
                            max_n: int = MAX_NGRAM,
                            n_after: int = 0) -> DataFrame:
    """N-grams generated ONLY at token positions whose lowercased token
    is the first token of some gazetteer alias.

    Lossless for the exact alias equi-join: gram_norm == alias_norm
    implies equal first tokens, so a gram starting with a non-alias
    token can never hit. Most corpus tokens are function words / numbers
    that start no alias, so this skips constructing (and exploding, and
    hash-probing) the dominant share of gram strings — the #1 cost of
    detection at scale. The pruning join is a broadcast LEFT SEMI
    against a vocabulary-sized dim: no shuffle.
    """
    pos = (position_windows(spans, max_n + n_after)
           .withColumn("ft", F.lower(F.element_at(F.col("w"), 1)))
           .join(F.broadcast(first_tokens), "ft", "left_semi"))
    return grams_from_windows(pos, max_n, n_after)


def capitalized_ngram_candidates(spans: DataFrame,
                                 max_n: int = MAX_NGRAM) -> DataFrame:
    """N-grams generated ONLY at capitalized token positions
    (`^[A-Z][a-z]`) — lossless for the fuzzy-fallback path, which
    filters grams to exactly that shape: a gram is capitalized iff its
    first token is. Pure filter before construction, no join."""
    pos = (position_windows(spans, max_n)
           .where(F.element_at(F.col("w"), 1).rlike("^[A-Z][a-z]")))
    return grams_from_windows(pos, max_n)


def detect_mentions(documents: DataFrame, places: DataFrame,
                    grams: DataFrame | None = None,
                    cap: int | None = None) -> DataFrame:
    """Exact/alias mention candidates with longest-match overlap resolution.

    Returns (doc_id, span_offset, start, n, mention_text, geoname_id).
    A mention occurrence keeps ALL candidate gids sharing its surface
    (disambiguation is stage 2's job) unless `cap` is set, which bounds
    candidates per occurrence to the top `cap` by (population DESC,
    geoname_id ASC) — the reference's LIMIT 20 (reconcile.py:61-63).

    The whole operator is ONE shuffle, and that shuffle carries ONE row
    per matched occurrence — never the alias fan-out. Longest-match
    containment depends only on which (start, n) windows matched (a
    surviving surface keeps ALL its candidate gids, a dominated one
    keeps none), so the occurrence DECISION is made on a fan-out-free
    stream (one semi-join against the distinct surface vocabulary) and
    the candidate gids are attached AFTER the decision via the broadcast
    alias map (guide §8: decide with small rows, attach the heavy
    fan-out once). Measured at sf0.1: 36.8M hit rows collapse to 720k
    occurrence rows (51x) entering the per-span groupBy. The surface
    string rides the occurrence struct, so the old corpus-wide
    tokens-rebuild join is gone entirely.
    """
    am = alias_map(places, with_population=cap is not None)
    if grams is None:
        grams = pruned_ngram_candidates(text_spans(documents),
                                        alias_first_tokens(am))
    # alias lengths bound the useful gram universe — prune before the join
    grams = grams.where(F.length("gram_norm").between(2, 60))
    if cap is not None:
        from pyspark.sql import Window
        w = (Window.partitionBy("alias_norm")
             .orderBy(F.col("population").desc_nulls_last(),
                      F.col("geoname_id").asc()))
        am = (am.withColumn("cr", F.row_number().over(w))
              .where(F.col("cr") <= cap).drop("cr", "population"))
    # occurrence stream: one row per (span, start, n) whose surface is in
    # the vocabulary — the cap keeps >= 1 candidate per surface, so the
    # matched-occurrence set is cap-invariant. Semi-join dims tolerate
    # duplicate keys: the dedup-free alias stream costs zero exchanges.
    vocab = alias_map(places, dedup=False).select("alias_norm")
    occ = grams.join(F.broadcast(vocab),
                     grams.gram_norm == vocab.alias_norm, "left_semi")
    per_span = (occ.groupBy("doc_id", "span_offset")
                .agg(F.collect_list(
                    F.struct("start", "n", "gram")).alias("occs")))
    kept = F.filter(
        F.col("occs"),
        lambda c: ~F.exists(
            F.col("occs"),
            lambda o: (o["start"] <= c["start"])
            & (o["start"] + o["n"] >= c["start"] + c["n"])
            & (o["n"] > c["n"])))
    surv = (per_span
            .select("doc_id", "span_offset", F.explode(kept).alias("m"))
            .select("doc_id", "span_offset",
                    F.col("m.start").alias("start"),
                    F.col("m.n").alias("n"),
                    F.col("m.gram").alias("mention_text"),
                    F.lower(F.col("m.gram")).alias("gram_norm")))
    am = F.broadcast(am)
    return (surv.join(am, surv.gram_norm == am.alias_norm, "inner")
            .select("doc_id", "span_offset", "start", "n", "mention_text",
                    "geoname_id"))
