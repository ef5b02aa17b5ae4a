"""End-to-end KG-construction pipeline (SURVEY.md §7.1).

    documents ──[1] mention detection ──[2] entity linking ─┐
    gazetteer ──[0] ingest ──[3] triple extraction ─────────┤
                                                            ▼
    [4] canonicalization (sameAs connected components) → rewrite
    [5] materialize: nodes + edges tables (+ _metrics/_lineage)

Every stage is a pure DataFrame transform checkpointed via
CheckpointStore; a re-run resumes after the last completed stage.
Documents are repartitioned once on hash(doc_id) (the north rule's
explicit repartitioning) and media spans pass through untouched.
"""

from __future__ import annotations

import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_linked_open_data_kg_spark.functions.geo import cell_id, coarse_cell
from geo_linked_open_data_kg_spark.operators import (
    admin,
    biography,
    direct_link,
    linking,
    postal,
    spatial,
)
from geo_linked_open_data_kg_spark.operators.canonicalize import (
    canonical_mapping,
    rewrite_triples,
)
from geo_linked_open_data_kg_spark.plans.checkpoint import CheckpointStore
from geo_linked_open_data_kg_spark.sources.registry import load

TRIPLE_COLS = ["subj", "pred", "obj", "confidence", "evidence"]
# the canonical_triples table as read back: `rewrite_triples`' columns
TRIPLES_SCHEMA = ("subj string, pred string, obj string, confidence double,"
                  " evidence string")
# the edges table as read back: `edge_table`'s columns, with its
# partition columns pred and cell last
EDGES_SCHEMA = ("subj string, obj string, confidence double,"
                " evidence string, s_lat double, s_lon double,"
                " pred string, cell int")


def run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str,
                 doc_partitions: int | None = None,
                 force: bool = False) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns the stage outputs.

    `doc_partitions` sets the corpus repartition count (default: the
    session's shuffle-partition count); `force` recomputes every stage
    even where its checkpoint exists. The three leading stage chains run
    concurrently: if one fails, the others' Spark jobs are cancelled
    and its error is raised once they have stopped; a re-run resumes
    from the stages committed before the failure."""
    ckpt = CheckpointStore(out_dir)
    # match the shuffle-partition count so the reused corpus clustering
    # carries the same parallelism as every downstream exchange
    n_part = doc_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions"))

    places = load(spark, sf_dir, "places")
    wd = load(spark, sf_dir, "wikidata_places")
    persons = load(spark, sf_dir, "persons")
    orgs = load(spark, sf_dir, "organizations")
    post_offices = load(spark, sf_dir, "post_offices")
    a1 = (load(spark, sf_dir, "admin1_names")
          .where(F.col("country_code") == "AA"))
    # repartition by the doc_id COLUMN (not an opaque hash(doc_id)
    # expression): Catalyst then knows the corpus is clustered by doc_id,
    # so the cascade's per-span groupBy ((doc_id, span_offset) ⊇ doc_id)
    # and the tokens-rebuild join satisfy their distribution requirements
    # WITHOUT further corpus-wide exchanges — one shuffle of the corpus
    # total, reused across DAG branches (ReuseExchange)
    raw_docs = load(spark, sf_dir, "geo_documents")
    docs = raw_docs.repartition(n_part, F.col("doc_id"))
    fprio = load(spark, sf_dir, "feature_priority")
    wprio = load(spark, sf_dir, "wd_type_priority")

    def _linked_chain() -> tuple[DataFrame, DataFrame]:
        linked = ckpt.get_or_compute(
            spark, "linked_mentions",
            # n_docs from the raw scan (row-group stats count) — counting
            # the repartitioned df would run the corpus exchange twice
            lambda: linking.link_mentions(
                docs, places, n_docs=raw_docs.count()),
            force=force)
        mention_t = ckpt.get_or_compute(
            spark, "mention_triples",
            lambda: linking.mention_triples(linked), force=force)
        return linked, mention_t

    def _gaz():
        # every edge family the reference loads (load_post_offices.py:146,
        # load_wikidata_entities.py:195, ENTITY_LINKING_PLAN_UPDATED.md:
        # 106-221) — all rewritten through canonicalization downstream
        fams = [
            direct_link.direct_id_links(wd, places),
            admin.admin_triples(places),
            spatial.promote_near_to_same_as(
                spatial.spatial_links(wd, places, fprio, wprio)),
            biography.born_in(persons, wd),
            biography.died_in(persons, wd),
            biography.resided_in(persons, wd),
            biography.worked_at(persons, wd),
            biography.citizen_of(persons, wd),
            biography.spouse_pairs(persons),
            biography.parent_of(persons),
            biography.headquartered_in(orgs, wd),
            biography.founded_in(orgs, wd),
            postal.post_office_links(post_offices, places, a1),
        ]
        out = fams[0].select(*TRIPLE_COLS)
        for f in fams[1:]:
            out = out.unionByName(f.select(*TRIPLE_COLS))
        return out

    # The three leading stage chains are mutually independent:
    # linked_mentions(+mention_triples), gazetteer_triples, and nodes.
    # Run them as concurrent driver threads (guide §2.6: actions are
    # only sequential because the driver calls them sequentially) so the
    # scheduler backfills one chain's straggler tail with the next
    # chain's tasks. FIFO scheduling keeps the first-submitted (longest)
    # chain prioritized; resume semantics are unchanged — each stage
    # still checks its own checkpoint independently.
    (linked, mention_t), gaz_triples, nodes = run_chains(spark, [
        _linked_chain,
        lambda: ckpt.get_or_compute(
            spark, "gazetteer_triples", _gaz, force=force),
        lambda: ckpt.get_or_compute(
            spark, "nodes",
            lambda: build_nodes(places, wd, persons, orgs, post_offices),
            partition_by=["label"], force=force)])

    # CC convergence audit (no silent iteration caps): the stats this
    # stage's own CC run returned, read by extra_metrics_fn after compute
    cc_stats: dict = {}

    def _canon_compute() -> DataFrame:
        mapping, stats = canonical_mapping(
            gaz_triples.where(F.col("pred") == "sameAs"))
        cc_stats.update(stats)
        return rewrite_triples(
            gaz_triples.unionByName(mention_t.select(*TRIPLE_COLS)),
            mapping)

    canon = ckpt.get_or_compute(
        spark, "canonical_triples", _canon_compute, force=force,
        extra_metrics_fn=lambda: [
            ("cc_rounds_run", cc_stats.get("rounds_run", -1)),
            ("cc_converged", int(cc_stats.get("converged", False)))])

    edges = ckpt.get_or_compute(
        spark, "edges", lambda: edge_table(canon, nodes, n_part),
        partition_by=["pred", "cell"], force=force)

    return {"linked_mentions": linked, "mention_triples": mention_t,
            "gazetteer_triples": gaz_triples, "canonical_triples": canon,
            "nodes": nodes, "edges": edges}


def run_chains(spark: SparkSession, chains: list) -> list:
    """Run the no-argument `chains` on concurrent driver threads and
    return their results in order.

    Fail fast: once a chain raises, every Spark job of the others is
    cancelled (one job tag per run on all chain threads, re-cancelled
    until they have stopped, since a chain may start its next job
    meanwhile) and the first error is raised."""
    sc = spark.sparkContext
    tag = f"run_chains-{uuid.uuid4().hex}"

    def tagged(chain):
        def run():
            sc.addJobTag(tag)
            try:
                return chain()
            finally:
                sc.removeJobTag(tag)
        return run

    with ThreadPoolExecutor(max_workers=len(chains)) as pool:
        futures = [pool.submit(tagged(c)) for c in chains]
        done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        failed = [f for f in futures if f in done and f.exception()]
        if failed:
            while pending:
                sc.cancelJobsWithTag(tag)
                _, pending = wait(pending, timeout=0.05)
            raise failed[0].exception()
        return [f.result() for f in futures]


def edge_table(triples: DataFrame, nodes: DataFrame, n_part: int
               ) -> DataFrame:
    """The edges stage: `triples` with their subject's coordinate
    (`s_lat`, `s_lon`) and layout `cell`, to be written
    `partitionBy("pred", "cell")`.

    North rule: node/edge tables "partitioned by H3 cell and predicate".
    An edge's cell is its subject's coarse grid box
    (functions/geo.coarse_cell), so spatial reads prune to (pred, cell)
    directories and refine on `s_lat`/`s_lon` without reading nodes. A
    subject with several coordinate rows takes their lexicographic
    struct-min; a subject with none (persons, orgs) gets null
    coordinates and cell -1. The subject dim is keyed, deduped and tiny
    relative to the edge table (nodes vs triples), so this is one
    equi-join Catalyst broadcasts here and would shuffle-hash at cluster
    scale; the explicit repartition on the partition spec keeps the
    write at one file per (pred, cell) dir instead of one per task per
    dir."""
    subj_coords = (nodes
                   .where(F.col("latitude").isNotNull())
                   .groupBy(F.col("id").alias("subj"))
                   .agg(F.min(F.struct("latitude", "longitude")).alias("c"))
                   # cell here, not after the left join: coarse_cell of
                   # a null coordinate is a real cell (least() skips nulls)
                   .select("subj", F.col("c.latitude").alias("s_lat"),
                           F.col("c.longitude").alias("s_lon"),
                           coarse_cell(F.col("c.latitude"),
                                       F.col("c.longitude")).alias("cell")))
    return (triples.join(subj_coords, "subj", "left")
            .withColumn("cell", F.coalesce(F.col("cell"), F.lit(-1)))
            # an explicit count: AQE coalesces a count-less repartition
            # of this small input into ONE write task; each (pred, cell)
            # still hashes to a single task
            .repartition(n_part, "pred", "cell")
            .select(*TRIPLE_COLS, "s_lat", "s_lon", "cell"))


def build_nodes(places: DataFrame, wd: DataFrame, persons: DataFrame,
                orgs: DataFrame | None = None,
                post_offices: DataFrame | None = None) -> DataFrame:
    """Materialized node table: (id, label, name, latitude, longitude,
    country_code, cell_id) — the Neo4j labels become a partition column
    (SURVEY.md §1.1). All reference node families: Place, WikidataPlace,
    Person, Organization (load_wikidata_entities.py:195), PostOffice
    (load_post_offices.py:146)."""
    nolat = F.lit(None).cast("double")
    p = places.select(
        F.concat(F.lit("gn:"), F.col("geoname_id")).alias("id"),
        F.lit("Place").alias("label"), "name", "latitude", "longitude",
        "country_code")
    w = wd.select(
        F.col("qid").alias("id"), F.lit("WikidataPlace").alias("label"),
        "name", "latitude", "longitude",
        F.col("country_qid").alias("country_code"))
    pe = persons.select(
        F.col("qid").alias("id"), F.lit("Person").alias("label"), "name",
        nolat.alias("latitude"), nolat.alias("longitude"),
        F.col("citizenship_qid").alias("country_code"))
    out = p.unionByName(w).unionByName(pe)
    if orgs is not None:
        out = out.unionByName(orgs.select(
            F.col("qid").alias("id"), F.lit("Organization").alias("label"),
            "name", nolat.alias("latitude"), nolat.alias("longitude"),
            F.lit(None).cast("string").alias("country_code")))
    if post_offices is not None:
        out = out.unionByName(post_offices.select(
            F.concat(F.lit("po:"), F.col("id_number")).alias("id"),
            F.lit("PostOffice").alias("label"), "name",
            nolat.alias("latitude"), nolat.alias("longitude"),
            F.lit(None).cast("string").alias("country_code")))
    return out.withColumn(
        "cell_id",
        F.when(F.col("latitude").isNotNull(),
               cell_id("latitude", "longitude")))
