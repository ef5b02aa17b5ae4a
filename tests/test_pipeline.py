"""End-to-end pipeline: run, resume-from-checkpoint, metrics/lineage."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from geo_linked_open_data_kg_spark.plans.pipeline import (
    EDGES_SCHEMA,
    edge_table,
    run_pipeline,
)

SF_DIR = "/root/testdata/sf0.001"
STAGES = ["linked_mentions", "mention_triples", "gazetteer_triples", "nodes",
          "canonical_triples", "edges"]
METRICS_SCHEMA = "struct<stage:string,metric:string,value:bigint>"
LINEAGE_SCHEMA = "struct<partition_id:int,n_rows:bigint,stage:string>"


@pytest.fixture(scope="module")
def out_dir():
    d = tempfile.mkdtemp(prefix="kg_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_pipeline_end_to_end(spark, out_dir):
    res = run_pipeline(spark, SF_DIR, out_dir)
    canon = res["canonical_triples"]
    assert canon.count() > 0
    preds = {r["pred"] for r in canon.select("pred").distinct().collect()}
    # every materialized edge family (VERDICT r2 item 3 + FOUNDED item 4)
    assert {"sameAs", "nearTo", "partOf", "mentions", "locatedInCountry",
            "bornIn", "diedIn", "residedIn", "workedAt", "citizenOf",
            "spouseOf", "parentOf", "headquarteredIn", "foundedIn"} <= preds
    # ADM4 level is non-vacuous (VERDICT r3 item 4): the fixture now emits
    # ADM4 units + admin4-coded populated places, so locatedInAdmin4 and
    # ADM4->ADM3 partOf edges must materialize
    assert "locatedInAdmin4" in preds
    assert canon.where(F.col("pred") == "locatedInAdmin4").count() > 0
    labels = {r["label"] for r in
              res["nodes"].select("label").distinct().collect()}
    assert {"Place", "WikidataPlace", "Person", "Organization",
            "PostOffice"} == labels
    # canonical rewrite: no non-sameAs self loops
    assert canon.where((F.col("pred") != "sameAs")
                       & (F.col("subj") == F.col("obj"))).count() == 0
    # edges partitioned by (pred, cell) on disk — the north rule's
    # "H3 cell and predicate" layout; the join back to subject
    # coordinates must not duplicate or drop edges
    edges = spark.read.parquet(f"{out_dir}/edges")
    assert edges.count() == canon.count()
    assert "cell" in edges.columns
    import os
    pred_dirs = [d for d in os.listdir(f"{out_dir}/edges")
                 if d.startswith("pred=")]
    assert pred_dirs, "edges not hive-partitioned by pred"
    cell_dirs = [d for d in os.listdir(f"{out_dir}/edges/{pred_dirs[0]}")
                 if d.startswith("cell=")]
    assert cell_dirs, "edges not sub-partitioned by cell"
    # place-subject edges carry a real cell; person-subject edges the
    # -1 sentinel — both non-vacuously
    assert edges.where((F.col("pred") == "nearTo")
                       & (F.col("cell") >= 0)).count() > 0
    assert edges.where((F.col("pred") == "bornIn")
                       & (F.col("cell") == -1)).count() > 0
    # every edge carries its subject's struct-min coordinate, null
    # exactly in cell -1
    assert edges.schema.simpleString() == \
        StructType.fromDDL(EDGES_SCHEMA).simpleString()
    canon_coords = (res["nodes"].where(F.col("latitude").isNotNull())
                    .groupBy(F.col("id").alias("subj"))
                    .agg(F.min(F.struct("latitude", "longitude")).alias("c")))
    bad = (edges.join(canon_coords, "subj", "left")
           .where(~(F.col("s_lat").eqNullSafe(F.col("c.latitude"))
                    & F.col("s_lon").eqNullSafe(F.col("c.longitude"))
                    & (F.col("s_lat").isNull() == (F.col("cell") == -1)))))
    assert bad.count() == 0, bad.limit(5).collect()


def test_pipeline_resume_skips_completed_stages(spark, out_dir):
    import time
    t0 = time.time()
    res = run_pipeline(spark, SF_DIR, out_dir)  # all checkpoints exist
    elapsed = time.time() - t0
    assert res["canonical_triples"].count() > 0
    assert elapsed < 30, f"resume took {elapsed:.0f}s — stages re-ran"


def test_metrics_and_lineage_written(spark, out_dir):
    m = spark.read.parquet(f"{out_dir}/_metrics/canonical_triples")
    rows = {r["metric"]: r["value"] for r in m.collect()}
    assert rows["n_rows"] > 0
    assert any(k.startswith("n_triples:") for k in rows)
    # round-5 CC convergence audit (no silent iteration caps): the
    # canonicalization stage records rounds_run + converged
    assert rows["cc_converged"] == 1, rows
    assert 1 <= rows["cc_rounds_run"] <= 25, rows
    # commit contract: the counts a commit reads from parquet footers
    # and pred= directories equal a Spark count of every stage table
    import os
    assert sorted(os.listdir(f"{out_dir}/_metrics")) == sorted(STAGES)
    for stage in STAGES:
        table = spark.read.parquet(f"{out_dir}/{stage}")
        m = spark.read.parquet(f"{out_dir}/_metrics/{stage}")
        assert m.schema.simpleString() == METRICS_SCHEMA, stage
        rows = {r["metric"]: r["value"] for r in m.collect()}
        assert {r["stage"] for r in m.collect()} == {stage}
        assert rows["n_rows"] == table.count(), stage
        if "pred" in table.columns:
            want = {f"n_triples:{r['pred']}": r["count"]
                    for r in table.groupBy("pred").count().collect()}
            assert {k: v for k, v in rows.items()
                    if k.startswith("n_triples:")} == want, stage
        lin = spark.read.parquet(f"{out_dir}/_lineage/{stage}")
        assert lin.schema.simpleString() == LINEAGE_SCHEMA, stage
        assert lin.agg(F.sum("n_rows")).first()[0] == rows["n_rows"], stage
        assert {r["stage"] for r in lin.collect()} == {stage}


def test_failing_chain_cancels_its_siblings_and_resumes(
        spark, out_dir, tmp_path, monkeypatch):
    """A stage chain that fails stops the run before the other chains
    commit: their Spark jobs are cancelled and the failure is raised.
    A re-run without the fault resumes to the uninterrupted build's
    canonical_triples and edges."""
    from geo_linked_open_data_kg_spark.plans import pipeline
    from geo_linked_open_data_kg_spark.plans.checkpoint import CheckpointStore

    def boom(*args, **kwargs):
        raise RuntimeError("injected build_nodes failure")

    ckpt = str(tmp_path / "graph")
    with monkeypatch.context() as m:
        m.setattr(pipeline, "build_nodes", boom)
        with pytest.raises(RuntimeError, match="injected build_nodes"):
            run_pipeline(spark, SF_DIR, ckpt)
    store = CheckpointStore(ckpt)
    assert [s for s in STAGES if store.exists(s)] == []

    resumed = run_pipeline(spark, SF_DIR, ckpt)
    ref = run_pipeline(spark, SF_DIR, out_dir)  # the uninterrupted build
    for stage in ("canonical_triples", "edges"):
        got = sorted(map(tuple, resumed[stage].collect()))
        want = sorted(map(tuple, ref[stage].collect()))
        assert len(got) > 0 and got == want, stage


def test_commit_runs_only_the_write_job(spark, tmp_path):
    """A stage commit of an unpartitioned table with no pred column is
    one Spark job, the write; a pred-partitioned commit reads its
    per-pred counts from the (escaped) pred= directory names; a
    merge_upsert shadow write records the real stage label."""
    from geo_linked_open_data_kg_spark.plans.checkpoint import (
        CheckpointStore,
        partition_dir,
    )
    store = CheckpointStore(str(tmp_path))
    sc = spark.sparkContext
    df = spark.createDataFrame([(i, f"n{i}") for i in range(20)],
                               "id long, name string")
    group = "test-commit-jobs"
    sc.setJobGroup(group, "one checkpoint commit")
    try:
        out = store.write(df, "small")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert out.schema == df.schema
    assert sorted(out.collect()) == sorted(df.collect())
    lin = spark.read.parquet(f"{tmp_path}/_lineage/small")
    assert lin.agg(F.sum("n_rows")).first()[0] == 20

    triples = spark.createDataFrame(
        [("s1", "has:colon", "o"), ("s2", "has:colon", "o"),
         ("s3", "has space", "o"), ("s4", "a/b=c%", "o"),
         ("s5", None, "o")],
        "subj string, pred string, obj string")
    store.write(triples, "by_pred", partition_by=["pred"])
    rows = {r["metric"]: r["value"] for r in
            spark.read.parquet(f"{tmp_path}/_metrics/by_pred").collect()}
    assert rows == {"n_rows": 5, "n_triples:has:colon": 2,
                    "n_triples:has space": 1, "n_triples:a/b=c%": 1,
                    None: 1}
    # partition_dir names the directories Spark wrote
    import os
    assert {partition_dir("pred", p) for p in
            ("has:colon", "has space", "a/b=c%", None)} == \
        {d for d in os.listdir(f"{tmp_path}/by_pred") if d.startswith("pred=")}

    store.merge_upsert(df, "merged", keys=["id"])
    store.merge_upsert(df.limit(3), "merged", keys=["id"])
    for sub in ("_metrics", "_lineage"):
        t = spark.read.parquet(f"{tmp_path}/{sub}/merged")
        assert {r["stage"] for r in t.collect()} == {"merged"}, sub
    assert store.read(spark, "merged").count() == 20


def test_merge_upsert_incremental_document_update(spark):
    """K1 MERGE-INTO semantics (SURVEY §1.1): re-running with one
    changed and one added document UPDATES (never duplicates) the
    checkpointed mention triples, and the merged table equals a full
    recompute over the new corpus. Fuzzy is off: its stoplist is a
    corpus-level statistic, out of scope for keyed row merging."""
    import tempfile

    from geo_linked_open_data_kg_spark.operators.linking import (
        link_mentions,
    )
    from geo_linked_open_data_kg_spark.plans.checkpoint import (
        CheckpointStore,
    )
    from geo_linked_open_data_kg_spark.sources.registry import load

    d = tempfile.mkdtemp(prefix="kg_merge_")
    try:
        docs = load(spark, SF_DIR, "geo_documents")
        places = load(spark, SF_DIR, "places")
        docs_a = docs.orderBy("doc_id").limit(40).cache()
        first_id = docs_a.select("doc_id").orderBy("doc_id").first()[0]
        changed = (docs_a.where(F.col("doc_id") == first_id)
                   .withColumn("spans", F.expr("slice(spans, 1, 1)")))
        added = (docs.orderBy(F.col("doc_id").desc()).limit(1)
                 .withColumn("doc_id", F.lit("doc-appended")))
        docs_b = (docs_a.where(F.col("doc_id") != first_id)
                  .unionByName(changed).unionByName(added))
        delta = changed.unionByName(added)

        store = CheckpointStore(d)
        store.merge_upsert(link_mentions(docs_a, places, with_fuzzy=False),
                           "lm", keys=["doc_id"])
        got_df = store.merge_upsert(
            link_mentions(delta, places, with_fuzzy=False),
            "lm", keys=["doc_id"])
        got = {tuple(r) for r in got_df.collect()}
        want = {tuple(r) for r in
                link_mentions(docs_b, places, with_fuzzy=False).collect()}
        assert got == want and len(got) > 0
        # no duplicated keys from the upsert; metrics carry the real name
        assert got_df.count() == got_df.distinct().count()
        m = spark.read.parquet(f"{d}/_metrics/lm")
        assert {r["stage"] for r in m.collect()} == {"lm"}

        # crash-recovery: simulate dying between "move current aside" and
        # "promote shadow" — stage dir gone, __old intact. exists() must
        # heal it so the next merge never treats a delta as full table.
        import os
        n_before = store.read(spark, "lm").count()
        os.replace(f"{d}/lm", f"{d}/lm__old")
        assert store.exists("lm")
        assert store.read(spark, "lm").count() == n_before
    finally:
        import shutil as sh
        sh.rmtree(d, ignore_errors=True)


def test_nearby_edges_serving_is_partition_pruned_and_exact(spark, out_dir):
    """The (pred, cell) layout's payoff: a point-radius serving query
    opens only the cover's partition dirs, in at most two Spark jobs,
    yet returns exactly the full-scan answer."""
    import os
    from urllib.parse import urlparse

    from geo_linked_open_data_kg_spark.functions.geo import (
        coarse_cells_covering,
        haversine_km,
    )
    from geo_linked_open_data_kg_spark.operators.serving import (
        nearby_edges,
    )

    nodes = spark.read.parquet(f"{out_dir}/nodes")
    p = (nodes.where(F.col("latitude").isNotNull())
         .orderBy("id").first())
    qlat, qlon = float(p["latitude"]), float(p["longitude"])

    sc = spark.sparkContext
    group = "test-nearby-read"
    sc.setJobGroup(group, "one nearby read")
    try:
        res = nearby_edges(spark, out_dir, "nearTo", qlat, qlon, 50.0)
        rows = res.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 1 <= n_jobs <= 2, n_jobs
    got = {(r["subj"], r["obj"], r["dist_km"]) for r in rows}

    # brute reference: full edge scan, subject coordinates from nodes
    coords = (nodes.where(F.col("latitude").isNotNull())
              .groupBy(F.col("id").alias("subj"))
              .agg(F.min(F.struct("latitude", "longitude")).alias("c"))
              .select("subj", F.col("c.latitude").alias("la"),
                      F.col("c.longitude").alias("lo")))
    brute = (spark.read.parquet(f"{out_dir}/edges")
             .where(F.col("pred") == "nearTo")
             .join(coords, "subj")
             .withColumn("dist_km",
                         F.round(haversine_km(F.col("la"), F.col("lo"),
                                              F.lit(qlat), F.lit(qlon)),
                                 3))
             .where(F.col("dist_km") <= 50.0))
    want = {(r["subj"], r["obj"], r["dist_km"]) for r in brute.collect()}
    assert got == want
    assert got, "serving query found nothing near a dense place"

    # pruning evidence: every file the read opens lies in a
    # pred=nearTo/cell=<c> dir of the query's cover
    cover = {os.path.join(out_dir, "edges", "pred=nearTo", f"cell={c}")
             for c in coarse_cells_covering(qlat, qlon, 50.0)}
    files = res.inputFiles()
    assert files
    for f in files:
        assert os.path.dirname(urlparse(f).path) in cover, f


def test_coarse_cells_covering_matches_column_twin(spark):
    """Driver-side coarse cover must agree with the Column coarse_cell:
    every probe point's own cell is in its cover, for a sweep of points
    including band edges, the antimeridian, and polar clamps."""
    from geo_linked_open_data_kg_spark.functions.geo import (
        coarse_cell,
        coarse_cells_covering,
    )
    pts = [(la, lo) for la in (-89.9, -60.0, -15.0, 0.0, 14.99, 15.0,
                               44.9, 75.0, 89.9)
           for lo in (-180.0, -179.9, -90.0, -0.1, 0.0, 44.9, 120.0,
                      179.9)]
    df = spark.createDataFrame(pts, "lat double, lon double").withColumn(
        "cell", coarse_cell(F.col("lat"), F.col("lon")))
    for r in df.collect():
        for radius in (1.0, 100.0, 900.0):
            cover = coarse_cells_covering(r["lat"], r["lon"], radius)
            assert r["cell"] in cover, (r, radius, cover)


def test_ego_edges_matches_python_bfs(spark, out_dir):
    """k-hop ego graph == reference BFS over the collected edges table
    (so it also checks that canonical_triples, which ego_edges reads,
    holds the edges table's rows), including first-reached hop
    attribution, for k = 1, 2 and 3: from the highest-degree node
    (stresses the per-hop dedup), restricted to some predicates, and
    from a node with no edges. Each read runs at most k Spark jobs and
    opens only files of the one-directory canonical_triples table, so
    the (pred, cell) edge dirs are never listed. k = 0 gives the empty
    frame."""
    import os
    from collections import defaultdict
    from urllib.parse import urlparse

    from geo_linked_open_data_kg_spark.operators.serving import ego_edges

    triples = [(r["subj"], r["pred"], r["obj"]) for r in
               spark.read.parquet(f"{out_dir}/edges")
               .select("subj", "pred", "obj").collect()]

    def bfs(start, k, preds=None):
        adj = defaultdict(set)
        for s, p, o in triples:
            if preds is None or p in preds:
                adj[s].add((s, p, o))
                adj[o].add((s, p, o))
        seen_nodes, frontier = {start}, {start}
        edge_hop: dict[tuple, int] = {}
        for hop in range(1, k + 1):
            hit = {e for n in frontier for e in adj[n]}
            for e in hit:
                edge_hop.setdefault(e, hop)
            nodes = {x for e in hit for x in (e[0], e[2])}
            frontier = nodes - seen_nodes
            seen_nodes |= nodes
        return {(s, p, o, h) for (s, p, o), h in edge_hop.items()}

    def hub(preds=None):
        degree = defaultdict(int)
        for s, p, o in triples:
            if preds is None or p in preds:
                degree[s] += 1
                degree[o] += 1
        return max(degree, key=degree.get)

    schema = ("struct<subj:string,pred:string,obj:string,confidence:double,"
              "evidence:string,hop:int>")
    preds = ["nearTo", "partOf"]
    # the restriction bites: the unrestricted ego graph is larger
    assert bfs(hub(preds), 2, preds) < bfs(hub(preds), 2)
    # each k reaches further than the one before
    assert bfs(hub(), 1) < bfs(hub(), 2) < bfs(hub(), 3)
    root = os.path.join(out_dir, "canonical_triples")
    sc = spark.sparkContext
    for k in (1, 2, 3):
        for start, ps in ((hub(), None), (hub(preds), preds),
                          ("no-such-node", None)):
            group = f"test-ego-read-{k}-{start}-{ps}"
            sc.setJobGroup(group, "one ego read")
            try:
                res = ego_edges(spark, out_dir, [start], k=k, preds=ps)
                rows = res.collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert 1 <= n_jobs <= k, (start, ps, k, n_jobs)
            assert res.schema.simpleString() == schema
            files = res.inputFiles()
            assert files
            for f in files:
                assert os.path.dirname(urlparse(f).path) == root, f
            got = {(r["subj"], r["pred"], r["obj"], r["hop"]) for r in rows}
            assert len(got) == len(rows), (start, ps, k)
            assert got == bfs(start, k, ps), (start, ps, k)
            assert bool(got) == (start != "no-such-node"), (start, ps, k)
    res = ego_edges(spark, out_dir, [hub()], k=0)
    assert res.schema.simpleString() == schema
    assert res.collect() == []


@pytest.fixture(scope="module")
def golden_graph(spark):
    """A four-subject graph around the antimeridian and the south pole,
    its edges laid out by the pipeline's own `edge_table`."""
    nodes = spark.createDataFrame(
        [("east", 10.0, 179.9), ("west", 10.0, -179.9),
         ("far", 10.0, 170.0), ("polar", -89.7, 150.0)],
        "id string, latitude double, longitude double")
    triples = (spark.createDataFrame(
        [("east", "nearTo", "o1"), ("west", "nearTo", "o2"),
         ("far", "nearTo", "o3"), ("polar", "nearTo", "o4")],
        "subj string, pred string, obj string")
        .withColumn("confidence", F.lit(1.0))
        .withColumn("evidence", F.lit("golden")))
    d = tempfile.mkdtemp(prefix="kg_serve_golden_")
    (edge_table(triples, nodes, 2)
     .write.partitionBy("pred", "cell").parquet(f"{d}/edges"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_nearby_edges_antimeridian_and_polar(spark, golden_graph):
    """Functional coverage for the serving bbox's two hard branches: the
    antimeridian two-window wrap and the pole-crossing full-ring case
    (the clamped planar window used to drop the polar subject)."""
    from geo_linked_open_data_kg_spark.operators.serving import (
        nearby_edges,
    )

    # query 0.05 deg east of the antimeridian: both straddling
    # nodes are within ~17 km, the 170-deg node is ~1000 km out
    got = {r["subj"] for r in nearby_edges(
        spark, golden_graph, "nearTo", 10.0, 179.95, 50.0).collect()}
    assert got == {"east", "west"}

    # pole-crossing disc: the subject sits 150 deg of longitude away
    # but only ~54 km over the pole — the full-ring branch must keep it
    got = {r["subj"] for r in nearby_edges(
        spark, golden_graph, "nearTo", -89.8, 0.0, 100.0).collect()}
    assert got == {"polar"}


def test_nearby_edges_empty_cover(spark, golden_graph):
    """A disc whose cover holds no partition dir of the predicate, or a
    predicate the graph lacks, reads nothing and returns an empty frame
    with the output schema."""
    from geo_linked_open_data_kg_spark.operators.serving import (
        nearby_edges,
    )

    for pred, lat, lon in (("nearTo", 45.0, 60.0),
                           ("bornIn", 10.0, 179.95),
                           ("has:colon", 10.0, 179.95)):
        res = nearby_edges(spark, golden_graph, pred, lat, lon, 50.0)
        assert res.schema.simpleString() == (
            "struct<subj:string,pred:string,obj:string,confidence:double,"
            "evidence:string,dist_km:double>")
        assert res.collect() == []


def test_nearby_edges_refuses_edges_without_subject_coords(
        spark, golden_graph, tmp_path):
    """An edges table written before edges stored their subject
    coordinate raises, naming the missing columns, instead of returning
    an empty result."""
    from geo_linked_open_data_kg_spark.operators.serving import (
        nearby_edges,
    )

    old = str(tmp_path / "old")
    (spark.read.parquet(f"{golden_graph}/edges").drop("s_lat", "s_lon")
     .write.partitionBy("pred", "cell").parquet(f"{old}/edges"))
    with pytest.raises(ValueError, match="s_lat, s_lon.*edges stage"):
        nearby_edges(spark, old, "nearTo", 10.0, 179.95, 50.0)


def test_ego_edges_refuses_graph_without_canonical_triples(
        spark, golden_graph):
    """A graph directory that holds no canonical_triples table raises,
    naming the table, instead of reading nothing."""
    from geo_linked_open_data_kg_spark.operators.serving import ego_edges

    with pytest.raises(ValueError, match="no canonical_triples table"):
        ego_edges(spark, golden_graph, ["east"], k=2)
