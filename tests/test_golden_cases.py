"""Named behavioral cases ported from the reference (SURVEY.md §5 /
FIXTURES.md §8 golden-case checklist)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from geo_linked_open_data_kg_spark.operators.canonicalize import (
    connected_components,
    rewrite_triples,
)
from geo_linked_open_data_kg_spark.operators.direct_link import (
    direct_id_links,
)
from geo_linked_open_data_kg_spark.operators.spatial import (
    spatial_links,
)


def _places(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])

PLACE_BASE = dict(ascii_name="x", alternate_names=["alt"], admin2_code="001",
                  admin3_code="0001", admin4_code="0", elevation=0,
                  timezone="Z", modified_date="2020-01-01")


def test_toronto_cn_tower_priority(spark):
    """Historical coords near both the city and a co-located landmark must
    link to the settlement, not the POI (link_hgis_to_lod.py:381-424)."""
    places = _places(spark, [
        dict(PLACE_BASE, geoname_id=1, name="Toronto", latitude=43.6534,
             longitude=-79.3841, feature_class="P", feature_code="PPL",
             country_code="CA", admin1_code="08", population=2731571),
        dict(PLACE_BASE, geoname_id=2, name="CN Tower", latitude=43.6426,
             longitude=-79.3871, feature_class="S", feature_code="TOWR",
             country_code="CA", admin1_code="08", population=0),
    ])
    wd = spark.createDataFrame([Row(
        qid="Q100", name="Toronto", latitude=43.6500, longitude=-79.3850,
        instance_of_qid="Q515")])
    fprio = spark.createDataFrame([Row(feature_code="PPL", priority=80),
                                   Row(feature_code="TOWR", priority=20)])
    wprio = spark.createDataFrame([Row(instance_of_qid="Q515", priority=90)])
    links = spatial_links(wd, places, fprio, wprio).collect()
    best = min(links, key=lambda r: r["rank"])
    assert best["obj"] == "gn:1", f"city must outrank tower: {links}"


def test_string_vs_long_geonames_id_cast(spark):
    """link_direct_geonames_ids.py:5,60-76 + trailing-garbage ids
    '6093943l' (PROJECT_STATUS.md:434-437)."""
    wd = spark.createDataFrame([
        Row(qid="Q1", geonames_id="42"),
        Row(qid="Q2", geonames_id="6093943l"),   # trailing garbage
        Row(qid="Q3", geonames_id="notanid"),
        Row(qid="Q4", geonames_id=None),
    ])
    places = spark.createDataFrame([Row(geoname_id=42),
                                    Row(geoname_id=6093943)])
    out = {r["subj"]: r["obj"] for r in direct_id_links(wd, places).collect()}
    assert out == {"Q1": "gn:42", "Q2": "gn:6093943"}


def test_high_latitude_cell_boundary_recall(spark):
    """10 km pairs straddling cell borders at 78°N must be found — the
    neighbour-cover must widen with shrinking longitude degrees
    (link_spatial_optimized.py:46-48 pole clamp)."""
    import numpy as np
    from geo_linked_open_data_kg_spark.functions.geo import (
        cell_ids_np,
        haversine_km,
        make_cover_cells_udf,
    )
    rng = np.random.default_rng(7)
    lats = rng.uniform(77.8, 78.2, 300)
    lons = rng.uniform(-10, 10, 300)
    pts = spark.createDataFrame(
        [Row(pid=i, lat=float(a), lon=float(o))
         for i, (a, o) in enumerate(zip(lats, lons))])
    cover = make_cover_cells_udf(10.0)
    probe = pts.select(F.col("pid").alias("a"), F.col("lat").alias("alat"),
                       F.col("lon").alias("alon")) \
        .withColumn("cell", F.explode(cover("alat", "alon")))
    from geo_linked_open_data_kg_spark.functions.geo import cell_id
    build = pts.select(F.col("pid").alias("b"), F.col("lat").alias("blat"),
                       F.col("lon").alias("blon")) \
        .withColumn("cell", cell_id("blat", "blon"))
    bucketed = (probe.join(build, "cell")
                .withColumn("d", haversine_km(F.col("alat"), F.col("alon"),
                                              F.col("blat"), F.col("blon")))
                .where((F.col("d") <= 10.0) & (F.col("a") < F.col("b")))
                .select("a", "b").distinct())
    brute = (pts.alias("x").join(pts.alias("y"),
                                 F.col("x.pid") < F.col("y.pid"))
             .withColumn("d", haversine_km(F.col("x.lat"), F.col("x.lon"),
                                           F.col("y.lat"), F.col("y.lon")))
             .where(F.col("d") <= 10.0)
             .select(F.col("x.pid").alias("a"), F.col("y.pid").alias("b")))
    n_brute = brute.count()
    n_missed = brute.join(bucketed, ["a", "b"], "left_anti").count()
    assert n_brute > 50, "fixture should generate many close pairs"
    assert n_missed == 0, f"cell cover missed {n_missed}/{n_brute} pairs"


def test_coarse_cell_grid_edges(spark):
    """Partition-grid goldens: pole clamp, antimeridian wrap, and the
    band*24+col id arithmetic at 15 degrees."""
    from geo_linked_open_data_kg_spark.functions.geo import coarse_cell
    rows = [
        # (lat, lon, expected): band = floor((lat+90)/15) clamped <= 11,
        # col = floor(mod(lon+180, 360)/15) clamped <= 23
        (0.0, 0.0, 6 * 24 + 12),
        (-90.0, -180.0, 0),          # south-west corner of the grid
        (90.0, 180.0, 11 * 24 + 0),  # pole clamps, antimeridian wraps
        (89.999, 179.999, 11 * 24 + 23),
        (43.65, -79.38, 8 * 24 + 6),  # Toronto
    ]
    df = spark.createDataFrame(
        [Row(i=i, lat=a, lon=o) for i, (a, o, _) in enumerate(rows)])
    got = {r["i"]: r["c"] for r in
           df.select("i", coarse_cell(F.col("lat"),
                                      F.col("lon")).alias("c")).collect()}
    for i, (_, _, want) in enumerate(rows):
        assert got[i] == want, (i, got[i], want)


def test_connected_components_chain_and_star(spark):
    edges = spark.createDataFrame([
        Row(subj="b", obj="a"), Row(subj="c", obj="b"),  # chain c-b-a
        Row(subj="x", obj="hub"), Row(subj="y", obj="hub"),  # star
        Row(subj="z", obj="hub"),
    ])
    labels, _ = connected_components(edges)
    cc = {r["node"]: r["component"] for r in labels.collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["x"] == cc["y"] == cc["z"] == cc["hub"] == "hub"


def test_connected_components_deep_chain_converges(spark):
    """Worst-case diameter for td_dup_groups-shaped inputs (round-4
    VERDICT item 6): a 30-node chain (diameter 29) must converge WELL
    inside max_iter=25 — pointer jumping makes propagation O(log d)
    after round 3 — and the convergence audit must be queryable."""
    n = 30
    edges = spark.createDataFrame(
        [Row(subj=f"n{i:02d}", obj=f"n{i + 1:02d}") for i in range(n - 1)])
    labels, stats = connected_components(edges)
    cc = {r["node"]: r["component"] for r in labels.collect()}
    assert set(cc.values()) == {"n00"}, "one component labeled by min node"
    assert stats["converged"] is True
    # plain min-label propagation would need ~29 rounds (> max_iter);
    # pointer jumping must finish far earlier
    assert stats["rounds_run"] <= 12, stats


def test_connected_components_truncation_fails_loudly(spark):
    """max_iter exhaustion must raise (strict) or record
    converged=False (audit mode) — never silently return partial
    components (no silent caps applies to iteration caps too)."""
    import pytest

    edges = spark.createDataFrame(
        [Row(subj=f"n{i:02d}", obj=f"n{i + 1:02d}") for i in range(19)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)
    out, stats = connected_components(edges, max_iter=2, strict=False)
    assert stats == {"rounds_run": 2, "converged": False}
    assert out.count() == 20  # partial labels still returned for audit


def test_rewrite_drops_self_loops_keeps_sameas(spark):
    triples = spark.createDataFrame([
        Row(subj="Q1", pred="sameAs", obj="gn:1", confidence=1.0,
            evidence="e"),
        Row(subj="Q1", pred="nearTo", obj="gn:1", confidence=0.6,
            evidence="e"),
        Row(subj="Q1", pred="nearTo", obj="gn:2", confidence=0.6,
            evidence="e"),
    ])
    mapping = spark.createDataFrame([
        Row(node="Q1", canonical="gn:1"), Row(node="gn:1", canonical="gn:1")])
    out = rewrite_triples(triples, mapping).collect()
    preds = {(r["subj"], r["pred"], r["obj"]) for r in out}
    # nearTo self-loop (Q1->gn:1 after rewrite) gone; sameAs kept
    assert ("gn:1", "nearTo", "gn:1") not in preds
    assert ("gn:1", "sameAs", "gn:1") in preds
    assert ("gn:1", "nearTo", "gn:2") in preds


def test_hgis_toronto_cn_tower_4factor(spark):
    """Port of the reference's embedded behavioral test
    (link_hgis_to_lod.py:381-424): a 1921-census 'Toronto' point sitting
    closer to the CN Tower than to the city centroid must match the city
    via the 4-factor score; the tower never appears (entity gate < 40)."""
    from geo_linked_open_data_kg_spark.operators.spatial import hgis_links
    places = _places(spark, [
        dict(PLACE_BASE, geoname_id=1, name="Toronto", latitude=43.6534,
             longitude=-79.3841, feature_class="P", feature_code="PPL",
             country_code="CA", admin1_code="08", population=2731571),
        dict(PLACE_BASE, geoname_id=2, name="CN Tower", latitude=43.6426,
             longitude=-79.3871, feature_class="S", feature_code="TOWR",
             country_code="CA", admin1_code="08", population=0),
    ])
    # historical coordinates right next to the tower
    points = spark.createDataFrame([Row(
        point_id="hgis:toronto-1921", name="Toronto",
        latitude=43.6430, longitude=-79.3870)])
    fprio = spark.createDataFrame([Row(feature_code="PPL", priority=80),
                                   Row(feature_code="TOWR", priority=20)])
    links = hgis_links(points, places, fprio, radius_km=10.0).collect()
    assert links, "city must match"
    best = min(links, key=lambda r: r["rank"])
    assert best["obj"] == "gn:1", f"city must outrank tower: {links}"
    assert all(r["obj"] != "gn:2" for r in links), \
        "POI must be excluded by the entity-type gate"


def test_hierarchy_closure_emits_adm4_paths(spark):
    """Non-vacuity for the round-5 ADM4 closure extension: the fixture
    gazetteer populates admin4_code (generate.augment_places_adm4), so
    at least one populated place must carry a full 4-level admin path."""
    from geo_linked_open_data_kg_spark.operators.admin import (
        hierarchy_closure,
    )
    from geo_linked_open_data_kg_spark.sources.registry import load
    places = load(spark, "/root/testdata/sf0.001", "places")
    paths = hierarchy_closure(places)
    n4 = paths.where(
        F.size(F.split(F.col("admin_path"), ">")) == 4).count()
    assert n4 > 0, "no 4-level admin paths — ADM4 walk is vacuous"
