"""Query registry: every implemented operator exposed as
(spark, sf_dir) -> DataFrame, plus the equivalent DuckDB oracle SQL.

The driver compares each pair at sf=0.01 (row count + schema +
order-insensitive value hash), so:
- every computed column is aliased identically on both sides;
- floats are rounded identically on both sides;
- DuckDB constants are cast to DOUBLE/BIGINT to match Spark types.

Synth tables are addressed in oracle SQL via read_parquet('<abs path>');
driver tables use the pre-registered views.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geo_linked_open_data_kg_spark.functions.geo import HAVERSINE_SQL_DUCKDB
from geo_linked_open_data_kg_spark.functions.scoring import (
    CLASSIFY_SQL,
    CONFIDENCE_SQL,
    DIST_SCORE_SQL,
    HGIS_CONFIDENCE_SQL,
    HGIS_DIST_SQL,
    HGIS_NAME_SQL,
    NAME_SIM_SQL,
    POP_WEIGHT_SQL,
)
from geo_linked_open_data_kg_spark.operators import admin, direct_link, spatial
from geo_linked_open_data_kg_spark.sources.registry import load, synth_path

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# sf0.01 synth paths baked into oracle strings (driver correctness runs at 0.01)
_SF01 = "/root/testdata/sf0.01"


def _sp(name: str) -> str:
    return synth_path(_SF01, name)


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


# ---------------------------------------------------------------- J1/J2 ----

@register("kg_direct_id_links", f"""
SELECT w.qid AS subj, 'sameAs' AS pred, 'gn:' || g.geoname_id AS obj,
       CAST(1.0 AS DOUBLE) AS confidence, 'geonames_id_match' AS evidence
FROM read_parquet('{_sp("wikidata_places")}') w
JOIN read_parquet('{_sp("places")}') g
  ON {direct_link.EXTRACT_ID_SQL.format(c="w.geonames_id")} = g.geoname_id
WHERE w.geonames_id IS NOT NULL
""")
def kg_direct_id_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return direct_link.direct_id_links(
        load(spark, sf_dir, "wikidata_places"), load(spark, sf_dir, "places"))


# ------------------------------------------------------------------- J4 ----

_ADMIN_ORACLE_PARTS = []
for lvl in (1, 2, 3, 4):
    keys = " AND ".join(
        [f"p.country_code = a.country_code"] +
        [f"p.admin{i}_code = a.admin{i}_code" for i in range(1, lvl + 1)])
    nn = " AND ".join(
        [f"p.country_code IS NOT NULL"] +
        [f"p.admin{i}_code IS NOT NULL" for i in range(1, lvl + 1)])
    _ADMIN_ORACLE_PARTS.append(f"""
SELECT 'gn:' || p.geoname_id AS subj, 'locatedInAdmin{lvl}' AS pred,
       'gn:' || a.geoname_id AS obj, CAST(1.0 AS DOUBLE) AS confidence,
       'admin_codes' AS evidence
FROM read_parquet('{_sp("places")}') p
JOIN read_parquet('{_sp("places")}') a
  ON {keys} AND a.feature_code = 'ADM{lvl}'
WHERE p.feature_class <> 'A' AND {nn}""")
for lvl in (2, 3, 4):
    plvl = lvl - 1
    keys = " AND ".join(
        [f"c.country_code = p.country_code"] +
        [f"c.admin{i}_code = p.admin{i}_code" for i in range(1, plvl + 1)])
    nn = " AND ".join(
        [f"c.country_code IS NOT NULL"] +
        [f"c.admin{i}_code IS NOT NULL" for i in range(1, plvl + 1)])
    _ADMIN_ORACLE_PARTS.append(f"""
SELECT 'gn:' || c.geoname_id AS subj, 'partOf' AS pred,
       'gn:' || p.geoname_id AS obj, CAST(1.0 AS DOUBLE) AS confidence,
       'admin_codes' AS evidence
FROM read_parquet('{_sp("places")}') c
JOIN read_parquet('{_sp("places")}') p
  ON {keys} AND p.feature_code = 'ADM{plvl}'
WHERE c.feature_code = 'ADM{lvl}' AND {nn}""")
_ADMIN_ORACLE_PARTS.append(f"""
SELECT 'gn:' || geoname_id AS subj, 'locatedInCountry' AS pred,
       'country:' || country_code AS obj, CAST(1.0 AS DOUBLE) AS confidence,
       'country_code' AS evidence
FROM read_parquet('{_sp("places")}') WHERE country_code IS NOT NULL""")


@register("kg_admin_triples", "\nUNION ALL\n".join(_ADMIN_ORACLE_PARTS))
def kg_admin_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return admin.admin_triples(load(spark, sf_dir, "places"))


@register("kg_hierarchy_closure", f"""
SELECT p.geoname_id, p.name,
       concat_ws('>', a1.name, a2.name, a3.name, a4.name) AS admin_path,
       p.country_code
FROM read_parquet('{_sp("places")}') p
LEFT JOIN read_parquet('{_sp("places")}') a1
  ON a1.feature_code='ADM1' AND p.country_code=a1.country_code
 AND p.admin1_code=a1.admin1_code
LEFT JOIN read_parquet('{_sp("places")}') a2
  ON a2.feature_code='ADM2' AND p.country_code=a2.country_code
 AND p.admin1_code=a2.admin1_code AND p.admin2_code=a2.admin2_code
LEFT JOIN read_parquet('{_sp("places")}') a3
  ON a3.feature_code='ADM3' AND p.country_code=a3.country_code
 AND p.admin1_code=a3.admin1_code AND p.admin2_code=a3.admin2_code
 AND p.admin3_code=a3.admin3_code
LEFT JOIN read_parquet('{_sp("places")}') a4
  ON a4.feature_code='ADM4' AND p.country_code=a4.country_code
 AND p.admin1_code=a4.admin1_code AND p.admin2_code=a4.admin2_code
 AND p.admin3_code=a4.admin3_code AND p.admin4_code=a4.admin4_code
WHERE p.feature_class <> 'A'
""")
def kg_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    return admin.hierarchy_closure(load(spark, sf_dir, "places"))


# ------------------------------------------------------------- J5/J6/G1 ----

_D = HAVERSINE_SQL_DUCKDB.format(lat1="w.latitude", lon1="w.longitude",
                                 lat2="g.latitude", lon2="g.longitude")
_NS = NAME_SIM_SQL.format(a="w.name", b="g.name")
_DS = DIST_SCORE_SQL.format(d="distance_km")
_CONF = CONFIDENCE_SQL.format(ds="dist_score", ns="name_sim", ts="type_score")

_SPATIAL_ORACLE = f"""
WITH pairs AS (
  SELECT w.qid, g.geoname_id,
         {_D} AS distance_km,
         CAST({_NS} AS DOUBLE) AS name_sim,
         CAST(COALESCE(fp.priority, 50) AS BIGINT) AS gn_priority,
         -- MAX type priority over ALL P31 claims (multi-typed entities)
         CAST(COALESCE(
           (SELECT max(wp.priority)
            FROM read_parquet('{_sp("wd_type_priority")}') wp
            WHERE list_contains(w.instance_of_qids, wp.instance_of_qid)),
           50) AS BIGINT) AS wd_priority
  FROM read_parquet('{_sp("wikidata_places")}') w
  JOIN read_parquet('{_sp("places")}') g
    ON {_D} <= 10.0
  LEFT JOIN read_parquet('{_sp("feature_priority")}') fp
    ON g.feature_code = fp.feature_code
), scored AS (
  SELECT *, CAST({_DS} AS DOUBLE) AS dist_score,
         CAST(gn_priority AS DOUBLE) / 100.0 AS type_score
  FROM pairs
), conf AS (
  SELECT *, CAST({_CONF} AS DOUBLE) AS conf,
         row_number() OVER (PARTITION BY qid
             ORDER BY {_CONF} DESC, distance_km ASC, geoname_id ASC) AS rank
  FROM scored
)
SELECT qid AS subj,
       {CLASSIFY_SQL.format(conf="conf", d="distance_km",
                            sp="wd_priority", dp="gn_priority")} AS pred,
       'gn:' || geoname_id AS obj,
       round(conf, 4) AS confidence,
       round(distance_km, 4) AS distance_km,
       'spatial_proximity' AS evidence,
       CAST(rank AS INTEGER) AS rank
FROM conf WHERE rank <= 5 AND conf >= 0.5
"""


_CLASSIFY = CLASSIFY_SQL.format(conf="conf", d="distance_km",
                               sp="wd_priority", dp="gn_priority")
# G2 NEAR->SAME_AS promotion over the spatial links (the flagship
# canonical-triples oracle embeds it)
_PROMOTED_ORACLE = _SPATIAL_ORACLE.replace(
    "SELECT qid AS subj,\n       " + _CLASSIFY,
    "SELECT qid AS subj,\n       CASE WHEN " + _CLASSIFY
    + " = 'nearTo' AND round(conf, 4) >= 0.85 AND round(distance_km, 4)"
      " <= 1.0 THEN 'sameAs' ELSE " + _CLASSIFY + " END")


@register("kg_spatial_links", _SPATIAL_ORACLE)
def kg_spatial_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.spatial_links(
        load(spark, sf_dir, "wikidata_places"), load(spark, sf_dir, "places"),
        load(spark, sf_dir, "feature_priority"),
        load(spark, sf_dir, "wd_type_priority"))


# ------------------------------------------------- mentions (stage 1-2) ----

_MENTION_ORACLE = f"""
WITH spans AS (
  SELECT doc_id, s."text" AS text, s."offset" AS span_offset
  FROM (SELECT doc_id, unnest(spans) AS s
        FROM read_parquet('{_sp("geo_documents")}'))
  WHERE s.kind = 'text'
), toks AS (
  SELECT doc_id, span_offset, regexp_split_to_array(text, ' +') AS tokens
  FROM spans
), grams AS (
  SELECT doc_id, span_offset, CAST(u.i - 1 AS INTEGER) AS start,
         CAST(n.n AS INTEGER) AS n,
         array_to_string(tokens[u.i:u.i+n.n-1], ' ') AS gram
  FROM toks
  CROSS JOIN (VALUES (1),(2),(3),(4)) n(n)
  CROSS JOIN LATERAL unnest(generate_series(1, len(tokens) + 1 - n.n)) u(i)
), aliases AS (
  SELECT DISTINCT lower(trim(a.alias)) AS alias_norm, geoname_id
  FROM (
    SELECT geoname_id, unnest(list_concat([name, ascii_name],
                              coalesce(alternate_names, []))) AS alias
    FROM read_parquet('{_sp("places")}')
  ) a WHERE a.alias IS NOT NULL AND trim(a.alias) <> ''
), hits AS (
  SELECT g.*, al.geoname_id FROM grams g
  JOIN aliases al ON lower(g.gram) = al.alias_norm
), occ AS (
  SELECT DISTINCT doc_id, span_offset, start, n FROM hits
), kept AS (
  SELECT o.* FROM occ o
  WHERE NOT EXISTS (
    SELECT 1 FROM occ o2
    WHERE o2.doc_id = o.doc_id AND o2.span_offset = o.span_offset
      AND o2.start <= o.start AND o2.start + o2.n >= o.start + o.n
      AND o2.n > o.n)
)
SELECT h.doc_id, h.span_offset, h.start, h.n, h.gram AS mention_text,
       h.geoname_id
FROM hits h JOIN kept k USING (doc_id, span_offset, start, n)
"""


@register("kg_mention_candidates", _MENTION_ORACLE)
def kg_mention_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.mentions import detect_mentions
    return detect_mentions(load(spark, sf_dir, "geo_documents"),
                           load(spark, sf_dir, "places"))


# Full value-level oracle for the linking cascade (reconcile.py:237-339
# semantics): every strategy (exact / administrative / geographic /
# fuzzy) is SQL-expressible as set operations; blocking keys in the
# Spark fuzzy path are recall-lossless for lev<=1, so the oracle states
# the unblocked semantics directly.
_HAV_CTX = HAVERSINE_SQL_DUCKDB.format(
    lat1="s.ctx_lat", lon1="s.ctx_lon", lat2="s.cand_lat", lon2="s.cand_lon")

_LINKED_ORACLE = f"""
WITH spans AS (
  SELECT doc_id, s."text" AS text, s."offset" AS span_offset
  FROM (SELECT doc_id, unnest(spans) AS s
        FROM read_parquet('{_sp("geo_documents")}'))
  WHERE s.kind = 'text'
), toks AS (
  SELECT doc_id, span_offset, regexp_split_to_array(text, ' +') AS tokens
  FROM spans
), grams AS (
  SELECT doc_id, span_offset, CAST(u.i - 1 AS INTEGER) AS start,
         CAST(n.n AS INTEGER) AS n,
         array_to_string(tokens[u.i:u.i+n.n-1], ' ') AS gram
  FROM toks
  CROSS JOIN (VALUES (1),(2),(3),(4)) n(n)
  CROSS JOIN LATERAL unnest(generate_series(1, len(tokens) + 1 - n.n)) u(i)
), aliases AS (
  SELECT DISTINCT lower(trim(a.alias)) AS alias_norm, geoname_id
  FROM (
    SELECT geoname_id, unnest(list_concat([name, ascii_name],
                              coalesce(alternate_names, []))) AS alias
    FROM read_parquet('{_sp("places")}')
  ) a WHERE a.alias IS NOT NULL AND trim(a.alias) <> ''
), attrs AS (
  SELECT al.alias_norm, al.geoname_id, p.population,
         p.latitude AS cand_lat, p.longitude AS cand_lon,
         p.country_code AS cand_cc, p.admin1_code AS cand_a1,
         (p.feature_code = 'ADM1') AS is_adm1,
         (p.feature_code IN ('PPLH', 'PPLQ', 'PPLW')
          OR p.dissolved_date IS NOT NULL) AS is_hist
  FROM aliases al
  JOIN read_parquet('{_sp("places")}') p USING (geoname_id)
), hits AS (
  SELECT g.doc_id, g.span_offset, g.start, g.n, g.gram, a.geoname_id,
         a.population, a.cand_lat, a.cand_lon, a.cand_cc, a.cand_a1,
         a.is_adm1, a.is_hist
  FROM grams g JOIN attrs a ON lower(g.gram) = a.alias_norm
  WHERE length(g.gram) BETWEEN 2 AND 60
), capped AS (
  SELECT * FROM (
    SELECT h.*, row_number() OVER (
        PARTITION BY doc_id, span_offset, start, n
        ORDER BY population DESC NULLS LAST, geoname_id ASC) AS cr
    FROM hits h) WHERE cr <= 20
), occ AS (
  SELECT DISTINCT doc_id, span_offset, start, n FROM capped
), keptocc AS (
  SELECT o.* FROM occ o
  WHERE NOT EXISTS (
    SELECT 1 FROM occ o2
    WHERE o2.doc_id = o.doc_id AND o2.span_offset = o.span_offset
      AND o2.start <= o.start AND o2.start + o2.n >= o.start + o.n
      AND o2.n > o.n)
), kept AS (
  SELECT c.* FROM capped c
  JOIN keptocc k USING (doc_id, span_offset, start, n)
), scored0 AS (
  SELECT k.*, t.tokens[k.start + k.n + 1] AS after,
         CASE WHEN t.tokens[k.start + k.n + 1] = 'at'
              THEN TRY_CAST(t.tokens[k.start + k.n + 2] AS DOUBLE) END
           AS ctx_lat,
         CASE WHEN t.tokens[k.start + k.n + 1] = 'at'
              THEN TRY_CAST(t.tokens[k.start + k.n + 3] AS DOUBLE) END
           AS ctx_lon
  FROM kept k JOIN toks t USING (doc_id, span_offset)
), scored1 AS (
  SELECT s.*,
         (s.after = ',' AND EXISTS (
            SELECT 1 FROM kept a
            WHERE a.doc_id = s.doc_id AND a.span_offset = s.span_offset
              AND a.is_adm1 AND a.start = s.start + s.n + 1
              AND a.cand_a1 IS NOT DISTINCT FROM s.cand_a1
              AND a.cand_cc IS NOT DISTINCT FROM s.cand_cc)) AS admin_hit,
         CASE WHEN s.ctx_lat IS NOT NULL AND s.ctx_lon IS NOT NULL
                   AND {_HAV_CTX} <= 25.0
              THEN 1.0 - {_HAV_CTX} / 25.0 END AS geo_conf,
         (EXISTS (
            SELECT 1 FROM kept a
            WHERE a.doc_id = s.doc_id AND a.span_offset = s.span_offset
              AND a.is_adm1 AND a.start = s.start AND a.n = s.n)
          AND EXISTS (
            SELECT 1 FROM kept m JOIN toks tm
              ON tm.doc_id = m.doc_id AND tm.span_offset = m.span_offset
            WHERE m.doc_id = s.doc_id AND m.span_offset = s.span_offset
              AND m.start + m.n + 1 = s.start
              AND tm.tokens[m.start + m.n + 1] = ',')) AS is_ctx_occ
  FROM scored0 s
), exact AS (
  SELECT doc_id, span_offset, start, n, gram AS mention_text, geoname_id,
         CASE WHEN admin_hit THEN 'administrative'
              WHEN geo_conf IS NOT NULL THEN 'geographic'
              WHEN is_hist THEN 'historical'
              ELSE 'exact' END AS strategy,
         round(CAST(CASE WHEN admin_hit THEN 0.95
                         WHEN geo_conf IS NOT NULL THEN geo_conf
                         WHEN is_hist THEN 0.9
                         ELSE 0.7 END AS DOUBLE), 4) AS confidence,
         population
  FROM scored1 WHERE NOT is_ctx_occ
), fgrams AS (
  SELECT * FROM grams
  WHERE regexp_matches(gram, '^[A-Z][a-z]')
    AND gram NOT IN ('The','In','A','At','On','Of','An','To')
    AND gram NOT IN (
      SELECT gram FROM (
        SELECT gram, count(DISTINCT doc_id) AS df FROM grams
        WHERE regexp_matches(gram, '^[A-Z][a-z]') GROUP BY gram)
      WHERE df > 0.02 * (SELECT count(*)
                         FROM read_parquet('{_sp("geo_documents")}'))
        AND lower(gram) NOT IN (SELECT alias_norm FROM aliases))
), dsurf AS (
  SELECT DISTINCT gram, lower(gram) AS gram_norm, n,
         length(lower(gram)) AS gram_len
  FROM fgrams
), fhits AS (
  -- seen_ids dedup (reconcile.py:288-297): a fuzzy gid already
  -- exact-visible under the same surface is dropped BEFORE the cap
  SELECT DISTINCT d.gram, d.gram_norm, d.n, d.gram_len, a.geoname_id,
         levenshtein(d.gram_norm, a.alias_norm) AS lev
  FROM dsurf d
  JOIN (SELECT alias_norm, geoname_id,
               len(string_split(alias_norm, ' ')) AS alias_n,
               length(alias_norm) AS alias_len
        FROM aliases) a
    ON d.n = a.alias_n AND abs(d.gram_len - a.alias_len) <= 1
   AND (substr(d.gram_norm, 1, 1) = substr(a.alias_norm, 1, 1)
        OR substr(d.gram_norm, -1, 1) = substr(a.alias_norm, -1, 1))
  WHERE levenshtein(d.gram_norm, a.alias_norm) BETWEEN 1 AND 1
    AND NOT EXISTS (SELECT 1 FROM aliases ax
                    WHERE ax.alias_norm = d.gram_norm
                      AND ax.geoname_id = a.geoname_id
                      AND length(ax.alias_norm) BETWEEN 2 AND 60)
), fcap AS (
  SELECT * FROM (
    SELECT fh.*, row_number() OVER (PARTITION BY gram, n
        ORDER BY lev ASC, geoname_id ASC) AS fr FROM fhits fh)
  WHERE fr <= 5
), fanout AS (
  SELECT alias_norm, count(*) AS fan FROM aliases
  WHERE length(alias_norm) BETWEEN 2 AND 60 GROUP BY alias_norm
), ctxocc AS (
  SELECT DISTINCT doc_id, span_offset, start, n FROM scored1 WHERE is_ctx_occ
), focc AS (
  SELECT f.doc_id, f.span_offset, f.start, f.n, f.gram,
         c.geoname_id, c.lev, c.gram_len,
         CAST(coalesce(fn.fan, 0) AS INTEGER) AS rank_offset
  FROM fgrams f JOIN fcap c USING (gram, n)
  LEFT JOIN fanout fn ON fn.alias_norm = lower(f.gram)
), fanti AS (
  -- "<5 candidates" gate (reconcile.py:319-333): drop if covered by a
  -- strictly longer exact mention, equal to a context occurrence, or
  -- equal to an exact mention whose surface has >= 5 candidates
  SELECT fo.* FROM focc fo
  WHERE NOT EXISTS (
    SELECT 1 FROM keptocc k
    WHERE k.doc_id = fo.doc_id AND k.span_offset = fo.span_offset
      AND k.start <= fo.start AND k.start + k.n >= fo.start + fo.n
      AND (k.n > fo.n
           OR fo.rank_offset >= 5
           OR EXISTS (SELECT 1 FROM ctxocc c
                      WHERE c.doc_id = fo.doc_id
                        AND c.span_offset = fo.span_offset
                        AND c.start = fo.start AND c.n = fo.n)))
), fz AS (
  SELECT fa.doc_id, fa.span_offset, fa.start, fa.n,
         fa.gram AS mention_text, fa.geoname_id,
         'fuzzy' AS strategy,
         round(1.0 - CAST(fa.lev AS DOUBLE)
               / greatest(fa.gram_len, 1), 4) AS confidence,
         p.population, fa.rank_offset
  FROM fanti fa
  JOIN read_parquet('{_sp("places")}') p USING (geoname_id)
), exact_ranked AS (
  SELECT doc_id, span_offset, start, n, mention_text, geoname_id,
         strategy, confidence,
         row_number() OVER (PARTITION BY doc_id, span_offset, start, n
             ORDER BY confidence DESC, population DESC, geoname_id ASC)
           AS rank
  FROM exact
), fz_ranked AS (
  -- cascade append order: fuzzy ranks start after the occurrence's
  -- exact-candidate count (= its surface's alias fan-out)
  SELECT doc_id, span_offset, start, n, mention_text, geoname_id,
         strategy, confidence,
         rank_offset + row_number() OVER (
             PARTITION BY doc_id, span_offset, start, n
             ORDER BY confidence DESC, population DESC, geoname_id ASC)
           AS rank
  FROM fz
), ranked AS (
  SELECT * FROM exact_ranked UNION ALL SELECT * FROM fz_ranked
)
SELECT doc_id, span_offset, start, n, mention_text, geoname_id, strategy,
       confidence, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 10 AND confidence >= 0.5
"""


@register("kg_linked_mentions", _LINKED_ORACLE)
def kg_linked_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.linking import link_mentions
    return link_mentions(load(spark, sf_dir, "geo_documents"),
                         load(spark, sf_dir, "places"))


# --------------------------------------------- biography / postal edges ----

_BORN_IN_SQL = f"""
SELECT p.qid AS subj, 'bornIn' AS pred, p.birth_place_qid AS obj,
       CAST(1.0 AS DOUBLE) AS confidence, 'wikidata_claim' AS evidence
FROM read_parquet('{_sp("persons")}') p
JOIN read_parquet('{_sp("wikidata_places")}') w ON p.birth_place_qid = w.qid
WHERE p.birth_place_qid IS NOT NULL
"""

_RESIDED_WORKED_SQL = f"""
SELECT DISTINCT p.qid AS subj, 'residedIn' AS pred, r.q AS obj,
       CAST(1.0 AS DOUBLE) AS confidence, 'wikidata_claim' AS evidence
FROM read_parquet('{_sp("persons")}') p, unnest(p.residence_qids) r(q)
JOIN read_parquet('{_sp("wikidata_places")}') w ON r.q = w.qid
UNION ALL
SELECT DISTINCT p.qid AS subj, 'workedAt' AS pred, wk.q AS obj,
       CAST(1.0 AS DOUBLE) AS confidence, 'wikidata_claim' AS evidence
FROM read_parquet('{_sp("persons")}') p, unnest(p.work_location_qids) wk(q)
JOIN read_parquet('{_sp("wikidata_places")}') wd ON wd.qid = wk.q
"""

_SPOUSE_PAIRS_SQL = f"""
WITH ex AS (
  SELECT p.qid, s.sp FROM read_parquet('{_sp("persons")}') p,
       unnest(p.spouse_qids) s(sp)
  WHERE s.sp <> p.qid
), gated AS (
  SELECT ex.qid, ex.sp FROM ex
  WHERE EXISTS (SELECT 1 FROM read_parquet('{_sp("persons")}') k
                WHERE k.qid = ex.sp)
)
SELECT DISTINCT least(qid, sp) AS subj, 'spouseOf' AS pred,
       greatest(qid, sp) AS obj, CAST(1.0 AS DOUBLE) AS confidence,
       'family_record' AS evidence
FROM gated
"""

_PARENT_OF_SQL = f"""
SELECT DISTINCT p.mother_qid AS subj, 'parentOf' AS pred, p.qid AS obj,
       CAST(1.0 AS DOUBLE) AS confidence, 'mother' AS evidence
FROM read_parquet('{_sp("persons")}') p
WHERE p.mother_qid IS NOT NULL AND EXISTS (
  SELECT 1 FROM read_parquet('{_sp("persons")}') k WHERE k.qid = p.mother_qid)
UNION
SELECT DISTINCT p.father_qid, 'parentOf', p.qid, CAST(1.0 AS DOUBLE), 'father'
FROM read_parquet('{_sp("persons")}') p
WHERE p.father_qid IS NOT NULL AND EXISTS (
  SELECT 1 FROM read_parquet('{_sp("persons")}') k WHERE k.qid = p.father_qid)
"""

_CITIZEN_OF_SQL = f"""
SELECT p.qid AS subj, 'citizenOf' AS pred, p.citizenship_qid AS obj,
       CAST(1.0 AS DOUBLE) AS confidence, 'wikidata_claim' AS evidence
FROM read_parquet('{_sp("persons")}') p
WHERE p.citizenship_qid IS NOT NULL AND EXISTS (
  SELECT 1 FROM read_parquet('{_sp("wikidata_places")}') w
  WHERE w.country_qid = p.citizenship_qid)
"""

_HEADQUARTERED_IN_SQL = f"""
SELECT o.qid AS subj, 'headquarteredIn' AS pred, o.headquarters_qid AS obj,
       CAST(1.0 AS DOUBLE) AS confidence, 'wikidata_claim' AS evidence
FROM read_parquet('{_sp("organizations")}') o
JOIN read_parquet('{_sp("wikidata_places")}') w ON o.headquarters_qid = w.qid
WHERE o.headquarters_qid IS NOT NULL
"""

_FOUNDED_SQL = f"""
SELECT o.qid AS subj, 'foundedIn' AS pred,
       o.formation_location_qid AS obj,
       CAST(1.0 AS DOUBLE) AS confidence, 'wikidata_claim' AS evidence
FROM read_parquet('{_sp("organizations")}') o
JOIN read_parquet('{_sp("wikidata_places")}') w
  ON o.formation_location_qid = w.qid
WHERE o.formation_location_qid IS NOT NULL
"""

_BORN_IN_PLACE_SQL = f"""
WITH sameas AS (
  SELECT w.qid AS subj, 'gn:' || g.geoname_id AS obj
  FROM read_parquet('{_sp("wikidata_places")}') w
  JOIN read_parquet('{_sp("places")}') g
    ON {direct_link.EXTRACT_ID_SQL.format(c="w.geonames_id")} = g.geoname_id
  WHERE w.geonames_id IS NOT NULL
)
SELECT DISTINCT p.qid AS subj, 'bornInPlace' AS pred, s.obj AS obj,
       CAST(1.0 AS DOUBLE) AS confidence, 'derived_2hop' AS evidence
FROM read_parquet('{_sp("persons")}') p
JOIN read_parquet('{_sp("wikidata_places")}') w ON p.birth_place_qid = w.qid
JOIN sameas s ON s.subj = p.birth_place_qid
"""

# The edge families above share one (subj, pred, obj, confidence, evidence)
# schema and their preds are disjoint, so the person and org unions below
# each fill one registry slot and keep every family's rows value-hashed;
# the per-edge operators and their goldens stay separate.


def _union_oracle(*parts: str) -> str:
    return "\nUNION ALL\n".join(f"SELECT * FROM (\n{p}\n)" for p in parts)


@register("kg_person_edges", _union_oracle(
    _BORN_IN_SQL, _CITIZEN_OF_SQL, _SPOUSE_PAIRS_SQL, _PARENT_OF_SQL,
    _RESIDED_WORKED_SQL, _BORN_IN_PLACE_SQL))
def kg_person_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Person-edge families in one registry slot: J3 QID equi-joins
    (bornIn, citizenOf, spouseOf, parentOf), J12 ID-array containment
    (residedIn P551, workedAt P937) and the J14 2-hop semi-join
    (bornInPlace); the per-edge operators stay separate. All preds are
    disjoint, so the UNION ALL keeps every family's rows value-hashed."""
    from geo_linked_open_data_kg_spark.operators import biography
    p = load(spark, sf_dir, "persons")
    w = load(spark, sf_dir, "wikidata_places")
    same = direct_link.direct_id_links(w, load(spark, sf_dir, "places"))
    return (biography.born_in(p, w)
            .unionByName(biography.citizen_of(p, w))
            .unionByName(biography.spouse_pairs(p))
            .unionByName(biography.parent_of(p))
            .unionByName(biography.resided_in(p, w))
            .unionByName(biography.worked_at(p, w))
            .unionByName(biography.born_in_place(p, w, same)))


@register("kg_org_edges", _union_oracle(_HEADQUARTERED_IN_SQL, _FOUNDED_SQL))
def kg_org_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 organization-edge families (headquarteredIn P159, foundedIn
    P740) in one registry slot; the operators stay separate."""
    from geo_linked_open_data_kg_spark.operators import biography
    o = load(spark, sf_dir, "organizations")
    w = load(spark, sf_dir, "wikidata_places")
    return (biography.headquartered_in(o, w)
            .unionByName(biography.founded_in(o, w)))


@register("kg_dangling_fk_counts", f"""
SELECT 'birth_place_qid' AS fk, count(*) AS n_dangling
FROM read_parquet('{_sp("persons")}') p
WHERE p.birth_place_qid IS NOT NULL AND NOT EXISTS (
  SELECT 1 FROM read_parquet('{_sp("wikidata_places")}') w
  WHERE w.qid = p.birth_place_qid)
UNION ALL
SELECT 'death_place_qid' AS fk, count(*) AS n_dangling
FROM read_parquet('{_sp("persons")}') p
WHERE p.death_place_qid IS NOT NULL AND NOT EXISTS (
  SELECT 1 FROM read_parquet('{_sp("wikidata_places")}') w
  WHERE w.qid = p.death_place_qid)
""")
def kg_dangling_fk_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators import biography
    return biography.dangling_fk_counts(load(spark, sf_dir, "persons"),
                                        load(spark, sf_dir, "wikidata_places"))


@register("kg_migration_flows", f"""
SELECT wb.country_qid AS birth_country, wd.country_qid AS death_country,
       count(*) AS n_persons
FROM read_parquet('{_sp("persons")}') p
JOIN read_parquet('{_sp("wikidata_places")}') wb ON p.birth_place_qid = wb.qid
JOIN read_parquet('{_sp("wikidata_places")}') wd ON p.death_place_qid = wd.qid
WHERE p.birth_place_qid IS NOT NULL AND p.death_place_qid IS NOT NULL
GROUP BY 1, 2 HAVING count(*) >= 2
""")
def kg_migration_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators import biography
    return biography.migration_flows(load(spark, sf_dir, "persons"),
                                     load(spark, sf_dir, "wikidata_places"))


_PO_NORM = ("trim(regexp_replace(lower(trim({c})), "
            "'\\s+(post office|p\\.o\\.|po)$', ''))")


@register("kg_post_office_links", f"""
WITH a1 AS (
  SELECT admin1_name AS province, country_code, admin1_code
  FROM read_parquet('{_sp("admin1_names")}') WHERE country_code = 'AA'
), po AS (
  SELECT p.id_number, {_PO_NORM.format(c="p.name")} AS norm_name,
         a.country_code, a.admin1_code
  FROM read_parquet('{_sp("post_offices")}') p JOIN a1 a USING (province)
), po_u AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY norm_name, country_code,
                             admin1_code) AS n_po FROM po) WHERE n_po = 1
), g AS (
  SELECT lower(trim(name)) AS norm_name, country_code, admin1_code, geoname_id
  FROM read_parquet('{_sp("places")}')
  WHERE feature_class = 'P' AND admin1_code IS NOT NULL
), g_u AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY norm_name, country_code,
                             admin1_code) AS n_g FROM g) WHERE n_g = 1
)
SELECT 'po:' || po_u.id_number AS subj, 'sameAs' AS pred,
       'gn:' || g_u.geoname_id AS obj, CAST(0.9 AS DOUBLE) AS confidence,
       'unique_name_province' AS evidence
FROM po_u JOIN g_u USING (norm_name, country_code, admin1_code)
""")
def kg_post_office_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators import postal
    a1 = load(spark, sf_dir, "admin1_names").where(F.col("country_code") == "AA")
    return postal.post_office_links(load(spark, sf_dir, "post_offices"),
                                    load(spark, sf_dir, "places"), a1)


@register("kg_ambiguous_post_offices", f"""
SELECT {_PO_NORM.format(c="name")} AS norm_name, province, count(*) AS n
FROM read_parquet('{_sp("post_offices")}')
GROUP BY 1, 2 HAVING count(*) > 1
""")
def kg_ambiguous_post_offices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators import postal
    return postal.ambiguous_post_offices(load(spark, sf_dir, "post_offices"))


# ------------------------------------------------ canonicalization (G3) ----

_CC_ORACLE = f"""
WITH RECURSIVE direct AS (
  SELECT w.qid AS subj, 'gn:' || g.geoname_id AS obj
  FROM read_parquet('{_sp("wikidata_places")}') w
  JOIN read_parquet('{_sp("places")}') g
    ON {direct_link.EXTRACT_ID_SQL.format(c="w.geonames_id")} = g.geoname_id
  WHERE w.geonames_id IS NOT NULL
), sym AS (
  SELECT subj AS a, obj AS b FROM direct WHERE subj <> obj
  UNION SELECT obj, subj FROM direct WHERE subj <> obj
), reach(node, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.b, re.r FROM reach re JOIN sym s ON s.a = re.node
)
SELECT node, min(r) AS component FROM reach GROUP BY node
"""


@register("kg_same_as_components", _CC_ORACLE)
def kg_same_as_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.canonicalize import (
        connected_components,
    )
    links = direct_link.direct_id_links(
        load(spark, sf_dir, "wikidata_places"), load(spark, sf_dir, "places"))
    return connected_components(links)[0]


# ------------------------------------------------------- aggregations ------

@register("agg_places_by_country", f"""
SELECT country_code, count(*) AS n_places,
       count(DISTINCT admin1_code) AS n_admin1
FROM read_parquet('{_sp("places")}') GROUP BY country_code
""")
def agg_places_by_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A1: load_global_geonames.py:293-316
    # A3 distinct-by-group (load_geonames.py:201-222) folded in as
    # countDistinct(admin1_code) — one registry slot covers both agg shapes
    # under the driver's 50-entry correctness cap.
    return (load(spark, sf_dir, "places")
            .groupBy("country_code")
            .agg(F.count("*").alias("n_places"),
                 F.countDistinct("admin1_code").alias("n_admin1")))


@register("agg_population_stats", f"""
SELECT count(*) AS n, min(population) AS min_pop, max(population) AS max_pop,
       round(avg(population), 4) AS avg_pop
FROM read_parquet('{_sp("places")}') WHERE population > 0
""")
def agg_population_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A2: load_geonames.py:284-298
    return (load(spark, sf_dir, "places").where(F.col("population") > 0)
            .agg(F.count("*").alias("n"),
                 F.min("population").alias("min_pop"),
                 F.max("population").alias("max_pop"),
                 F.round(F.avg("population"), 4).alias("avg_pop")))


@register("agg_top_feature_codes", f"""
SELECT feature_code, count(*) AS n
FROM read_parquet('{_sp("places")}')
GROUP BY feature_code ORDER BY n DESC, feature_code ASC LIMIT 10
""")
def agg_top_feature_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A10: analyze_feature_codes.py:5-34
    return (load(spark, sf_dir, "places")
            .groupBy("feature_code").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("feature_code").asc()).limit(10))


# ------------------------------- flagship: canonicalized triple set --------

_CANONICAL_ORACLE = f"""
WITH RECURSIVE triples AS (
  SELECT subj, pred, obj, confidence, evidence FROM (
    {ORACLES["kg_direct_id_links"]}
  )
  UNION ALL
  SELECT subj, pred, obj, confidence, evidence FROM (
    {ORACLES["kg_admin_triples"]}
  )
  UNION ALL
  SELECT subj, pred, obj, confidence, evidence FROM (
    {_PROMOTED_ORACLE}
  )
  UNION ALL
  SELECT subj, pred, obj, confidence, evidence FROM (
    {_BORN_IN_SQL}
  )
  UNION ALL
  SELECT p.qid AS subj, 'diedIn' AS pred, p.death_place_qid AS obj,
         CAST(1.0 AS DOUBLE) AS confidence, 'wikidata_claim' AS evidence
  FROM read_parquet('{_sp("persons")}') p
  JOIN read_parquet('{_sp("wikidata_places")}') w
    ON p.death_place_qid = w.qid
  WHERE p.death_place_qid IS NOT NULL
  UNION ALL
  SELECT DISTINCT p.qid AS subj, 'residedIn' AS pred, r.q AS obj,
         CAST(1.0 AS DOUBLE) AS confidence, 'wikidata_claim' AS evidence
  FROM read_parquet('{_sp("persons")}') p, unnest(p.residence_qids) r(q)
  JOIN read_parquet('{_sp("wikidata_places")}') w ON r.q = w.qid
), sym AS (
  SELECT subj AS a, obj AS b FROM triples WHERE pred = 'sameAs' AND subj <> obj
  UNION
  SELECT obj, subj FROM triples WHERE pred = 'sameAs' AND subj <> obj
), reach(node, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.b, re.r FROM reach re JOIN sym s ON s.a = re.node
), mapping AS (
  SELECT node, min(r) AS canonical FROM reach GROUP BY node
), rewritten AS (
  SELECT coalesce(ms.canonical, t.subj) AS subj, t.pred,
         coalesce(mo.canonical, t.obj) AS obj, t.confidence, t.evidence
  FROM triples t
  LEFT JOIN mapping ms ON ms.node = t.subj
  LEFT JOIN mapping mo ON mo.node = t.obj
)
SELECT subj, pred, obj, max(confidence) AS confidence,
       min(evidence) AS evidence
FROM rewritten
WHERE pred = 'sameAs' OR subj <> obj
GROUP BY subj, pred, obj
"""


@register("kg_canonical_gazetteer_triples", _CANONICAL_ORACLE)
def kg_canonical_gazetteer_triples(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Flagship: the pipeline's gazetteer triple set (no document mentions —
    those are non-SQL-expressible) canonicalized onto sameAs components."""
    from geo_linked_open_data_kg_spark.operators import biography
    from geo_linked_open_data_kg_spark.operators.canonicalize import (
        canonical_mapping,
        rewrite_triples,
    )
    places = load(spark, sf_dir, "places")
    wd = load(spark, sf_dir, "wikidata_places")
    persons = load(spark, sf_dir, "persons")
    cols = ["subj", "pred", "obj", "confidence", "evidence"]
    gaz = (direct_link.direct_id_links(wd, places).select(*cols)
           .unionByName(admin.admin_triples(places).select(*cols))
           .unionByName(spatial.promote_near_to_same_as(
               spatial.spatial_links(
                   wd, places, load(spark, sf_dir, "feature_priority"),
                   load(spark, sf_dir, "wd_type_priority"))).select(*cols))
           .unionByName(biography.born_in(persons, wd).select(*cols))
           .unionByName(biography.died_in(persons, wd).select(*cols))
           .unionByName(biography.resided_in(persons, wd).select(*cols)))
    return rewrite_triples(
        gaz, canonical_mapping(gaz.where(F.col("pred") == "sameAs"))[0])


# ------------------------------------------------- more KG operators -------

@register("kg_fuzzy_postal_links", f"""
WITH a1 AS (
  SELECT admin1_name AS province, country_code, admin1_code
  FROM read_parquet('{_sp("admin1_names")}') WHERE country_code = 'AA'
), po AS (
  SELECT p.id_number, {_PO_NORM.format(c="p.name")} AS norm_name,
         a.country_code, a.admin1_code
  FROM read_parquet('{_sp("post_offices")}') p JOIN a1 a USING (province)
), g AS (
  SELECT lower(trim(name)) AS g_name, country_code, admin1_code, geoname_id
  FROM read_parquet('{_sp("places")}')
  WHERE feature_class = 'P' AND admin1_code IS NOT NULL
)
SELECT DISTINCT 'po:' || po.id_number AS subj, 'fuzzyMatch' AS pred,
       'gn:' || g.geoname_id AS obj,
       round(1.0 - CAST(levenshtein(po.norm_name, g.g_name) AS DOUBLE)
             / greatest(length(po.norm_name), 1), 4) AS confidence,
       'levenshtein' AS evidence
FROM po JOIN g USING (country_code, admin1_code)
WHERE levenshtein(po.norm_name, g.g_name) BETWEEN 1 AND 2
  AND abs(length(po.norm_name) - length(g.g_name)) <= 2
""")
def kg_fuzzy_postal_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 standalone: edit-distance<=2 postal->gazetteer links, blocked by
    province (reconcile.py:68-111 semantics, set-based)."""
    from geo_linked_open_data_kg_spark.functions.scoring import normalize_name
    a1 = (load(spark, sf_dir, "admin1_names")
          .where(F.col("country_code") == "AA")
          .select(F.col("admin1_name").alias("province"), "country_code",
                  "admin1_code"))
    po = (load(spark, sf_dir, "post_offices")
          .withColumn("norm_name", normalize_name(F.col("name")))
          .join(a1, "province"))
    g = (load(spark, sf_dir, "places")
         .where((F.col("feature_class") == "P")
                & F.col("admin1_code").isNotNull())
         .select(F.lower(F.trim(F.col("name"))).alias("g_name"),
                 "country_code", "admin1_code", "geoname_id"))
    # bounded levenshtein (threshold=2, round 6): O(len*2) early-exit per
    # pair instead of O(len^2); returns -1 above 2, so `>= 1` == the old
    # BETWEEN 1 AND 2 and surviving lev values are identical
    lev = F.levenshtein(F.col("norm_name"), F.col("g_name"), 2)
    return (po.join(g, ["country_code", "admin1_code"])
            .where(F.abs(F.length("norm_name") - F.length("g_name")) <= 2)
            .where(lev >= 1)
            .select(F.concat(F.lit("po:"), F.col("id_number")).alias("subj"),
                    F.lit("fuzzyMatch").alias("pred"),
                    F.concat(F.lit("gn:"), F.col("geoname_id")).alias("obj"),
                    F.round(1.0 - lev.cast("double")
                            / F.greatest(F.length("norm_name"), F.lit(1)),
                            4).alias("confidence"),
                    F.lit("levenshtein").alias("evidence"))
            .distinct())


_D2 = HAVERSINE_SQL_DUCKDB.format(lat1="w.latitude", lon1="w.longitude",
                                  lat2="g.latitude", lon2="g.longitude")


@register("kg_name_radius_links", f"""
SELECT w.qid AS subj, 'nameRadiusMatch' AS pred,
       'gn:' || g.geoname_id AS obj,
       round(1.0 - {_D2} / 10.0, 4) AS confidence,
       round({_D2}, 4) AS distance_km
FROM read_parquet('{_sp("wikidata_places")}') w
JOIN read_parquet('{_sp("places")}') g
  ON lower(trim(w.name)) = lower(trim(g.name)) AND {_D2} <= 10.0
""")
def kg_name_radius_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: name equality AND haversine <= radius, confidence 1 - d/r
    (reconcile.py:113-156) — alias equi-join + cell-bucketed refine."""
    from geo_linked_open_data_kg_spark.functions.geo import haversine_km
    w = load(spark, sf_dir, "wikidata_places").select(
        "qid", F.lower(F.trim(F.col("name"))).alias("nm"),
        F.col("latitude").alias("wlat"), F.col("longitude").alias("wlon"))
    g = load(spark, sf_dir, "places").select(
        "geoname_id", F.lower(F.trim(F.col("name"))).alias("nm"),
        F.col("latitude").alias("glat"), F.col("longitude").alias("glon"))
    d = haversine_km(F.col("wlat"), F.col("wlon"),
                     F.col("glat"), F.col("glon"))
    return (w.join(g, "nm")
            .withColumn("distance_km", d)
            .where(F.col("distance_km") <= 10.0)
            .select(F.col("qid").alias("subj"),
                    F.lit("nameRadiusMatch").alias("pred"),
                    F.concat(F.lit("gn:"), F.col("geoname_id")).alias("obj"),
                    F.round(1.0 - F.col("distance_km") / 10.0,
                            4).alias("confidence"),
                    F.round(F.col("distance_km"), 4).alias("distance_km")))


_HG_D = HAVERSINE_SQL_DUCKDB.format(lat1="w.latitude", lon1="w.longitude",
                                    lat2="g.latitude", lon2="g.longitude")
_HG_CONF = HGIS_CONFIDENCE_SQL.format(
    ds=HGIS_DIST_SQL.format(d="distance_km"),
    ts="(CAST(entity_score AS DOUBLE) / 100.0)",
    ns="(" + HGIS_NAME_SQL.format(t="hg_name", c="gn_name") + ")",
    pw="(" + POP_WEIGHT_SQL.format(p="population") + ")")


@register("kg_hgis_links", f"""
WITH pairs AS (
  SELECT w.qid AS point_id, w.name AS hg_name, g.geoname_id,
         g.name AS gn_name, g.population,
         {_HG_D} AS distance_km,
         CAST(COALESCE(fp.priority,
              CASE WHEN g.feature_class = 'P' THEN 50
                   WHEN g.feature_class = 'A' THEN 60
                   WHEN g.feature_class = 'L' THEN 55
                   ELSE 30 END) AS BIGINT) AS entity_score
  FROM read_parquet('{_sp("wikidata_places")}') w
  JOIN read_parquet('{_sp("places")}') g ON {_HG_D} <= 25.0
  LEFT JOIN read_parquet('{_sp("feature_priority")}') fp
    ON g.feature_code = fp.feature_code
), gated AS (
  SELECT * FROM pairs WHERE entity_score >= 40
), scored AS (
  -- epsilon-shifted 4dp rounding: the 4-factor sum of 2dp weights hits
  -- exact .00005 boundaries where engine ulp noise flips round()/order
  SELECT *, round(CAST({_HG_CONF} AS DOUBLE) + 0.000000001, 4) AS conf
  FROM gated
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY point_id
      ORDER BY conf DESC, distance_km ASC, geoname_id ASC) AS rank
  FROM scored
)
SELECT point_id AS subj, 'hgisMatch' AS pred, 'gn:' || geoname_id AS obj,
       conf AS confidence, round(distance_km, 4) AS distance_km,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5 AND conf >= 0.6
""")
def kg_hgis_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HGIS 4-factor linking (F6 population weight on an oracle path;
    link_hgis_to_lod.py:231-330), points = the wikidata place table."""
    points = load(spark, sf_dir, "wikidata_places").select(
        F.col("qid").alias("point_id"), "name", "latitude", "longitude")
    return spatial.hgis_links(points, load(spark, sf_dir, "places"),
                              load(spark, sf_dir, "feature_priority"))


@register("kg_link_coverage", f"""
WITH linked AS (
  SELECT DISTINCT w.qid
  FROM read_parquet('{_sp("wikidata_places")}') w
  JOIN read_parquet('{_sp("places")}') g
    ON {direct_link.EXTRACT_ID_SQL.format(c="w.geonames_id")} = g.geoname_id
  WHERE w.geonames_id IS NOT NULL
)
SELECT count(*) AS n_total,
       (SELECT count(*) FROM linked) AS n_linked,
       count(*) - (SELECT count(*) FROM linked) AS n_unlinked,
       round(CAST((SELECT count(*) FROM linked) AS DOUBLE) / count(*), 4)
         AS coverage
FROM read_parquet('{_sp("wikidata_places")}')
""")
def kg_link_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/P10/J13: linked vs unlinked coverage via anti-join
    (link_wikidata_places_global.py:450-511)."""
    wd = load(spark, sf_dir, "wikidata_places")
    links = direct_link.direct_id_links(wd, load(spark, sf_dir, "places"))
    unlinked = direct_link.unlinked_wd(wd, links)
    total = wd.agg(F.count("*").alias("n_total"))
    n_link = links.select("subj").distinct().agg(
        F.count("*").alias("n_linked"))
    n_unlink = unlinked.agg(F.count("*").alias("n_unlinked"))
    return (total.crossJoin(n_link).crossJoin(n_unlink)
            .withColumn("coverage",
                        F.round(F.col("n_linked").cast("double")
                                / F.col("n_total"), 4)))


@register("kg_multi_residence_persons", f"""
WITH ex AS (
  SELECT p.qid, r.q AS res_qid
  FROM read_parquet('{_sp("persons")}') p, unnest(p.residence_qids) r(q)
), j AS (
  SELECT DISTINCT ex.qid, ex.res_qid
  FROM ex JOIN read_parquet('{_sp("wikidata_places")}') w
    ON w.qid = ex.res_qid
)
SELECT qid, string_agg(res_qid, ',' ORDER BY res_qid) AS residences,
       CAST(count(*) AS INTEGER) AS n_locations
FROM j GROUP BY qid HAVING count(*) > 1
""")
def kg_multi_residence_persons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: collect_set + size>1 HAVING (multi-location agents,
    PROJECT_STATUS.md:406-412). Arrays stringified sorted for hashing."""
    persons = load(spark, sf_dir, "persons")
    wd = load(spark, sf_dir, "wikidata_places").select(
        F.col("qid").alias("res_qid"))
    ex = persons.select("qid", F.explode("residence_qids").alias("res_qid"))
    return (ex.join(wd, "res_qid")
            .groupBy("qid")
            .agg(F.concat_ws(",", F.sort_array(F.collect_set("res_qid")))
                 .alias("residences"),
                 F.size(F.collect_set("res_qid")).alias("n_locations"))
            .where(F.col("n_locations") > 1))


@register("kg_alias_sets", f"""
SELECT geoname_id,
       list_aggr(list_sort(list_distinct(
         list_filter(coalesce(alternate_names, []),
                     x -> x <> name AND x <> ascii_name))),
         'string_agg', ',') AS extra_aliases
FROM read_parquet('{_sp("places")}')
WHERE len(list_distinct(list_filter(coalesce(alternate_names, []),
          x -> x <> name AND x <> ascii_name))) > 0
""")
def kg_alias_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops F14-style: array_distinct minus primary names
    (parse_wikidata_dump.py:204-210)."""
    p = load(spark, sf_dir, "places")
    extra = F.array_sort(F.array_distinct(F.filter(
        F.coalesce(F.col("alternate_names"),
                   F.array().cast("array<string>")),
        lambda x: (x != F.col("name")) & (x != F.col("ascii_name")))))
    return (p.select("geoname_id",
                     F.concat_ws(",", extra).alias("extra_aliases"),
                     F.size(extra).alias("n"))
            .where(F.col("n") > 0).drop("n"))


@register("kg_nodes", f"""
SELECT 'gn:' || geoname_id AS id, 'Place' AS label, name,
       latitude, longitude, country_code
FROM read_parquet('{_sp("places")}')
UNION ALL
SELECT qid, 'WikidataPlace', name, latitude, longitude, country_qid
FROM read_parquet('{_sp("wikidata_places")}')
UNION ALL
SELECT qid, 'Person', name, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       citizenship_qid
FROM read_parquet('{_sp("persons")}')
UNION ALL
SELECT qid, 'Organization', name, CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)
FROM read_parquet('{_sp("organizations")}')
UNION ALL
SELECT 'po:' || id_number, 'PostOffice', name, CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)
FROM read_parquet('{_sp("post_offices")}')
""")
def kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K4: the materialized node table, ALL label families (cell_id
    column excluded here — it is pandas-UDF-derived; the driver compare
    covers the projection)."""
    from geo_linked_open_data_kg_spark.plans.pipeline import build_nodes
    return build_nodes(load(spark, sf_dir, "places"),
                       load(spark, sf_dir, "wikidata_places"),
                       load(spark, sf_dir, "persons"),
                       load(spark, sf_dir, "organizations"),
                       load(spark, sf_dir, "post_offices")).drop("cell_id")


# ----------------------------------------- training-data pipeline ops ------
# The driver corpus has no duplicates, so dedup operators run over a
# deterministically AUGMENTED corpus built identically on both engines:
# exact copies for doc_id%17==0 (id+1e6), near copies (last token dropped)
# for doc_id%13==0 (id+2e6).

_AUG_SQL = """
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id + 2000000, regexp_replace(text, '\\s+\\S+$', '')
  FROM documents WHERE doc_id % 13 = 0
)"""

_SHINGLE_SQL = """
toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), ' +') AS t FROM aug
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[u.i:u.i+2], ' ') AS shingle
  FROM toks
  CROSS JOIN LATERAL unnest(generate_series(1, greatest(len(t) - 2, 1))) u(i)
  WHERE array_to_string(t[u.i:u.i+2], ' ') <> ''
)"""


def _aug_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    exact = (docs.where(F.col("doc_id") % 17 == 0)
             .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    near = (docs.where(F.col("doc_id") % 13 == 0)
            .select((F.col("doc_id") + 2000000).alias("doc_id"),
                    F.regexp_replace("text", r"\s+\S+$", "").alias("text")))
    out = docs.unionByName(exact).unionByName(near)
    # The driver's documents.parquet at bench scale is a single
    # unsplittable row group, so every dedup operator's map work
    # (tokenize, shingle, hash) otherwise runs on ONE task (guide §2.5:
    # unsplittable input — repartition right after the read). Clustering
    # by the doc_id COLUMN also lets the per-doc groupBys downstream
    # elide their exchanges. Scale-adaptive: skipped whenever the scan
    # already yields enough splits (any real multi-file/multi-row-group
    # table), so no corpus-sized shuffle is ever added at scale.
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        out = out.repartition(par, F.col("doc_id"))
    return out


@register("td_exact_duplicates", f"""
WITH {_AUG_SQL.lstrip()}
SELECT md5(lower(trim(text))) AS text_hash, count(*) AS n_dups,
       min(doc_id) AS keeper_doc_id
FROM aug GROUP BY 1 HAVING count(*) > 1
""")
def td_exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.dedup import exact_duplicates
    return exact_duplicates(_aug_documents(spark, sf_dir))


_MH = [f"min(md5('{s}:' || shingle)) AS mh_{s}" for s in range(12)]
_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, "
    f"md5(mh_{3*b} || '|' || mh_{3*b+1} || '|' || mh_{3*b+2}) AS bucket "
    f"FROM sig" for b in range(4))


@register("td_minhash_lsh_pairs", f"""
WITH {_AUG_SQL.lstrip()}, {_SHINGLE_SQL.lstrip()},
sig AS (
  SELECT doc_id, {', '.join(_MH)} FROM sh GROUP BY doc_id
), banded AS (
  {_BANDS_SQL}
), capped AS (
  SELECT doc_id, band, bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY band, bucket
                                 ORDER BY doc_id) AS rn FROM banded)
  WHERE rn <= 50
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.n_inter), 4)
         AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE CAST(i.n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.n_inter) >= 0.5
""")
def td_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.dedup import minhash_lsh_pairs
    return minhash_lsh_pairs(_aug_documents(spark, sf_dir))


_JACCARD_BLOCK_SQL = """
hotdf AS (
  SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
  HAVING count(*) > 20
), rare AS (
  SELECT sh.* FROM sh WHERE shingle NOT IN (SELECT shingle FROM hotdf)
), honly AS (
  SELECT DISTINCT doc_id FROM sh
  WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM rare)
), fb AS (
  SELECT doc_id, shingle FROM (
    SELECT s.doc_id, s.shingle,
           row_number() OVER (PARTITION BY s.doc_id
                              ORDER BY h.df ASC, s.shingle ASC) AS rn
    FROM sh s JOIN hotdf h USING (shingle)
    WHERE s.doc_id IN (SELECT doc_id FROM honly)) WHERE rn = 1
), fbc AS (
  SELECT doc_id, shingle FROM (
    SELECT *, row_number() OVER (PARTITION BY shingle
                                 ORDER BY doc_id) AS bn FROM fb)
  WHERE bn <= 50
), blocked AS (
  SELECT doc_id, shingle FROM rare
  UNION ALL SELECT doc_id, shingle FROM fbc
)"""


@register("td_ngram_jaccard_pairs", f"""
WITH {_AUG_SQL.lstrip()}, {_SHINGLE_SQL.lstrip()},
{_JACCARD_BLOCK_SQL.lstrip()}, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM blocked a JOIN blocked b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.n_inter), 4)
         AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE CAST(i.n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.n_inter) >= 0.8
""")
def td_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(_aug_documents(spark, sf_dir))


_SIMHASH_NBITS = 60  # keep in sync with operators.dedup.SIMHASH_BITS
_SIMHASH_BITSUMS = ", ".join(
    f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{i}"
    for i in range(_SIMHASH_NBITS))
_SIMHASH_FP = " + ".join(
    f"(CASE WHEN s_{i} > 0 THEN {1 << i} ELSE 0 END)"
    for i in range(_SIMHASH_NBITS))

_SIMHASH_FP_SQL = f"""
tok AS (
  SELECT doc_id, u.tok FROM (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), ' +') AS t
    FROM aug) CROSS JOIN LATERAL unnest(t) u(tok)
  WHERE u.tok <> ''
), h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(tok AS VARCHAR)), 1, 15)) AS BIGINT)
           AS th
  FROM tok
), agg AS (
  SELECT doc_id, {_SIMHASH_BITSUMS} FROM h GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM agg
)"""


@register("td_simhash_banded_pairs", f"""
WITH {_AUG_SQL.lstrip()}, {_SIMHASH_FP_SQL.lstrip()},
banded AS (
  SELECT doc_id, b.b AS band, (simhash >> (15 * b.b)) & 32767 AS band_val
  FROM fp CROSS JOIN (VALUES (0),(1),(2),(3)) b(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_val = b.band_val
  WHERE a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INTEGER) AS hamming
FROM cand c
JOIN fp fa ON fa.doc_id = c.doc_a
JOIN fp fb ON fb.doc_id = c.doc_b
WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
""")
def td_simhash_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.dedup import (
        simhash_banded_pairs,
    )
    return simhash_banded_pairs(_aug_documents(spark, sf_dir))



_BANDED_SIG_SQL = """
sig AS (
  SELECT e.vec_id,
         string_agg(CASE WHEN list_dot_product(e.emb, h.weights) >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY h.plane_id)
           AS full_sig
  FROM e CROSS JOIN read_parquet('{hp}') h
  GROUP BY e.vec_id
), banded AS (
  SELECT vec_id, b.b AS band, substr(full_sig, b.b * 3 + 1, 3) AS bucket
  FROM sig CROSS JOIN (VALUES (0),(1),(2),(3),(4)) b(b)
)"""


@register("td_embedding_near_dups", f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings
  WHERE vec_id % 11 = 0
), n AS (
  SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm
  FROM e
), {_BANDED_SIG_SQL.lstrip().format(hp=_sp("hyperplanes"))},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       round(list_dot_product(na.emb, nb.emb) / (na.nrm * nb.nrm), 4) AS cos
FROM cand c
JOIN n na ON na.vec_id = c.id_a
JOIN n nb ON nb.vec_id = c.id_b
WHERE list_dot_product(na.emb, nb.emb) / (na.nrm * nb.nrm) >= 0.95
""")
def td_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.dedup import embedding_near_dups
    emb = load(spark, sf_dir, "embeddings")
    aug = emb.unionByName(
        emb.where(F.col("vec_id") % 11 == 0)
        .withColumn("vec_id", F.col("vec_id") + 100000))
    return embedding_near_dups(aug.select("vec_id", "embedding"),
                               load(spark, sf_dir, "hyperplanes"))


@register("td_dedup_cap_metrics", f"""
WITH {_AUG_SQL.lstrip()}, {_SHINGLE_SQL.lstrip()},
sig AS (
  SELECT doc_id, {', '.join(_MH)} FROM sh GROUP BY doc_id
), banded AS (
  {_BANDS_SQL}
), bs AS (
  SELECT band, bucket, count(*) AS n FROM banded GROUP BY 1, 2
), mh AS (
  SELECT coalesce(sum(CASE WHEN n > 50 THEN 1 ELSE 0 END), 0) AS capped,
         coalesce(sum(CASE WHEN n > 50 THEN n - 50 ELSE 0 END), 0) AS dropped
  FROM bs
), {_JACCARD_BLOCK_SQL.lstrip()}
SELECT 'minhash_capped_buckets' AS metric, CAST(capped AS BIGINT) AS value
FROM mh
UNION ALL
SELECT 'minhash_dropped_doc_slots', CAST(dropped AS BIGINT) FROM mh
UNION ALL
SELECT 'jaccard_hot_shingles_excluded',
       CAST((SELECT count(*) FROM hotdf) AS BIGINT)
UNION ALL
SELECT 'jaccard_hot_only_docs',
       CAST((SELECT count(*) FROM honly) AS BIGINT)
UNION ALL
SELECT 'jaccard_fallback_dropped_docs',
       CAST((SELECT count(*) FROM fb) - (SELECT count(*) FROM fbc)
            AS BIGINT)
UNION ALL
SELECT 'media_capped_phash_buckets',
       CAST(coalesce(sum(CASE WHEN n > 50 THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM (SELECT phash, count(*) AS n FROM ({{MEDIA_PH}}) GROUP BY phash)
UNION ALL
SELECT 'media_dropped_asset_slots',
       CAST(coalesce(sum(CASE WHEN n > 50 THEN n - 50 ELSE 0 END), 0)
            AS BIGINT)
FROM (SELECT phash, count(*) AS n FROM ({{MEDIA_PH}}) GROUP BY phash)
""".replace("{MEDIA_PH}", f"""
  WITH m AS (
    SELECT DISTINCT s.media_ref AS media_ref
    FROM (SELECT unnest(spans) AS s
          FROM read_parquet('{_sp("geo_documents")}'))
    WHERE s.kind = 'media'
  ), strided AS (
    SELECT media_ref,
           CAST(1 + CAST(('0x' || substr(md5(media_ref), 5, 1)) AS BIGINT)
                AS INTEGER) AS n_frames,
           greatest(CAST(ceil((1 + CAST(('0x' || substr(md5(media_ref), 5,
                                         1)) AS BIGINT)) / 4.0)
                         AS INTEGER), 1) AS stride
    FROM m
  )
  SELECT media_ref,
         CASE WHEN strpos('13579bdf', substr(md5(media_ref), 4, 1)) > 0
                   AND u.i = 0
              THEN md5(media_ref || ':v0')
              ELSE md5(substr(md5(media_ref), 1, 3) || ':'
                       || CAST(u.i AS VARCHAR)) END AS phash
  FROM strided
  CROSS JOIN LATERAL unnest(generate_series(0, n_frames - 1, stride)) u(i)
"""))
def td_dedup_cap_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-silent-caps audit: every recall-bounding cap in the dedup AND
    media near-dup modules reported as a metric row."""
    from geo_linked_open_data_kg_spark.operators.dedup import dedup_cap_metrics
    from geo_linked_open_data_kg_spark.operators.multimodal import (
        media_cap_metrics,
    )
    return (dedup_cap_metrics(_aug_documents(spark, sf_dir))
            .unionByName(media_cap_metrics(
                load(spark, sf_dir, "geo_documents"))))


# -------------------------------------------------- similarity search ------

_COS_SQL = "list_dot_product(q.emb, e.emb) / (q.nrm * e.nrm)"


@register("td_ann_brute_topk", f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x))) AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb, nrm FROM e WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({_COS_SQL}, 6) AS cos,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY round({_COS_SQL}, 6) DESC,
                                     e.vec_id ASC) AS rank
  FROM q JOIN e ON q.query_id <> e.vec_id
)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
FROM scored WHERE rank <= 5
""")
def td_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.similarity import ann_brute_topk
    return ann_brute_topk(load(spark, sf_dir, "embeddings"))


@register("td_ann_lsh_topk", f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x))) AS nrm
  FROM embeddings
), {_BANDED_SIG_SQL.lstrip().format(hp=_sp("hyperplanes"))},
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, nb.vec_id AS neighbor_id
  FROM banded qb JOIN banded nb
    ON qb.band = nb.band AND qb.bucket = nb.bucket
  WHERE qb.vec_id < 10 AND qb.vec_id <> nb.vec_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(q.emb, e.emb) / (q.nrm * e.nrm), 6) AS cos,
         row_number() OVER (PARTITION BY c.query_id
             ORDER BY round(list_dot_product(q.emb, e.emb)
                            / (q.nrm * e.nrm), 6) DESC,
                      c.neighbor_id ASC) AS rank
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e ON e.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
FROM scored WHERE rank <= 5
""")
def td_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.similarity import ann_lsh_topk
    return ann_lsh_topk(load(spark, sf_dir, "embeddings"),
                        load(spark, sf_dir, "hyperplanes"))


@register("td_ann_ivf_topk", f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x))) AS nrm
  FROM embeddings
), c AS (
  SELECT cid, CAST(weights AS DOUBLE[]) AS w,
         sqrt(list_sum(list_transform(CAST(weights AS DOUBLE[]),
                                      x -> x * x))) AS cn
  FROM read_parquet('{_sp("kmeans_centroids")}')
), ec AS (
  SELECT e.vec_id, c.cid,
         round(list_dot_product(e.emb, c.w) / (e.nrm * c.cn), 6) AS ccos
  FROM e CROSS JOIN c
), assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        ORDER BY ccos DESC, cid ASC) AS rn FROM ec) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        ORDER BY ccos DESC, cid ASC) AS rn FROM ec WHERE vec_id < 10)
  WHERE rn <= 4
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a USING (cid)
  WHERE a.vec_id <> p.query_id
), scored AS (
  SELECT cd.query_id, cd.neighbor_id,
         round({_COS_SQL}, 6) AS cos,
         row_number() OVER (PARTITION BY cd.query_id
             ORDER BY round({_COS_SQL}, 6) DESC,
                      cd.neighbor_id ASC) AS rank
  FROM cand cd
  JOIN e q ON q.vec_id = cd.query_id
  JOIN e ON e.vec_id = cd.neighbor_id
)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
FROM scored WHERE rank <= 5
""")
def td_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-pruned ANN over the persisted coarse-quantizer fixture
    (round-5: centroids are data shared bit-identically with the
    oracle; assignment/probing by 6dp-rounded centroid cosine, tie ->
    lowest cid). similarity.ann_ivf_topk."""
    from geo_linked_open_data_kg_spark.operators.similarity import (
        ann_ivf_topk,
    )
    return ann_ivf_topk(load(spark, sf_dir, "embeddings"),
                        load(spark, sf_dir, "kmeans_centroids"))


# ------------------------------------------------------ text analysis ------

_BPE_RE = r"[A-Za-z]{1,4}|\d{1,3}|[^\sA-Za-z\d]"


_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), ' +'),
                            x -> x <> '')) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
         AS n_bpe_ish_tokens,
       CAST(length(trim(text)) AS INTEGER) AS n_chars_norm
FROM documents
"""


_SW_RATIO_SQL = """
CAST(len(list_filter(list_filter(regexp_split_to_array(lower(trim(text)),
         ' +'), x -> x <> ''), x -> list_contains({words}, x))) AS DOUBLE)
/ greatest(len(list_filter(regexp_split_to_array(lower(trim(text)), ' +'),
           x -> x <> '')), 1)
"""


def _sw_list(lang: str) -> str:
    from geo_linked_open_data_kg_spark.operators.textstats import STOPWORDS
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


@register("td_text_stats", f"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n,
         CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
           / greatest(length(text), 1) AS punct,
         {_SW_RATIO_SQL.format(words=_sw_list('en'))} AS stop
  FROM documents
), q AS (
  SELECT doc_id,
         round(least(CAST(n AS DOUBLE) / 500.0, 1.0), 4) AS len_score,
         round(punct, 4) AS punct_ratio,
         round(stop, 4) AS stop_ratio,
         floor((0.4 * least(CAST(n AS DOUBLE) / 500.0, 1.0)
               + 0.3 * least(stop * 5.0, 1.0)
               + 0.3 * (1.0 - least(punct * 10.0, 1.0))) * 10000) / 10000
           AS quality
  FROM base
), tc AS ({_TOKEN_COUNT_SQL.strip()})
SELECT q.doc_id, q.len_score, q.punct_ratio, q.stop_ratio, q.quality,
       tc.n_ws_tokens, tc.n_bpe_ish_tokens, tc.n_chars_norm
FROM q JOIN tc ON q.doc_id = tc.doc_id
""")
def td_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + token counting in one registry slot (the two
    operators stay separate; the query joins them on doc_id so both keep
    value-level oracle coverage under the driver's 50-entry cap)."""
    from geo_linked_open_data_kg_spark.operators.textstats import (
        quality_scores,
        token_counts,
    )
    docs = load(spark, sf_dir, "documents")
    return quality_scores(docs).join(token_counts(docs), "doc_id")


_DUP_QUALITY_PART = f"""
  SELECT doc_id,
         floor((0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
               + 0.3 * least(({_SW_RATIO_SQL.format(words=_sw_list('en'))})
                             * 5.0, 1.0)
               + 0.3 * (1.0 - least(
                     (CAST(len(regexp_extract_all(text, '[^\\w\\s]'))
                           AS DOUBLE) / greatest(length(text), 1)) * 10.0,
                     1.0))) * 10000) / 10000 AS quality
  FROM aug
"""


def _dup_groups_oracle() -> str:
    """Pairs from the three near-dup oracles -> recursive-CTE connected
    components -> keeper by (quality DESC, doc_id ASC)."""
    return f"""
WITH RECURSIVE {_AUG_SQL.lstrip()},
pairs AS (
  SELECT doc_a, doc_b FROM ({ORACLES["td_minhash_lsh_pairs"]})
  UNION
  SELECT doc_a, doc_b FROM ({ORACLES["td_simhash_banded_pairs"]})
  UNION
  SELECT doc_a, doc_b FROM ({ORACLES["td_ngram_jaccard_pairs"]})
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE doc_a <> doc_b
  UNION SELECT doc_b, doc_a FROM pairs WHERE doc_a <> doc_b
), reach(node, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.b, re.r FROM reach re JOIN sym s ON s.a = re.node
), comp AS (
  SELECT node, min(r) AS group_id FROM reach GROUP BY node
), q AS (
{_DUP_QUALITY_PART}
), ranked AS (
  SELECT c.group_id, c.node AS doc_id,
         row_number() OVER (PARTITION BY c.group_id
             ORDER BY q.quality DESC NULLS LAST, c.node ASC) AS rn,
         count(*) OVER (PARTITION BY c.group_id) AS n_members
  FROM comp c LEFT JOIN q ON q.doc_id = c.node
)
SELECT group_id, doc_id, (rn = 1) AS is_keeper, n_members FROM ranked
"""


@register("td_dup_groups", _dup_groups_oracle())
def td_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.dedup import (
        duplicate_groups,
    )
    return duplicate_groups(_aug_documents(spark, sf_dir))[0]



def _profile_values() -> str:
    from geo_linked_open_data_kg_spark.operators.textstats import (
        TRIGRAM_PROFILES,
    )
    return ",\n  ".join(f"('{lg}', '{t}', {w})"
                        for lg, t, w in TRIGRAM_PROFILES)


def _script_sql_parts() -> tuple[str, str, str, str]:
    """(sample VALUES, count columns, s_lang CASE, s_num CASE) — built
    from the SAME constants the Spark operator uses (textstats
    SCRIPT_RANGES / SCRIPT_SAMPLE_DOCS), so engine and oracle cannot
    drift. The range patterns embed literal unicode endpoints, valid in
    both Java regex and RE2."""
    from geo_linked_open_data_kg_spark.operators.textstats import (
        SCRIPT_RANGES,
        SCRIPT_SAMPLE_DOCS,
    )
    vals = ",\n    ".join(f"(CAST({i} AS BIGINT), '{t}')"
                          for i, t in SCRIPT_SAMPLE_DOCS)
    cols = ",\n         ".join(
        f"len(regexp_extract_all(tx, '{p}')) AS c_{k}"
        for k, p in SCRIPT_RANGES.items())
    branches = [
        ("c_hangul > 0 AND c_hangul*2 >= nn", "'ko'", "c_hangul"),
        ("(c_hiragana + c_katakana) > 0 AND "
         "(c_han + c_hiragana + c_katakana)*2 >= nn", "'ja'",
         "c_han + c_hiragana + c_katakana"),
        ("c_han > 0 AND c_han*2 >= nn", "'zh'", "c_han"),
        ("c_cyrillic > 0 AND c_cyrillic*2 >= nn", "'ru'", "c_cyrillic"),
        ("c_arabic > 0 AND c_arabic*2 >= nn", "'ar'", "c_arabic"),
        ("c_greek > 0 AND c_greek*2 >= nn", "'el'", "c_greek"),
    ]
    s_lang = ("CASE " + " ".join(f"WHEN {c} THEN {lg}"
                                 for c, lg, _ in branches) + " END")
    s_num = ("CASE " + " ".join(f"WHEN {c} THEN {n}"
                                for c, _, n in branches) + " END")
    return vals, cols, s_lang, s_num


_LANG_VALS, _LANG_COLS, _LANG_SLANG, _LANG_SNUM = _script_sql_parts()


@register("td_language_id", f"""
WITH lang_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    {_LANG_VALS}) v(doc_id, text)
), base AS (
  SELECT doc_id,
         ' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' '
           AS tx
  FROM lang_docs
), b2 AS (
  SELECT doc_id, tx, greatest(length(tx) - 2, 1) AS n_tri,
         length(replace(tx, ' ', '')) AS nn,
         {_LANG_COLS}
  FROM base
), sc AS (
  SELECT *, {_LANG_SLANG} AS s_lang, {_LANG_SNUM} AS s_num FROM b2
), tri AS (
  SELECT doc_id, n_tri, substr(tx, CAST(u.i AS INTEGER), 3) AS tri
  FROM sc CROSS JOIN LATERAL unnest(generate_series(1, n_tri)) u(i)
  WHERE s_lang IS NULL
), prof(lang, tri, w) AS (VALUES
  {_profile_values()}
), scores AS (
  SELECT doc_id, lang, sum(w) AS hit_w, min(n_tri) AS n_tri
  FROM tri JOIN prof USING (tri) GROUP BY doc_id, lang
), best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
        ORDER BY hit_w DESC, lang ASC) AS rn FROM scores) WHERE rn = 1
)
SELECT b.doc_id, coalesce(b.s_lang, best.lang, 'und') AS pred_lang,
       round(CASE WHEN b.s_lang IS NOT NULL
                  THEN CAST(b.s_num AS DOUBLE) / greatest(b.nn, 1)
                  ELSE CAST(coalesce(best.hit_w, 0) AS DOUBLE)
                       / (60.0 * b.n_tri) END, 6) AS best_ratio
FROM sc b LEFT JOIN best ON best.doc_id = b.doc_id
""")
def td_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-aware language ID (round-5): Unicode script-range counts
    decide CJK/Cyrillic/Arabic/Greek docs (pure Column, integer-exact);
    Latin-script docs take the char-trigram-profile argmax (broadcast
    profile join + map-side partial aggregation). Driver docs are ASCII,
    so deterministic non-Latin sample docs are union'd on BOTH sides
    (textstats.SCRIPT_SAMPLE_DOCS) to keep the script path non-vacuous."""
    from geo_linked_open_data_kg_spark.operators.textstats import (
        SCRIPT_SAMPLE_DOCS,
        language_id,
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(SCRIPT_SAMPLE_DOCS,
                                  "doc_id long, text string")
    return language_id(docs.unionByName(extra))


@register("td_fingerprints", """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), ' +'),
                             x -> x <> '') AS t
  FROM documents
), wins AS (
  SELECT doc_id, md5(array_to_string(t[u.i:u.i+2], ' ')) AS wh
  FROM toks
  CROSS JOIN LATERAL unnest(generate_series(1, greatest(len(t) - 2, 1))) u(i)
)
SELECT doc_id, min(wh) AS fingerprint FROM wins GROUP BY doc_id
""")
def td_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.textstats import fingerprints
    return fingerprints(load(spark, sf_dir, "documents"))


# ------------------------------- round-5 training-data additions -----------
# PII scrub, Gopher repetition signals, training-sequence packing, and
# benchmark decontamination. Oracle SQL is generated from the SAME
# constants the operators use, so engine and oracle cannot drift.


def _sql_str(s: str) -> str:
    """Python string -> DuckDB e'...' literal (escapes \\, ', newline)."""
    body = (s.replace("\\", "\\\\").replace("'", "''")
            .replace("\n", "\\n"))
    return f"e'{body}'"


def _pii_sql() -> str:
    from geo_linked_open_data_kg_spark.operators.textstats import (
        PII_ORDER,
        PII_PATTERNS,
        PII_SAMPLE_DOCS,
    )
    vals = ",\n    ".join(f"(CAST({i} AS BIGINT), {_sql_str(t)})"
                          for i, t in PII_SAMPLE_DOCS)
    cnt = {k: f"len(regexp_extract_all(text, '{p}'))"
           for k, p in PII_PATTERNS.items()}
    red = "text"
    for k in PII_ORDER:
        red = (f"regexp_replace({red}, '{PII_PATTERNS[k]}', "
               f"'[{k.upper()}]', 'g')")
    return f"""
WITH pii_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    {vals}) v(doc_id, text)
)
SELECT doc_id,
       CAST({cnt["email"]} AS BIGINT) AS n_email,
       CAST({cnt["ipv4"]} AS BIGINT) AS n_ipv4,
       CAST({cnt["phone"]} AS BIGINT) AS n_phone,
       CAST({cnt["email"]} + {cnt["ipv4"]} + {cnt["phone"]} AS BIGINT)
         AS pii_total,
       md5({red}) AS redacted_hash
FROM pii_docs
"""


@register("td_pii_stats", _pii_sql())
def td_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based PII detect/redact (C4/Dolma-style scrub) — pure Column
    regexp in the Java∩RE2 dialect; PII sample docs union'd BOTH sides
    because the driver corpus is PII-free word soup."""
    from geo_linked_open_data_kg_spark.operators.textstats import (
        PII_SAMPLE_DOCS,
        pii_stats,
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(PII_SAMPLE_DOCS,
                                  "doc_id long, text string")
    return pii_stats(docs.unionByName(extra))


def _repetition_sql() -> str:
    from geo_linked_open_data_kg_spark.operators.textstats import (
        REPETITION_SAMPLE_DOCS,
    )
    vals = ",\n    ".join(f"(CAST({i} AS BIGINT), {_sql_str(t)})"
                          for i, t in REPETITION_SAMPLE_DOCS)
    return f"""
WITH rep_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    {vals}) v(doc_id, text)
), arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS w,
         list_filter(list_transform(string_split(text, chr(10)),
                                    x -> trim(x)), x -> x <> '') AS lines
  FROM rep_docs
), arr2 AS (
  SELECT doc_id, w, lines,
         CASE WHEN len(w) >= 2 THEN
           list_transform(generate_series(1, len(w) - 1),
                          i -> array_to_string(w[i:i+1], ' '))
         ELSE CAST([] AS VARCHAR[]) END AS bg
  FROM arr
)
SELECT doc_id,
       CAST(len(w) AS INTEGER) AS n_words,
       round(CAST(coalesce(list_max(list_transform(list_distinct(w),
                 x -> len(list_filter(w, y -> y = x)))), 0) AS DOUBLE)
             / greatest(len(w), 1), 6) AS top_word_frac,
       round(CAST(coalesce(list_max(list_transform(list_distinct(bg),
                 x -> len(list_filter(bg, y -> y = x)))), 0) AS DOUBLE)
             / greatest(len(bg), 1), 6) AS top_bigram_frac,
       CAST(len(lines) AS INTEGER) AS n_lines,
       round(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
             / greatest(len(lines), 1), 6) AS dup_line_frac,
       round(CAST(coalesce(list_sum(list_transform(lines,
                 x -> CASE WHEN len(list_filter(lines, y -> y = x)) > 1
                           THEN length(x) ELSE 0 END)), 0) AS DOUBLE)
             / greatest(coalesce(list_sum(list_transform(lines,
                 x -> length(x))), 0), 1), 6) AS dup_line_char_frac
FROM arr2
"""


@register("td_repetition_stats", _repetition_sql())
def td_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (dup-line / top-n-gram fractions) —
    nested HOFs, zero shuffles; line-bearing sample docs union'd BOTH
    sides because driver docs are single-line."""
    from geo_linked_open_data_kg_spark.operators.textstats import (
        REPETITION_SAMPLE_DOCS,
        repetition_stats,
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(REPETITION_SAMPLE_DOCS,
                                  "doc_id long, text string")
    return repetition_stats(docs.unionByName(extra))


_PACK_BUDGET = 512

_TOK_LEN_SQL = ("CAST(len(list_filter(regexp_split_to_array("
                "lower(trim(text)), ' +'), x -> x <> '')) AS BIGINT)")


@register("td_sequence_packing", f"""
WITH tok AS (
  SELECT doc_id, {_TOK_LEN_SQL} AS n_tokens FROM documents
), cum AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
  FROM tok
)
SELECT doc_id, n_tokens,
       CAST(pre // {_PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST(pre % {_PACK_BUDGET} AS BIGINT) AS seq_offset
FROM cum
""")
def td_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk sequence packing via the two-phase
    distributed prefix sum (range partition -> per-partition offsets ->
    within-partition window) — never the single-partition global-window
    trap the naive spelling plans."""
    from geo_linked_open_data_kg_spark.operators.packing import (
        sequence_packing,
    )
    return sequence_packing(load(spark, sf_dir, "documents"),
                            budget=_PACK_BUDGET)


_DECON_K = 4  # word 4-grams: at ~54-token synth docs the 13-gram GPT-3
#               rule is vacuous and 3-grams flag 40% of the corpus


@register("td_decontaminate", f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), ' +') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[u.i:u.i+{_DECON_K - 1}], ' ') AS shingle
  FROM toks CROSS JOIN LATERAL
       unnest(generate_series(1, greatest(len(t) - {_DECON_K}, 0) + 1)) u(i)
  WHERE array_to_string(t[u.i:u.i+{_DECON_K - 1}], ' ') <> ''
), ev AS (
  SELECT doc_id AS eval_doc_id, shingle FROM sh WHERE doc_id % 97 = 3
), tr AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 3
)
SELECT tr.doc_id,
       CAST(count(DISTINCT tr.shingle) AS INTEGER) AS n_shared_shingles,
       CAST(count(DISTINCT ev.eval_doc_id) AS INTEGER) AS n_eval_docs
FROM tr JOIN ev USING (shingle)
GROUP BY tr.doc_id
""")
def td_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C n-gram rule): the
    deterministic doc_id%97==3 slice acts as the eval benchmark; its
    shingles broadcast against the remaining training corpus."""
    from geo_linked_open_data_kg_spark.operators.dedup import decontaminate
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.where(F.col("doc_id") % 97 == 3)
    tr = docs.where(F.col("doc_id") % 97 != 3)
    return decontaminate(tr, ev, k=_DECON_K)


def _quality_filter_sql() -> str:
    from geo_linked_open_data_kg_spark.operators.textstats import (
        QUALITY_SAMPLE_DOCS,
        QUALITY_THRESHOLDS,
    )
    q = QUALITY_THRESHOLDS
    vals = ",\n    ".join(f"(CAST({i} AS BIGINT), {_sql_str(t)})"
                          for i, t in QUALITY_SAMPLE_DOCS)
    return f"""
WITH q_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    {vals}) v(doc_id, text)
), arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS w,
         list_filter(list_transform(string_split(text, chr(10)),
                                    x -> trim(x)), x -> x <> '') AS lines,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym
  FROM q_docs
), m AS (
  SELECT doc_id, n_sym, len(w) AS n_words,
         coalesce(list_sum(list_transform(w, x -> length(x))), 0)
           AS word_chars,
         len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         coalesce(list_max(list_transform(list_distinct(w),
                   x -> len(list_filter(w, y -> y = x)))), 0) AS top_cnt,
         len(lines) AS n_lines,
         len(lines) - len(list_distinct(lines)) AS n_dup_lines
  FROM arr
), r AS (
  SELECT doc_id, n_words,
         list_filter([
           CASE WHEN n_words < {q["min_words"]}
                  OR n_words > {q["max_words"]} THEN 'word_count' END,
           CASE WHEN word_chars < {q["min_mwl"]} * n_words
                  OR word_chars > {q["max_mwl"]} * n_words
                THEN 'mean_word_len' END,
           CASE WHEN {q["alpha_den"]} * n_alpha < {q["alpha_num"]} * n_words
                THEN 'alpha_ratio' END,
           CASE WHEN {q["sym_den"]} * n_sym > n_words
                THEN 'symbol_ratio' END,
           CASE WHEN n_words >= {q["min_words"]}
                 AND {q["rep_den"]} * top_cnt > n_words
                THEN 'repetition' END,
           CASE WHEN {q["dup_den"]} * n_dup_lines > {q["dup_num"]} * n_lines
                THEN 'dup_lines' END
         ], x -> x IS NOT NULL) AS reasons
  FROM m
)
SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
       len(reasons) = 0 AS keep,
       CAST(len(reasons) AS INTEGER) AS n_fail,
       coalesce(array_to_string(reasons, ','), '') AS reasons
FROM r
"""


@register("td_quality_filter", _quality_filter_sql())
def td_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher/C4 keep-drop verdict — integer-exact rule
    boundaries shared with the oracle via QUALITY_THRESHOLDS; one
    violator sample doc per rule union'd BOTH sides."""
    from geo_linked_open_data_kg_spark.operators.textstats import (
        QUALITY_SAMPLE_DOCS,
        quality_filter,
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(QUALITY_SAMPLE_DOCS,
                                  "doc_id long, text string")
    return quality_filter(docs.unionByName(extra))


# Target mixture for the synthetic 20-source corpus: a deterministic
# spread of keep fractions (0.1..0.9) with the last two sources left OUT
# of the table to exercise the default keep-all path on both engines.
MIXTURE_WEIGHTS = {f"src{i}": ((i * 7) % 9 + 1) / 10 for i in range(18)}
_MIX_SEED = "mix-v1"


def _domain_mixture_sql() -> str:
    from geo_linked_open_data_kg_spark.operators.sampling import cutoff_hex
    vals = ",\n    ".join(f"('{s}', '{cutoff_hex(f)}')"
                          for s, f in sorted(MIXTURE_WEIGHTS.items()))
    bucket = (f"substr(md5(concat('{_MIX_SEED}', ':', d.source, ':', "
              "CAST(d.doc_id AS VARCHAR))), 1, 8)")
    return f"""
WITH cut(source, cutoff) AS (VALUES
    {vals})
SELECT d.doc_id, d.source, {bucket} AS bucket
FROM documents d LEFT JOIN cut c USING (source)
WHERE {bucket} < coalesce(c.cutoff, 'g')
"""


@register("td_domain_mixture", _domain_mixture_sql())
def td_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold domain-mixture sampling (the
    reproducible, partitioning-independent alternative to sampleBy):
    broadcast cutoff table, map-side filter, zero shuffles."""
    from geo_linked_open_data_kg_spark.operators.sampling import (
        domain_mixture,
    )
    return domain_mixture(load(spark, sf_dir, "documents"),
                          MIXTURE_WEIGHTS, seed=_MIX_SEED)


# ----------------------------------------------- multimodal (stubbed) ------

@register("td_media_features", f"""
WITH m AS (
  SELECT doc_id, s."offset" AS span_offset, s.media_ref AS media_ref
  FROM (SELECT doc_id, unnest(spans) AS s
        FROM read_parquet('{_sp("geo_documents")}'))
  WHERE s.kind = 'media'
)
SELECT doc_id, span_offset, media_ref,
       CAST(length(media_ref) AS INTEGER) AS n_ref_bytes,
       CAST(64 + CAST(('0x' || substr(md5(media_ref), 1, 2)) AS BIGINT)
            AS INTEGER) AS fake_width,
       CAST(64 + CAST(('0x' || substr(md5(media_ref), 3, 2)) AS BIGINT)
            AS INTEGER) AS fake_height,
       CAST(1 + CAST(('0x' || substr(md5(media_ref), 5, 1)) AS BIGINT)
            AS INTEGER) AS fake_n_frames
FROM m
""")
def td_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_linked_open_data_kg_spark.operators.multimodal import media_features
    return media_features(load(spark, sf_dir, "geo_documents"))


@register("td_media_frame_samples", f"""
WITH m AS (
  SELECT doc_id, s."offset" AS span_offset, s.media_ref AS media_ref
  FROM (SELECT doc_id, unnest(spans) AS s
        FROM read_parquet('{_sp("geo_documents")}'))
  WHERE s.kind = 'media'
), feat AS (
  SELECT doc_id, span_offset, media_ref,
         CAST(1 + CAST(('0x' || substr(md5(media_ref), 5, 1)) AS BIGINT)
              AS INTEGER) AS n_frames
  FROM m
), strided AS (
  SELECT *, greatest(CAST(ceil(n_frames / 4.0) AS INTEGER), 1) AS stride
  FROM feat
)
SELECT doc_id, span_offset, media_ref,
       CAST(u.i AS INTEGER) AS frame_idx,
       md5(media_ref || ':' || CAST(u.i AS VARCHAR)) AS frame_hash
FROM strided
CROSS JOIN LATERAL unnest(generate_series(0, n_frames - 1, stride)) u(i)
""")
def td_media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-stride frame sampling over the (stub-decoded) media
    assets — the multimodal pipeline's per-frame fan-out, pure Column."""
    from geo_linked_open_data_kg_spark.operators.multimodal import (
        media_features,
        sample_frames,
    )
    return sample_frames(media_features(load(spark, sf_dir,
                                             "geo_documents")))


@register("td_media_near_dups", f"""
WITH m AS (
  SELECT DISTINCT s.media_ref AS media_ref
  FROM (SELECT unnest(spans) AS s
        FROM read_parquet('{_sp("geo_documents")}'))
  WHERE s.kind = 'media'
), strided AS (
  SELECT media_ref,
         CAST(1 + CAST(('0x' || substr(md5(media_ref), 5, 1)) AS BIGINT)
              AS INTEGER) AS n_frames,
         greatest(CAST(ceil((1 + CAST(('0x' || substr(md5(media_ref), 5, 1))
                                      AS BIGINT)) / 4.0) AS INTEGER), 1)
           AS stride
  FROM m
), ph AS (
  SELECT media_ref,
         CASE WHEN strpos('13579bdf', substr(md5(media_ref), 4, 1)) > 0
                   AND u.i = 0
              THEN md5(media_ref || ':v0')
              ELSE md5(substr(md5(media_ref), 1, 3) || ':'
                       || CAST(u.i AS VARCHAR)) END AS phash
  FROM strided
  CROSS JOIN LATERAL unnest(generate_series(0, n_frames - 1, stride)) u(i)
), sizes AS (
  SELECT media_ref, count(*) AS n_ph FROM ph GROUP BY media_ref
), capped AS (
  SELECT media_ref, phash FROM (
    SELECT *, row_number() OVER (PARTITION BY phash
                                 ORDER BY media_ref) AS bn FROM ph)
  WHERE bn <= 50
), cand AS (
  SELECT DISTINCT a.media_ref AS ref_a, b.media_ref AS ref_b
  FROM capped a JOIN capped b USING (phash)
  WHERE a.media_ref < b.media_ref
), inter AS (
  SELECT c.ref_a, c.ref_b, count(*) AS n_inter
  FROM cand c
  JOIN ph pa ON pa.media_ref = c.ref_a
  JOIN ph pb ON pb.media_ref = c.ref_b AND pb.phash = pa.phash
  GROUP BY c.ref_a, c.ref_b
)
SELECT i.ref_a, i.ref_b,
       round(CAST(n_inter AS DOUBLE)
             / (sa.n_ph + sb.n_ph - n_inter), 4) AS frame_jaccard
FROM inter i
JOIN sizes sa ON sa.media_ref = i.ref_a
JOIN sizes sb ON sb.media_ref = i.ref_b
WHERE round(CAST(n_inter AS DOUBLE)
            / (sa.n_ph + sb.n_ph - n_inter), 4) >= 0.5
""")
def td_media_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset-level multimodal dedup: sampled-frame phashes through the
    banded-LSH near-dup shape (VERDICT r3 item 8)."""
    from geo_linked_open_data_kg_spark.operators.multimodal import (
        media_near_dups,
    )
    return media_near_dups(load(spark, sf_dir, "geo_documents"))


# --------------------------------------------------- events / windows ------

@register("ev_tumbling_counts", """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type, count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
""")
def ev_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "sum_value"))


@register("ev_topk_per_type", """
SELECT event_type, event_id, value, CAST(rank AS INTEGER) AS rank FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rank
  FROM events)
WHERE rank <= 5
""")
def ev_topk_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(),
                                                 F.col("event_id").asc())
    return (ev.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("event_type", "event_id", "value", "rank"))


@register("ev_sessionization", """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ts - lag(ts) OVER w <= INTERVAL '30 minutes'
              THEN 0 ELSE 1 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, event_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
FROM sessions GROUP BY user_id, session_no
""")
def ev_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) — lag + running sum,
    the batch twin of a stateful streaming session window."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ has no direct long cast; hop through TIMESTAMP (UTC)
    ts_s = F.col("ts").cast("timestamp").cast("long")
    marked = ev.withColumn(
        "new_session",
        F.when(ts_s - F.lag(ts_s).over(w) <= 1800, 0).otherwise(1))
    sessions = marked.withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sessions.groupBy("user_id", "session_no")
            .agg(F.count("*").alias("n_events"),
                 F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")
                 .alias("session_start"))
            .select("user_id", F.col("session_no").cast("long")
                    .alias("session_no"), "n_events", "session_start"))


# --------------------------------------------------------- TPC-H-ish -------

@register("tpch_q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("sum_disc_price"),
                 F.count("*").alias("count_order")))


# Reorder so pipeline-critical value gates sit in the FIRST entries: the
# driver runs correctness in registration order with a hard 50-entry cap,
# so anything past 50 is silently unverified. Priority list first, then
# everything else in original registration order.
_PRIORITY = [
    "kg_linked_mentions",
    "kg_canonical_gazetteer_triples",
    "kg_same_as_components",
    "kg_nodes",
    "kg_mention_candidates",
    "kg_admin_triples",
    "kg_spatial_links",
    "kg_hgis_links",
    "td_dup_groups",
    "kg_hierarchy_closure",
]
_order = [*_PRIORITY, *(n for n in QUERIES if n not in _PRIORITY)]
QUERIES = {n: QUERIES[n] for n in _order}
ORACLES = {n: ORACLES[n] for n in _order}
assert len(QUERIES) <= 50, f"registry overflow: {len(QUERIES)} > 50"
