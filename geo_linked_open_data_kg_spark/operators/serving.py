"""Serving reads over the materialized graph: a point-radius lookup and
the k-hop ego graph, the two reads the reference serves from its Neo4j
graph (a POINT index and `MATCH (n)-[r*..k]-(m)`).

The edges table is written `partitionBy(pred, cell)`, where cell is the
subject's coarse grid box (functions/geo.coarse_cell), and every row
carries its subject's coordinate (`s_lat`, `s_lon`;
plans/pipeline.edge_table). So the layout is the index:

- `nearby_edges` enumerates, on the driver, the coarse boxes that
  intersect the search disc (functions/geo.coarse_cells_covering) and
  reads only the `pred=<pred>/cell=<c>` directories of that cover that
  exist, with an explicit schema: the edge root is never listed, no
  schema-inference job runs, and the nodes table is not read. The rows
  are bbox-filtered and haversine-refined on their own `s_lat`/`s_lon`.
  The coarse grid has 288 cells, so a 100 km read opens 1-4 directories
  of one predicate whatever the corpus size.
- `ego_edges` does not use that layout: it reads the one-directory
  `canonical_triples` table, whose rows are the edges table's. Hops
  1..k-1 collect only the node ids of the edges that touch the BFS
  level; hop k is one lazy scan with the reached node set pushed in as
  an `IN` predicate, so a k-hop read runs k Spark jobs and never lists
  the (pred, cell) directories.
"""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_linked_open_data_kg_spark.functions.geo import (
    EARTH_RADIUS_KM,
    KM_PER_DEG_LAT,
    coarse_cells_covering,
    haversine_km,
)
from geo_linked_open_data_kg_spark.plans.checkpoint import partition_dir
from geo_linked_open_data_kg_spark.plans.pipeline import (
    EDGES_SCHEMA,
    TRIPLE_COLS,
    TRIPLES_SCHEMA,
)

NEARBY_SCHEMA = ("subj string, pred string, obj string, confidence double,"
                 " evidence string, dist_km double")
EGO_SCHEMA = ("subj string, pred string, obj string, confidence double,"
              " evidence string, hop int")


def nearby_edges(spark: SparkSession, graph_dir: str, pred: str,
                 lat: float, lon: float, radius_km: float) -> DataFrame:
    """Edges of one predicate whose SUBJECT lies within radius_km of the
    query point: the (pred, cell) directories of the disc's cover,
    refined exactly by haversine distance on the stored subject
    coordinate.

    Output: (subj, pred, obj, confidence, evidence, dist_km), dist_km
    rounded to 3 decimals. Raises ValueError on an edges table written
    without `s_lat`/`s_lon`.
    """
    root = os.path.join(graph_dir, "edges")
    pred_dir = os.path.join(root, partition_dir("pred", pred))
    dirs = [d for d in (os.path.join(pred_dir, f"cell={int(c)}")
                        for c in coarse_cells_covering(lat, lon, radius_km))
            if os.path.isdir(d)]
    if not dirs:
        return spark.createDataFrame([], NEARBY_SCHEMA)
    _require_subject_coords(dirs[0])
    edges = (spark.read.schema(EDGES_SCHEMA).option("basePath", root)
             .parquet(*dirs))
    # generous bbox, pushed to the parquet scan; haversine refines
    # exactly. Longitude half-width via the rigorous haversine bound
    # (the planar r/(111*cos) width under-covers at high latitude —
    # code review); a disc that reaches a pole keeps every longitude.
    r_deg = radius_km / KM_PER_DEG_LAT
    lat_ok = F.col("s_lat").between(lat - r_deg, lat + r_deg)
    phi_far = min(89.9, abs(lat) + r_deg)
    s = math.sin(min(radius_km / EARTH_RADIUS_KM, math.pi) / 2.0) \
        / max(1e-12, math.sqrt(math.cos(math.radians(min(abs(lat), 89.9)))
                               * math.cos(math.radians(phi_far))))
    if abs(lat) + r_deg >= 89.9 or s >= 1.0:
        lon_ok = F.lit(True)          # pole-crossing disc: full ring
    else:
        dlon = 2.0 * math.degrees(math.asin(s))
        lo_w, hi_w = lon - dlon, lon + dlon
        if lo_w < -180.0 or hi_w > 180.0:  # antimeridian wrap: 2 windows
            lon_ok = \
                (F.col("s_lon") >= ((lo_w + 540.0) % 360.0 - 180.0)) \
                | (F.col("s_lon") <= ((hi_w + 540.0) % 360.0 - 180.0))
        else:
            lon_ok = F.col("s_lon").between(lo_w, hi_w)
    dist = haversine_km(F.col("s_lat"), F.col("s_lon"),
                        F.lit(float(lat)), F.lit(float(lon)))
    return (edges.where(lat_ok & lon_ok)
            .withColumn("dist_km", F.round(dist, 3))
            .where(F.col("dist_km") <= radius_km)
            .select(*TRIPLE_COLS, "dist_km"))


def _require_subject_coords(cell_dir: str) -> None:
    """Refuse an edges table written before edges carried their subject
    coordinate: its rows would read null `s_lat`/`s_lon`, which the
    distance filter drops, so every read would come back empty."""
    part = next(os.path.join(cell_dir, n)
                for n in sorted(os.listdir(cell_dir))
                if n.endswith(".parquet"))
    missing = [c for c in ("s_lat", "s_lon")
               if c not in pq.read_schema(part).names]
    if missing:
        raise ValueError(
            f"edges table {os.path.dirname(os.path.dirname(cell_dir))} has"
            f" no {', '.join(missing)} column(s): it was written before"
            " edges stored their subject coordinate. Rebuild the edges"
            " stage (delete the edges directory and re-run run_pipeline,"
            " which recomputes only that stage).")


def ego_edges(spark: SparkSession, graph_dir: str, start_ids: list[str],
              k: int = 2, preds: list[str] | None = None) -> DataFrame:
    """The k-hop ego graph around a set of node ids: the undirected
    expansion of Cypher's `MATCH (n)-[r*..k]-(m)`.

    Output: (subj, pred, obj, confidence, evidence, hop) where hop is
    the expansion round (1-based) that first reached the edge; each
    (subj, pred, obj) appears once. `preds` restricts the traversal to
    those predicates. k < 1 gives the empty frame.

    Reads `<graph_dir>/canonical_triples`, one directory whose rows are
    the edges table's, already unique on (subj, pred, obj); raises
    ValueError if the graph has none. Hops 1..k-1 each collect the
    (subj, obj) of the edges that touch the current BFS level, which
    gives the node levels 0..k-1. Hop k is not collected: the result is
    one lazy scan for the edges that touch any of those nodes, the
    frontier pushed into the scan as an `IN` predicate ("Pushing
    Data-Induced Predicates Through Joins in Big-Data Clusters", VLDB
    2019), with hop = 1 + the lower level of its two endpoints. So a
    read runs k Spark jobs and ships only node ids through the driver;
    a hub's blow-up is the caller's k to manage, not a hidden cap (no
    silent caps).
    """
    path = os.path.join(graph_dir, "canonical_triples")
    if not os.path.isdir(path):
        raise ValueError(
            f"graph {graph_dir} has no canonical_triples table ({path}):"
            " ego reads need the pipeline's canonical_triples stage.")
    if k < 1:
        return spark.createDataFrame([], EGO_SCHEMA)
    triples = spark.read.schema(TRIPLES_SCHEMA).parquet(path)
    if preds:
        triples = triples.where(F.col("pred").isin(list(preds)))

    def touches(nodes: list[str]):
        return F.col("subj").isin(nodes) | F.col("obj").isin(nodes)

    levels = [sorted({str(s) for s in start_ids})]
    seen = set(levels[0])
    while len(levels) < k and levels[-1]:
        reached = set()
        for r in triples.where(touches(levels[-1])).select(
                "subj", "obj").collect():
            reached.update(r)
        levels.append(sorted(reached - seen))
        seen |= reached

    def level(c: str):
        lv = F.when(F.col(c).isin(levels[0]), 0)
        for h, nodes in enumerate(levels[1:], 1):
            lv = lv.when(F.col(c).isin(nodes), h)
        return lv

    hop = (F.least(level("subj"), level("obj")) + 1).cast("int")
    return (triples.where(touches(sorted(seen)))
            .select(*TRIPLE_COLS, hop.alias("hop")))
