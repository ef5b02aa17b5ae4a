"""Property-based tests (hypothesis) for the load-bearing invariants that
golden cases can't sweep exhaustively:

1. Spatial-grid RECALL: any point within radius_km of a probe point must
   fall in one of the probe's covering cells — this is the invariant the
   whole cell-bucketed spatial join (operators/spatial.py) rests on; a
   single missed cell is a silently dropped candidate pair at 100 TB.
2. connected_components == union-find on arbitrary small graphs — the
   canonicalization and td_dup_groups keeper selection both sit on it.
3. sequence_packing's two-phase distributed prefix scan == the serial
   prefix sum, at every partition count — the exact property that breaks
   if the partition base offsets are mis-ordered or double-counted.

Spark-backed properties cap max_examples (each example runs real jobs);
the pure-numpy grid property runs the full default budget.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from geo_linked_open_data_kg_spark.functions.geo import (
    EARTH_RADIUS_KM,
    cell_ids_np,
    cover_cells_np,
)
from geo_linked_open_data_kg_spark.operators.canonicalize import (
    connected_components,
)
from geo_linked_open_data_kg_spark.operators.packing import sequence_packing


# ---------------------------------------------------------------- grid


def _destination(lat: float, lon: float, bearing_deg: float,
                 dist_km: float) -> tuple[float, float]:
    """Exact great-circle destination point on the sphere."""
    phi1 = math.radians(lat)
    lam1 = math.radians(lon)
    theta = math.radians(bearing_deg)
    delta = dist_km / EARTH_RADIUS_KM
    phi2 = math.asin(math.sin(phi1) * math.cos(delta)
                     + math.cos(phi1) * math.sin(delta) * math.cos(theta))
    lam2 = lam1 + math.atan2(
        math.sin(theta) * math.sin(delta) * math.cos(phi1),
        math.cos(delta) - math.sin(phi1) * math.sin(phi2))
    lon2 = math.degrees(lam2)
    lon2 = ((lon2 + 180.0) % 360.0) - 180.0  # wrap to [-180, 180)
    return math.degrees(phi2), lon2


@given(
    lat=st.floats(-88.5, 88.5),
    lon=st.floats(-180.0, 179.999),
    radius_km=st.floats(0.1, 200.0),
    bearing=st.floats(0.0, 360.0),
    frac=st.floats(0.0, 1.0),
)
@settings(max_examples=300, deadline=None)
def test_cover_cells_contain_every_point_within_radius(
        lat, lon, radius_km, bearing, frac):
    """Recall invariant of the latitude-adaptive grid: a gazetteer row at
    ANY point within the search disc lands in a cell the probe covers.
    The longitude width uses the rigorous haversine bound, so this holds
    to lat 88.5 / 200 km (the clamped poleward band past 89 is the only
    excluded zone; the planar width the review replaced capped the
    guarantee at ~84 deg / 50 km)."""
    plat, plon = _destination(lat, lon, bearing, radius_km * frac)
    if abs(plat) > 89.0:
        return  # outside the grid's guaranteed zone
    cover = set(cover_cells_np(np.array([lat]), np.array([lon]),
                               radius_km)[0])
    cell = int(cell_ids_np(np.array([plat]), np.array([plon]))[0])
    assert cell in cover, (
        f"point {plat},{plon} at {radius_km * frac:.3f} km of {lat},{lon} "
        f"fell in cell {cell} outside the {len(cover)}-cell cover")


# --------------------------------------------- connected components


class _UnionFind:
    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[ra] = rb


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=1, max_size=40),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_match_union_find(spark, edges):
    named = [(f"n{a:02d}", f"n{b:02d}") for a, b in edges
             if a != b]  # engine drops self-loops; mirror that
    if not named:
        return
    df = spark.createDataFrame(named, "subj string, obj string")
    labels, _ = connected_components(df)
    got = {r["node"]: r["component"] for r in labels.collect()}

    uf = _UnionFind()
    for a, b in named:
        uf.union(a, b)
    nodes = {n for e in named for n in e}
    # canonical label = min node id in the component, same as the engine
    roots: dict[str, str] = {}
    for n in sorted(nodes):
        roots.setdefault(uf.find(n), n)
    want = {n: roots[uf.find(n)] for n in nodes}
    assert got == want


# ------------------------------------------------- sequence packing


@given(
    toks=st.lists(st.integers(0, 40), min_size=1, max_size=60),
    budget=st.integers(4, 64),
    nparts=st.integers(1, 5),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sequence_packing_matches_serial_prefix_sum(
        spark, toks, budget, nparts):
    """The two-phase distributed scan must equal the serial prefix sum of
    the SAME token counts in doc_id order, for every partition count —
    if partition base offsets are ordered by the wrong key or a subtotal
    is double-counted, some document's (seq_id, seq_offset) shifts."""
    rows = [(i, " ".join(["tok"] * k)) for i, k in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           sequence_packing(df, budget=budget,
                            num_partitions=nparts).collect()}

    acc = 0
    for i in range(len(toks)):
        r = out[i]
        assert r["seq_id"] == acc // budget, (i, dict(r.asDict()), acc)
        assert r["seq_offset"] == acc % budget, (i, dict(r.asDict()), acc)
        acc += r["n_tokens"]


def _coarse_cell_py(lat: float, lon: float, deg: float = 15.0) -> int:
    """Python twin of functions/geo.coarse_cell (equivalence with the
    Column version is pinned by test_pipeline's sweep test)."""
    n_bands, n_cols = int(180 / deg), int(360 / deg)
    band = min(math.floor((lat + 90.0) / deg), n_bands - 1)
    col = min(math.floor(((lon + 180.0) % 360.0) / deg), n_cols - 1)
    return band * n_cols + col


@given(
    lat=st.floats(-89.9, 89.9),
    lon=st.floats(-180.0, 179.999),
    radius_km=st.floats(0.1, 1500.0),
    bearing=st.floats(0.0, 360.0),
    frac=st.floats(0.0, 1.0),
)
@settings(max_examples=300, deadline=None)
def test_coarse_cover_contains_points_within_radius(
        lat, lon, radius_km, bearing, frac):
    """Partition-pruning recall: a subject anywhere within the serving
    query's radius must live in a partition dir the query enumerates —
    a miss here silently drops edges from nearby_edges at any scale."""
    from geo_linked_open_data_kg_spark.functions.geo import (
        coarse_cells_covering,
    )
    plat, plon = _destination(lat, lon, bearing, radius_km * frac)
    cover = coarse_cells_covering(lat, lon, radius_km)
    assert _coarse_cell_py(plat, plon) in cover, (
        f"point {plat},{plon} within {radius_km * frac:.1f} km of "
        f"{lat},{lon} maps to a partition outside the {len(cover)}-dir "
        "cover")
