"""Output checks, computed outside Spark from the parquet the pipeline wrote.

- mention truth: candidate recall and occurrence precision, with the
  definitions of tests/test_mention_linking.py;
- an order-insensitive hash of a table, so every build of a run can be
  compared with the first;
- a numpy haversine reference for `nearby_edges`;
- a pure-Python breadth-first search reference for `ego_edges`.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

RECALL_GATE = 0.99
PRECISION_GATE = 0.97
# The gates were set on the seed-42 corpus. One 400-document corpus is a
# sample: across seeds 1-24 the point values spread 0.989-0.995 (recall)
# and 0.968-0.978 (precision). A run fails a gate when its one-sided 99.9%
# Wilson upper bound is below the gate, i.e. when the sample shows the
# linker is below it.
GATE_Z = 3.09
EARTH_RADIUS_KM = 6371.0088
# distances are rounded to 3 decimals on both sides; a row this close to
# the radius may fall either way
DIST_TOL_KM = 2e-3


def _read(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    df = pq.read_table(path, columns=columns).to_pandas()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.CategoricalDtype):
            df[c] = df[c].astype(df[c].cat.categories.dtype)
    return df


def truth_scores(linked_path: str, truth_path: str
                 ) -> tuple[tuple[int, int], tuple[int, int]]:
    """((hits, truth mentions), (correct, detections)) of linked mentions:
    candidate recall and occurrence precision as counts."""
    linked = _read(linked_path, ["doc_id", "span_offset", "start",
                                 "mention_text", "geoname_id"])
    truth = _read(truth_path)

    t = truth[truth["geoname_id"].notna()]
    hits = linked[["doc_id", "span_offset", "geoname_id"]].drop_duplicates()
    hit = t.merge(hits, on=["doc_id", "span_offset", "geoname_id"],
                  how="left", indicator=True)
    recall = (int((hit["_merge"] == "both").sum()), len(t))

    det = linked[["doc_id", "span_offset", "start",
                  "mention_text"]].drop_duplicates()
    det = det.assign(mt=det["mention_text"].str.lower())
    tm = truth.assign(mt=truth["mention_text"].str.lower())[
        ["doc_id", "span_offset", "mt"]].drop_duplicates()
    ok = det.merge(tm, on=["doc_id", "span_offset", "mt"], how="left",
                   indicator=True)
    precision = (int((ok["_merge"] == "both").sum()), len(det))
    return recall, precision


def below_gate(k: int, n: int, gate: float, z: float = GATE_Z) -> bool:
    """True when the Wilson upper bound of k/n is below `gate`."""
    if n == 0:
        return True
    p = k / n
    centre = p + z * z / (2 * n)
    spread = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    return (centre + spread) / (1 + z * z / n) < gate


def table_hash(path: str) -> tuple[int, int]:
    """(order-insensitive 64-bit hash, row count) of a parquet table;
    hive partition columns count as ordinary columns."""
    df = _read(path)
    df = df[sorted(df.columns)]
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return int(h.sum(dtype=np.uint64)), len(df)


def haversine_km(lat1, lon1, lat2, lon2):
    """Same formula as functions.geo.haversine_km, in numpy."""
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat = np.radians(lat2 - lat1) / 2.0
    dlon = np.radians(lon2 - lon1) / 2.0
    a = np.sin(dlat) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


def row_key(subj, obj, confidence, evidence) -> tuple:
    """An edge row as a hashable key; a null confidence (NaN in pandas,
    None from Spark) becomes None on both sides."""
    if confidence is not None and confidence != confidence:
        confidence = None
    return subj, obj, confidence, evidence


class GraphReference:
    """The graph a build wrote, loaded once, answering the serving reads
    without Spark."""

    def __init__(self, graph_dir: str):
        nodes = _read(f"{graph_dir}/nodes", ["id", "latitude", "longitude"])
        # one coordinate per id: the lexicographic (lat, lon) minimum,
        # the representative the serving path refines against
        coords = (nodes[nodes["latitude"].notna()]
                  .sort_values(["id", "latitude", "longitude"])
                  .drop_duplicates("id"))
        self.coords = coords.set_index("id")[["latitude", "longitude"]]
        edges = _read(f"{graph_dir}/edges",
                      ["subj", "pred", "obj", "confidence", "evidence",
                       "cell"])
        self.edges = edges
        located = edges.join(self.coords, on="subj", how="inner")
        self.by_pred = {p: g for p, g in located.groupby("pred")}
        self.placed = edges[edges["cell"] >= 0].reset_index(drop=True)
        self.adj: dict[str, list[int]] = defaultdict(list)
        subj, obj = edges["subj"].to_numpy(), edges["obj"].to_numpy()
        for i in range(len(edges)):
            self.adj[subj[i]].append(i)
            self.adj[obj[i]].append(i)
        # ego start points: nodes that have edges
        self.node_ids = sorted(set(nodes["id"]) & self.adj.keys())

    def nearby(self, pred: str, lat: float, lon: float, radius_km: float
               ) -> tuple[Counter, Counter]:
        """(rows certainly within the radius, rows on its edge), each a
        multiset of `row_key`s."""
        g = self.by_pred.get(pred)
        inside, edge = Counter(), Counter()
        if g is None:
            return inside, edge
        d = haversine_km(g["latitude"].to_numpy(), g["longitude"].to_numpy(),
                         lat, lon)
        for row, dist in zip(g.itertuples(index=False), d):
            if dist > radius_km + DIST_TOL_KM:
                continue
            key = row_key(row.subj, row.obj, row.confidence, row.evidence)
            if dist < radius_km - DIST_TOL_KM:
                inside[key] += 1
            else:
                edge[key] += 1
        return inside, edge

    def nearby_matches(self, rows, pred, lat, lon, radius_km) -> bool:
        inside, edge = self.nearby(pred, lat, lon, radius_km)
        got = Counter()
        for r in rows:
            if (r["pred"] != pred or r["dist_km"] > radius_km
                    or r["subj"] not in self.coords.index):
                return False
            ref = self.coords.loc[r["subj"]]
            d = float(haversine_km(ref["latitude"], ref["longitude"],
                                   lat, lon))
            if abs(d - r["dist_km"]) > DIST_TOL_KM:
                return False
            got[row_key(r["subj"], r["obj"], r["confidence"],
                        r["evidence"])] += 1
        missing = inside - got
        extra = got - inside - edge
        return not missing and not extra

    def ego(self, start_ids: list[str], k: int) -> tuple[set, list[int]]:
        """({(subj, pred, obj, hop)}, frontier size per expanded hop) of
        the undirected k-hop expansion `ego_edges` runs."""
        seen_nodes = set(start_ids)
        frontier = list(seen_nodes)
        seen_edges: set[tuple] = set()
        out: set[tuple] = set()
        sizes = []
        e = self.edges
        subj, pred, obj = (e["subj"].to_numpy(), e["pred"].to_numpy(),
                           e["obj"].to_numpy())
        for hop in range(1, k + 1):
            if not frontier:
                break
            sizes.append(len(frontier))
            reached = set()
            for n in frontier:
                for i in self.adj.get(n, ()):
                    key = (subj[i], pred[i], obj[i])
                    reached.update((subj[i], obj[i]))
                    if key not in seen_edges:
                        seen_edges.add(key)
                        out.add((*key, hop))
            frontier = [n for n in reached if n not in seen_nodes]
            seen_nodes.update(frontier)
        return out, sizes
