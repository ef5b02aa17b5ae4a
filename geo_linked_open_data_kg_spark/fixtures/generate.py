"""Deterministic synthetic fixtures for the KG-construction pipeline.

Realizes the schemas in FIXTURES.md (checkout root): an interleaved text+media
document corpus (``documents``), a GeoNames-shaped gazetteer (``places``),
filtered Wikidata projections (``wikidata_places``, ``persons``,
``organizations``), a dated CSV source (``post_offices``), plus lookup
tables (``feature_priority``, ``wd_type_priority``, ``admin1_names``) and
ground truth (``mention_truth``) for P/R scoring.

Everything is a pure function of (scale-factor, SEED) — no wall clock, no
external data. Mirrors the reference inputs (cites into /root/reference/):
GeoNames 19-field TSV (scripts/loaders/load_global_geonames.py:44-50),
Wikidata projections (scripts/parsers/filter_wikidata_full_dump.py:193-334),
post-office CSV (scripts/loaders/load_post_offices.py:37-64), and the
planned Document/EntityMention layer
(docs/planning/HISTORICAL_KG_PIPELINE.md:89-96,139-161).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42

# (places, wikidata, persons, orgs, post_offices, documents)
DRIVER_ROOT = "/root/testdata"  # driver parquet root (TESTDATA.md)

SF_SIZES = {
    "0.001": dict(places=800, wd=500, persons=300, orgs=60, po=120, docs=400),
    "0.01": dict(places=5000, wd=3000, persons=2000, orgs=300, po=500, docs=10000),
    "0.1": dict(places=50000, wd=30000, persons=20000, orgs=3000, po=5000, docs=60000),
}

# 8 synthetic countries; "AA" is the mega-country (~50% of rows — the
# reference's China/India skew path, create_admin_hierarchies_robust.py:160-172).
# (code, qid, lat_center, lon_center, lat_spread, lon_spread)
COUNTRIES = [
    ("AA", "Q9001", 52.0, -106.0, 8.0, 20.0),
    ("BB", "Q9002", 45.0, 2.0, 4.0, 6.0),
    ("CC", "Q9003", -33.0, 151.0, 4.0, 6.0),
    ("DD", "Q9004", 35.0, 139.0, 3.0, 4.0),
    ("EE", "Q9005", 74.0, 20.0, 3.0, 30.0),  # high-latitude: cell-boundary recall
    ("FF", "Q9006", -1.0, 36.0, 3.0, 4.0),
    ("GG", "Q9007", 19.0, -99.0, 3.0, 4.0),
    ("HH", "Q9008", 60.0, -135.0, 4.0, 8.0),
]
COUNTRY_SHARE = [0.50, 0.12, 0.08, 0.07, 0.06, 0.06, 0.06, 0.05]

SYL_A = ["Ka", "To", "Ri", "Ven", "Sas", "Mon", "Bel", "Nor", "Hal", "Win",
         "York", "Fort", "Port", "Lake", "Saint", "New", "Gran", "Val"]
SYL_B = ["ra", "to", "ville", "berg", "ton", "more", "field", "katoon", "don",
         "nipeg", "mouth", "ford", "haven", "wood", "holm", "stad", "by", "dale"]
SYL_C = ["", "", "", "", " Falls", " Creek", " Landing", " Heights", " Junction"]

# feature-code → linking priority (reference's FEATURE_CODE_PRIORITY,
# scripts/linkers/link_hgis_to_lod.py:35-144: settlements high, POIs low)
FEATURE_PRIORITY = {
    "PPLC": 100, "PPLA": 95, "PPLA2": 90, "PPL": 80, "PPLX": 70,
    "ADM1": 85, "ADM2": 75, "ADM3": 65, "ADM4": 62, "ADMD": 60,
    "TOWR": 20, "CH": 25, "SCH": 25, "BDG": 15, "PRK": 30, "CMTY": 20,
    "LK": 40, "STM": 35, "MT": 45,
    # historical codes (link_hgis_to_lod.py:104-106: PPLH 60, PPLQ 55)
    "PPLH": 60, "PPLQ": 55, "PPLW": 50,
}
POI_CODES = ["TOWR", "CH", "SCH", "BDG", "PRK", "CMTY"]

# wikidata instance-of → priority (link_wikidata_places_global.py:184-222)
WD_TYPE_PRIORITY = {
    "Q515": 90,      # city
    "Q3957": 80,     # town
    "Q532": 70,      # village
    "Q6256": 100,    # country
    "Q10864048": 85,  # admin division
    "Q570116": 20,   # tourist attraction
    "Q12280": 15,    # bridge
    "Q16970": 25,    # church
    "Q23397": 40,    # lake
}
WD_TYPES = list(WD_TYPE_PRIORITY)

STOPWORDS = ["the", "of", "in", "at", "from", "to", "and", "a", "was", "were"]

DISTRACTORS = ["Harvest", "Winter", "Railway", "Treaty", "Census", "Parliament",
               "Cathedral", "Voyage", "Letters", "Archive"]


def _names(rng: np.random.Generator, n: int) -> list[str]:
    a = rng.integers(0, len(SYL_A), n)
    b = rng.integers(0, len(SYL_B), n)
    c = rng.integers(0, len(SYL_C), n)
    return [SYL_A[x] + SYL_B[y] + SYL_C[z] for x, y, z in zip(a, b, c)]


def gen_places(rng: np.random.Generator, n: int) -> dict:
    """GeoNames-shaped gazetteer with consistent ADM1..ADM3 hierarchy."""
    rows = {k: [] for k in [
        "geoname_id", "name", "ascii_name", "alternate_names", "latitude",
        "longitude", "feature_class", "feature_code", "country_code",
        "admin1_code", "admin2_code", "admin3_code", "admin4_code",
        "population", "elevation", "timezone", "modified_date"]}
    gid = 1000000
    counts = np.maximum(1, (np.array(COUNTRY_SHARE) * n).astype(int))
    name_pool = _names(rng, n + 4000)
    ni = 0

    def add(name, lat, lon, fclass, fcode, cc, a1, a2, a3, pop, alts):
        nonlocal gid
        gid += 1
        rows["geoname_id"].append(gid)
        rows["name"].append(name)
        rows["ascii_name"].append(name.replace("é", "e"))
        rows["alternate_names"].append(alts)
        rows["latitude"].append(round(float(lat), 5))
        rows["longitude"].append(round(float(lon), 5))
        rows["feature_class"].append(fclass)
        rows["feature_code"].append(fcode)
        rows["country_code"].append(cc)
        rows["admin1_code"].append(a1)
        rows["admin2_code"].append(a2)
        rows["admin3_code"].append(a3)
        rows["admin4_code"].append(None)
        rows["population"].append(int(pop))
        rows["elevation"].append(int(rng.integers(0, 2500)))
        rows["timezone"].append(f"Zone/{cc}")
        rows["modified_date"].append(
            f"20{10 + int(rng.integers(0, 14)):02d}-{1 + int(rng.integers(0, 12)):02d}-"
            f"{1 + int(rng.integers(0, 28)):02d}")
        return gid

    for (cc, _qid, clat, clon, slat, slon), cnt in zip(COUNTRIES, counts):
        n_adm1 = 2 + int(rng.integers(0, 4))
        for i1 in range(n_adm1):
            a1 = f"{i1 + 1:02d}"
            a1_lat = clat + float(rng.uniform(-slat, slat)) * 0.6
            a1_lon = clon + float(rng.uniform(-slon, slon)) * 0.6
            nm1 = name_pool[ni]; ni += 1
            add(nm1, a1_lat, a1_lon, "A", "ADM1", cc, a1, None, None,
                rng.integers(50000, 2000000), [nm1 + " Province"])
            n_adm2 = 1 + int(rng.integers(0, 3))
            for i2 in range(n_adm2):
                a2 = f"{i2 + 1:03d}"
                nm2 = name_pool[ni]; ni += 1
                add(nm2, a1_lat + float(rng.uniform(-1, 1)),
                    a1_lon + float(rng.uniform(-1, 1)), "A", "ADM2", cc, a1, a2,
                    None, rng.integers(10000, 400000), [])
                if rng.random() < 0.6:
                    a3 = f"{1:04d}"
                    nm3 = name_pool[ni]; ni += 1
                    add(nm3, a1_lat + float(rng.uniform(-1, 1)),
                        a1_lon + float(rng.uniform(-1, 1)), "A", "ADM3", cc, a1,
                        a2, a3, rng.integers(1000, 50000), [])
        # populated places + POIs fill the remaining budget for this country
        n_pop = cnt - (gid - (gid - 0))  # placeholder; computed below
    # second pass: populated places (vectorized-ish per country)
    adm_index = {}
    for i in range(len(rows["geoname_id"])):
        cc = rows["country_code"][i]
        adm_index.setdefault(cc, {"a1": [], "a2": [], "a3": []})
        code = rows["feature_code"][i]
        if code == "ADM1":
            adm_index[cc]["a1"].append(rows["admin1_code"][i])
        elif code == "ADM2":
            adm_index[cc]["a2"].append((rows["admin1_code"][i], rows["admin2_code"][i]))
        elif code == "ADM3":
            adm_index[cc]["a3"].append((rows["admin1_code"][i], rows["admin2_code"][i],
                                        rows["admin3_code"][i]))
    n_admin = len(rows["geoname_id"])
    remaining = max(0, n - n_admin)
    counts = np.maximum(1, (np.array(COUNTRY_SHARE) * remaining).astype(int))
    hot_done = False
    for (cc, _qid, clat, clon, slat, slon), cnt in zip(COUNTRIES, counts):
        idx = adm_index[cc]
        for j in range(cnt):
            nm = name_pool[ni % len(name_pool)]; ni += 1
            lat = clat + float(rng.uniform(-slat, slat))
            lon = clon + float(rng.uniform(-slon, slon))
            a1 = idx["a1"][int(rng.integers(0, len(idx["a1"])))] if idx["a1"] and rng.random() < 0.9 else None
            a2 = None
            a3 = None
            if a1 and idx["a2"] and rng.random() < 0.5:
                pairs = [p for p in idx["a2"] if p[0] == a1] or idx["a2"]
                pick = pairs[int(rng.integers(0, len(pairs)))]
                a1, a2 = pick
                if idx["a3"] and rng.random() < 0.5:
                    trips = [t for t in idx["a3"] if t[:2] == (a1, a2)]
                    if trips:
                        a3 = trips[0][2]
            fcode = ["PPL", "PPL", "PPL", "PPLA", "PPLX", "PPLC"][int(rng.integers(0, 6))]
            pop = int(10 ** rng.uniform(2, 6.2))
            alts = []
            r = rng.random()
            if r < 0.3:
                alts = [nm.lower()]
            elif r < 0.45:
                alts = [nm + "é", "Old " + nm]
            g = add(nm, lat, lon, "P", fcode, cc, a1, a2, a3, pop, alts)
            # Toronto/CN-Tower case: co-located low-priority POI next to ~6% of cities
            if rng.random() < 0.06:
                poi = POI_CODES[int(rng.integers(0, len(POI_CODES)))]
                add(nm + " Tower", lat + 0.004, lon + 0.004, "S", poi, cc, a1, a2,
                    a3, 0, [])
            # dense urban hot-cell cluster once, in the mega-country
            if cc == "AA" and not hot_done and j == 3:
                hot_done = True
                for k in range(min(200, max(20, cnt // 10))):
                    add(f"{nm} District {k}", lat + float(rng.uniform(-0.03, 0.03)),
                        lon + float(rng.uniform(-0.03, 0.03)), "P", "PPLX", cc, a1,
                        a2, a3, int(rng.integers(100, 20000)), [])
    return rows


def gen_wikidata(rng: np.random.Generator, places: dict, n: int) -> dict:
    """Wikidata geo entities: ~40% direct-ID linkable, ~40% spatial-only
    (jittered 0-12 km), ~20% unlinkable (>10 km from everything)."""
    npl = len(places["geoname_id"])
    rows = {k: [] for k in [
        "qid", "name", "description", "latitude", "longitude",
        "alternate_names", "instance_of_qid", "country_qid", "geonames_id",
        "population", "inception_date", "dissolved_date", "viaf_id", "gnd_id",
        "osm_id"]}
    cc_to_qid = {c[0]: c[1] for c in COUNTRIES}
    # deterministic jitter distances hitting both sides of the 10 km cutoff
    for i in range(n):
        qid = f"Q{100000 + i}"
        kind = rng.random()
        pi = int(rng.integers(0, npl))
        plat, plon = places["latitude"][pi], places["longitude"][pi]
        pname = places["name"][pi]
        cc = places["country_code"][pi]
        gid = None
        if kind < 0.40:  # direct-ID linkable (J1/J2)
            gid = str(places["geoname_id"][pi])
            if rng.random() < 0.04:  # trailing-garbage id, PROJECT_STATUS.md:434-437
                gid += "l"
            lat, lon = plat, plon
            name = pname
        elif kind < 0.80:  # spatial-only partner
            d_km = float(rng.uniform(0.05, 12.0))
            brg = float(rng.uniform(0, 2 * np.pi))
            lat = plat + (d_km / 110.574) * np.cos(brg)
            lon = plon + (d_km / (111.320 * max(0.05, np.cos(np.radians(plat))))) * np.sin(brg)
            r = rng.random()
            name = pname if r < 0.5 else (pname.lower() if r < 0.7 else
                                          _names(rng, 1)[0])
        else:  # unlinkable: park it in the empty mid-Pacific
            lat = float(rng.uniform(-20, 20))
            lon = float(rng.uniform(-150, -120))
            name = _names(rng, 1)[0]
        itype = WD_TYPES[int(rng.integers(0, len(WD_TYPES)))]
        rows["qid"].append(qid)
        rows["name"].append(name)
        rows["description"].append(f"a place in {cc}")
        rows["latitude"].append(round(float(lat), 5))
        rows["longitude"].append(round(float(lon), 5))
        rows["alternate_names"].append([name.lower()] if rng.random() < 0.3 else [])
        rows["instance_of_qid"].append(itype)
        rows["country_qid"].append(cc_to_qid[cc])
        rows["geonames_id"].append(gid)
        rows["population"].append(int(10 ** rng.uniform(2, 6)))
        # lossy historical dates kept as strings (parse_wikidata_dump.py:76-91)
        rows["inception_date"].append(
            f"+{1600 + int(rng.integers(0, 400))}-01-01T00:00:00Z"
            if rng.random() < 0.4 else None)
        rows["dissolved_date"].append(None)
        rows["viaf_id"].append(str(int(rng.integers(1e6, 9e6))) if rng.random() < 0.2 else None)
        rows["gnd_id"].append(None)
        rows["osm_id"].append(None)
    return rows


def gen_persons(rng: np.random.Generator, wd: dict, n: int) -> dict:
    qids = wd["qid"]
    rows = {k: [] for k in [
        "qid", "name", "birth_date", "death_date", "birth_place_qid",
        "death_place_qid", "residence_qids", "work_location_qids",
        "citizenship_qid", "occupation_qids", "viaf_id"]}
    for i in range(n):
        rows["qid"].append(f"Q{500000 + i}")
        rows["name"].append(f"{_names(rng, 1)[0]} {_names(rng, 1)[0]}")
        by = 1700 + int(rng.integers(0, 250))
        rows["birth_date"].append(f"{by}-01-01" if rng.random() < 0.9 else None)
        rows["death_date"].append(f"{by + int(rng.integers(20, 90))}-01-01"
                                  if rng.random() < 0.7 else None)
        # ~70% birth place, ~50% death place; ~5% dangling FKs (G4 accounting)
        def place():
            if rng.random() < 0.05:
                return f"Q{9990000 + int(rng.integers(0, 1000))}"
            return qids[int(rng.integers(0, len(qids)))]
        rows["birth_place_qid"].append(place() if rng.random() < 0.7 else None)
        rows["death_place_qid"].append(place() if rng.random() < 0.5 else None)
        nres = int(rng.integers(0, 4))
        rows["residence_qids"].append([place() for _ in range(nres)])
        rows["work_location_qids"].append(
            [place() for _ in range(int(rng.integers(0, 3)))])
        rows["citizenship_qid"].append(
            COUNTRIES[int(rng.integers(0, len(COUNTRIES)))][1])
        rows["occupation_qids"].append(
            [f"Q{82955 + int(rng.integers(0, 40))}" for _ in range(int(rng.integers(0, 3)))])
        rows["viaf_id"].append(None)
    return rows


def augment_wd_types(wd: dict) -> None:
    """Full P31 projection (filter_wikidata_full_dump.py:222-225): each
    entity carries ALL its instance types, first one == the legacy scalar
    column. ~30% get 1-2 extra types so max-priority-over-list differs
    from first-claim priority (the multi-typed-entity scoring case).
    Fresh rng (SEED+7) so pre-existing columns stay byte-identical."""
    rng = np.random.default_rng(SEED + 7)
    out = []
    for base in wd["instance_of_qid"]:
        types = [base]
        if rng.random() < 0.30:
            extra = [t for t in WD_TYPES if t != base]
            for _ in range(1 + int(rng.integers(0, 2))):
                t = extra[int(rng.integers(0, len(extra)))]
                if t not in types:
                    types.append(t)
        out.append(types)
    wd["instance_of_qids"] = out


def augment_person_family(persons: dict) -> None:
    """Family FKs (load_lincs_historical_canadians.py:103-128,199-237):
    ~20% of persons have a spouse, sometimes recorded on BOTH rows — the
    canonical-pair (least/greatest) dedup case; ~30% a mother/father FK.
    Fresh rng (SEED+8) keeps pre-existing columns byte-identical."""
    rng = np.random.default_rng(SEED + 8)
    n = len(persons["qid"])
    qids = persons["qid"]
    spouses: list[list[str]] = [[] for _ in range(n)]
    for i in range(n):
        if rng.random() < 0.20:
            j = int(rng.integers(0, n))
            if j != i:
                spouses[i].append(qids[j])
                if rng.random() < 0.5:  # reciprocal record -> must dedup
                    spouses[j].append(qids[i])
    persons["spouse_qids"] = spouses

    def parent():
        return [qids[int(rng.integers(0, n))] if rng.random() < 0.3 else None
                for _ in range(n)]
    persons["mother_qid"] = parent()
    persons["father_qid"] = parent()


def augment_places_historical(places: dict) -> None:
    """Historical gazetteer layer — the inputs of the reference's
    historical_name_match gate (reconcile.py:197-235: featureCode in
    PPLH/PPLQ/PPLW OR dissolvedDate set): ~3% of populated places are
    re-tagged with a GeoNames historical/abandoned code and,
    independently, ~4% carry a dissolved_date (so code-only,
    date-only and both-flags rows all exist). Fresh rng (SEED+9) keeps
    pre-existing columns byte-identical."""
    rng = np.random.default_rng(SEED + 9)
    hist_codes = ["PPLH", "PPLQ", "PPLW"]
    dissolved: list[str | None] = []
    for i in range(len(places["geoname_id"])):
        d = None
        if places["feature_class"][i] == "P":
            if rng.random() < 0.03:
                places["feature_code"][i] = \
                    hist_codes[int(rng.integers(0, 3))]
            if rng.random() < 0.04:
                d = f"{1880 + int(rng.integers(0, 80))}-01-01"
        dissolved.append(d)
    places["dissolved_date"] = dissolved


def augment_places_adm4(places: dict) -> None:
    """ADM4 hierarchy level (reference README.md:54-59 builds
    LOCATED_IN_ADMIN1..4; add_admin3_links.py:60-115 explicitly handles
    ADM4). Real GeoNames has ADM4 rows (UK/DE/FR heavy); the fixture
    previously pinned admin4_code=None so level 4 could never be
    exercised or oracled. ~50% of ADM3 units gain 1-2 ADM4 child units
    (appended rows, feature_class 'A'), and ~40% of populated places
    under a covered ADM3 get the admin4_code of one child (an in-place
    mutation of admin4_code, which was previously all-None). Fresh rng
    (SEED+11); new rows append AFTER all existing ids and this runs
    before augment_places_historical (which draws rng only for
    feature_class 'P' rows), so every pre-existing column EXCEPT
    admin4_code stays byte-identical."""
    rng = np.random.default_rng(SEED + 11)
    n = len(places["geoname_id"])
    adm3_units = [
        (i, (places["country_code"][i], places["admin1_code"][i],
             places["admin2_code"][i], places["admin3_code"][i]))
        for i in range(n) if places["feature_code"][i] == "ADM3"]
    gid = max(places["geoname_id"])
    children: dict[tuple, list[str]] = {}
    new_rows: list[tuple[int, int, str]] = []  # (gid, parent_row, a4 code)
    for i, key in adm3_units:
        if rng.random() < 0.5:
            for c in range(1 + int(rng.integers(0, 2))):
                a4 = f"{c + 1:05d}"
                gid += 1
                children.setdefault(key, []).append(a4)
                new_rows.append((gid, i, a4))
    for i in range(n):
        if (places["feature_class"][i] == "P"
                and places["admin3_code"][i] is not None):
            key = (places["country_code"][i], places["admin1_code"][i],
                   places["admin2_code"][i], places["admin3_code"][i])
            codes = children.get(key)
            if codes and rng.random() < 0.4:
                places["admin4_code"][i] = \
                    codes[int(rng.integers(0, len(codes)))]
    for g, pi, a4 in new_rows:
        places["geoname_id"].append(g)
        nm = f"{places['name'][pi]} Ward {int(a4)}"
        places["name"].append(nm)
        places["ascii_name"].append(nm)
        places["alternate_names"].append([])
        places["latitude"].append(
            round(places["latitude"][pi] + float(rng.uniform(-0.2, 0.2)), 5))
        places["longitude"].append(
            round(places["longitude"][pi] + float(rng.uniform(-0.2, 0.2)), 5))
        places["feature_class"].append("A")
        places["feature_code"].append("ADM4")
        places["country_code"].append(places["country_code"][pi])
        places["admin1_code"].append(places["admin1_code"][pi])
        places["admin2_code"].append(places["admin2_code"][pi])
        places["admin3_code"].append(places["admin3_code"][pi])
        places["admin4_code"].append(a4)
        places["population"].append(int(rng.integers(500, 20000)))
        places["elevation"].append(int(rng.integers(0, 2500)))
        places["timezone"].append(places["timezone"][pi])
        places["modified_date"].append(places["modified_date"][pi])


def gen_orgs(rng: np.random.Generator, wd: dict, n: int) -> dict:
    qids = wd["qid"]
    rows = {k: [] for k in ["qid", "name", "headquarters_qid", "location_qids",
                            "inception_date", "dissolved_date", "instance_of"]}
    for i in range(n):
        rows["qid"].append(f"Q{700000 + i}")
        rows["name"].append(f"{_names(rng, 1)[0]} Company")
        rows["headquarters_qid"].append(
            qids[int(rng.integers(0, len(qids)))] if rng.random() < 0.8 else None)
        rows["location_qids"].append(
            [qids[int(rng.integers(0, len(qids)))] for _ in range(int(rng.integers(0, 3)))])
        rows["inception_date"].append(f"{1800 + int(rng.integers(0, 200))}-01-01")
        rows["dissolved_date"].append(None)
        rows["instance_of"].append(["Q4830453", "Q43229", "Q891723"][int(rng.integers(0, 3))])
    return rows


def augment_org_formation(orgs: dict, wd: dict) -> None:
    """P740 formation location (ENTITY_LINKING_PLAN_UPDATED.md:187-198;
    filter_wikidata_organizations.py:33-64 gates on P159 OR P740 OR
    P131): ~40% of orgs record where they were founded, sometimes with
    no headquarters. Fresh rng (SEED+10) keeps pre-existing columns
    byte-identical."""
    rng = np.random.default_rng(SEED + 10)
    qids = wd["qid"]
    orgs["formation_location_qid"] = [
        qids[int(rng.integers(0, len(qids)))] if rng.random() < 0.4 else None
        for _ in orgs["qid"]]


def gen_post_offices(rng: np.random.Generator, places: dict, admin1_names: dict,
                     n: int) -> dict:
    """Conservative-matching source: unique (name, province) pairs must link,
    duplicated pairs must stay unmatched (load_post_offices.py:76-100)."""
    rows = {k: [] for k in ["id_number", "name", "province",
                            "established_date", "closing_date"]}
    # candidate AA places with admin1 set
    cand = [i for i in range(len(places["geoname_id"]))
            if places["country_code"][i] == "AA" and places["admin1_code"][i]
            and places["feature_class"][i] == "P"]
    a1name = {a1: nm for (cc, a1), nm in admin1_names.items() if cc == "AA"}
    k = 0
    for i in range(n):
        rows["id_number"].append(10000 + i)
        mode = rng.random()
        if mode < 0.55 and cand:  # matchable
            pi = cand[int(rng.integers(0, len(cand)))]
            base = places["name"][pi]
            prov = a1name.get(places["admin1_code"][pi], "Unknown")
        elif mode < 0.75 and cand:  # ambiguous: emit the same pair twice
            pi = cand[k % len(cand)]
            base = places["name"][pi]
            prov = a1name.get(places["admin1_code"][pi], "Unknown")
            if k % 2 == 0:
                k += 0  # reuse same pi next iteration via fixed k
            k += (i % 2)
        else:
            base = _names(rng, 1)[0] + "ham"
            prov = list(a1name.values())[int(rng.integers(0, max(1, len(a1name))))]
        suffix = ["", " Post Office", " P.O.", ""][int(rng.integers(0, 4))]
        rows["name"].append(base + suffix)
        rows["province"].append(prov)
        y = 1850 + int(rng.integers(0, 120))
        # ~10% unparseable dates -> null (errors='coerce')
        rows["established_date"].append(
            None if rng.random() < 0.1
            else np.datetime64(f"{y}-{1 + int(rng.integers(0, 12)):02d}-01", "us"))
        rows["closing_date"].append(
            np.datetime64(f"{y + int(rng.integers(1, 80))}-01-01", "us")
            if rng.random() < 0.5 else None)
    # force genuine ambiguity: duplicate a handful of (name, province) pairs
    for j in range(min(10, n // 10)):
        rows["id_number"].append(90000 + j)
        rows["name"].append(rows["name"][j])
        rows["province"].append(rows["province"][j])
        rows["established_date"].append(np.datetime64("1900-01-01", "us"))
        rows["closing_date"].append(None)
    return rows


SENT_TMPL = [
    ("In {y} the expedition travelled from ", " to ", " before winter ."),
    ("The parish register of ", " mentions a family moving to ", " that spring ."),
    ("A new rail line connected ", " with ", " by {y} ."),
    ("Settlers arriving at ", " often continued on to ", " ."),
]
SENT_ONE = [
    "The post office at {m} opened in {y} .",
    "Crops failed near {m} during the drought of {y} .",
    "The agent was stationed at {m} for three years .",
]
SENT_NONE = [
    "The harvest of {y} was the best in a decade .",
    "Letters from that winter describe heavy snow and short rations .",
]


def gen_documents(rng: np.random.Generator, places: dict, admin1_names: dict,
                  n_docs: int):
    """Interleaved text+media corpus per BASELINE.json input_hint, plus
    mention ground truth. Spans: 3-12/doc, ~20% media; mentions 80% exact /
    10% case variant / 5% edit-distance-1 typo / 5% distractor; ~30% carry
    admin context, ~20% coordinate context."""
    npl = len(places["geoname_id"])
    # mention pool restricted to reasonably-sized settlement names
    pool = [i for i in range(npl) if places["feature_class"][i] == "P"]
    a1name = admin1_names
    doc_ids, spans_col = [], []
    truth = {k: [] for k in ["doc_id", "span_offset", "mention_text",
                             "geoname_id", "variant"]}

    def variant_of(nm):
        r = rng.random()
        if r < 0.80:
            return nm, "exact"
        if r < 0.90:
            return nm.lower(), "case"
        if r < 0.95:
            pos = int(rng.integers(0, len(nm)))
            return nm[:pos] + "x" + nm[pos + 1:], "typo"
        return DISTRACTORS[int(rng.integers(0, len(DISTRACTORS)))], "distractor"

    for d in range(n_docs):
        doc_id = f"doc-{d:08d}"
        n_spans = 3 + int(rng.integers(0, 10))
        spans = []
        for off in range(n_spans):
            if rng.random() < 0.20:
                spans.append({"kind": "media",
                              "text": None,
                              "media_ref": f"media://img/{d}/{off}",
                              "offset": off})
                continue
            y = 1850 + int(rng.integers(0, 100))
            r = rng.random()
            mentions = []
            if r < 0.15:
                text = SENT_NONE[int(rng.integers(0, len(SENT_NONE)))].format(y=y)
            elif r < 0.55:
                pi = pool[int(rng.integers(0, len(pool)))]
                m, var = variant_of(places["name"][pi])
                mtext = m
                ctx = rng.random()
                if ctx < 0.30 and places["admin1_code"][pi]:
                    prov = a1name.get(("AA", places["admin1_code"][pi]))
                    prov = a1name.get((places["country_code"][pi],
                                       places["admin1_code"][pi]), prov)
                    if prov:
                        mtext = f"{m} , {prov}"
                elif ctx < 0.50:
                    mtext = (f"{m} at {places['latitude'][pi]:.2f} "
                             f"{places['longitude'][pi]:.2f}")
                text = SENT_ONE[int(rng.integers(0, len(SENT_ONE)))].format(m=mtext, y=y)
                mentions.append((m, None if var == "distractor"
                                 else places["geoname_id"][pi], var))
            else:
                t = SENT_TMPL[int(rng.integers(0, len(SENT_TMPL)))]
                pi1 = pool[int(rng.integers(0, len(pool)))]
                pi2 = pool[int(rng.integers(0, len(pool)))]
                m1, v1 = variant_of(places["name"][pi1])
                m2, v2 = variant_of(places["name"][pi2])
                text = (t[0].format(y=y) + m1 + t[1] + m2 + t[2].format(y=y))
                mentions.append((m1, None if v1 == "distractor"
                                 else places["geoname_id"][pi1], v1))
                mentions.append((m2, None if v2 == "distractor"
                                 else places["geoname_id"][pi2], v2))
            spans.append({"kind": "text", "text": text, "media_ref": None,
                          "offset": off})
            for m, gid, var in mentions:
                truth["doc_id"].append(doc_id)
                truth["span_offset"].append(off)
                truth["mention_text"].append(m)
                truth["geoname_id"].append(gid)
                truth["variant"].append(var)
        doc_ids.append(doc_id)
        spans_col.append(spans)
    return doc_ids, spans_col, truth


def _admin1_names(places: dict) -> dict:
    out = {}
    for i in range(len(places["geoname_id"])):
        if places["feature_code"][i] == "ADM1":
            out[(places["country_code"][i], places["admin1_code"][i])] = \
                places["name"][i]
    return out


def _write_split(table: pa.Table, path: str) -> None:
    """Write a corpus-scale fixture table with MANY ROW GROUPS (~64 per
    table, floor 1024 rows) instead of pyarrow's default single group.

    Spark (and DuckDB) parallelize a parquet scan at row-group
    granularity: a single-row-group file is an unsplittable input, so
    every map-side operator over it runs on ONE task no matter the split
    config — measured in round 6 as the #1 wall-clock bottleneck of the
    whole bench (the mention cascade's scan stages ran 3 tasks wide on a
    32-core box). Row VALUES and ORDER are unchanged; only the physical
    layout differs, so oracle SQL and value hashes are untouched
    (guide §2.5 "input skew: one huge unsplittable file — fix at the
    source")."""
    rg = max(1024, -(-table.num_rows // 64))
    pq.write_table(table, path, row_group_size=rg)


def write_sf(out_dir: str, sf: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    sizes = SF_SIZES[sf]
    rng = np.random.default_rng(SEED)

    places = gen_places(rng, sizes["places"])
    a1names = _admin1_names(places)
    wd = gen_wikidata(rng, places, sizes["wd"])
    augment_wd_types(wd)
    persons = gen_persons(rng, wd, sizes["persons"])
    augment_person_family(persons)
    orgs = gen_orgs(rng, wd, sizes["orgs"])
    po = gen_post_offices(rng, places, a1names, sizes["po"])
    doc_ids, spans_col, truth = gen_documents(rng, places, a1names, sizes["docs"])
    # post-generation augments (fresh rngs — see each docstring): must run
    # after every consumer of the main rng stream so existing columns stay
    # byte-identical across rounds
    augment_places_adm4(places)
    augment_places_historical(places)
    augment_org_formation(orgs, wd)

    _write_split(pa.table(places), f"{out_dir}/places.parquet")
    _write_split(pa.table(wd), f"{out_dir}/wikidata_places.parquet")
    _write_split(pa.table(persons), f"{out_dir}/persons.parquet")
    _write_split(pa.table(orgs), f"{out_dir}/organizations.parquet")
    pq.write_table(pa.table({
        "id_number": pa.array(po["id_number"], pa.int64()),
        "name": pa.array(po["name"]),
        "province": pa.array(po["province"]),
        "established_date": pa.array(po["established_date"], pa.timestamp("us")),
        "closing_date": pa.array(po["closing_date"], pa.timestamp("us")),
    }), f"{out_dir}/post_offices.parquet")

    span_type = pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))
    _write_split(pa.table({
        "doc_id": pa.array(doc_ids),
        "spans": pa.array(spans_col, span_type)}),
        f"{out_dir}/geo_documents.parquet")
    _write_split(pa.table({
        "doc_id": pa.array(truth["doc_id"]),
        "span_offset": pa.array(truth["span_offset"], pa.int32()),
        "mention_text": pa.array(truth["mention_text"]),
        "geoname_id": pa.array(truth["geoname_id"], pa.int64()),
        "variant": pa.array(truth["variant"])}),
        f"{out_dir}/mention_truth.parquet")

    pq.write_table(pa.table({
        "feature_code": list(FEATURE_PRIORITY),
        "priority": pa.array(list(FEATURE_PRIORITY.values()), pa.int64())}),
        f"{out_dir}/feature_priority.parquet")
    pq.write_table(pa.table({
        "instance_of_qid": list(WD_TYPE_PRIORITY),
        "priority": pa.array(list(WD_TYPE_PRIORITY.values()), pa.int64())}),
        f"{out_dir}/wd_type_priority.parquet")
    pq.write_table(pa.table({
        "country_code": [k[0] for k in a1names],
        "admin1_code": [k[1] for k in a1names],
        "admin1_name": list(a1names.values())}),
        f"{out_dir}/admin1_names.parquet")

    # 16 random hyperplanes over the 64-d driver embeddings (ANN-LSH);
    # persisted so the DuckDB oracle sees the identical planes
    hp = np.random.default_rng(SEED + 1).normal(size=(16, 64))
    pq.write_table(pa.table({
        "plane_id": pa.array(range(16), pa.int32()),
        "weights": pa.array([list(map(float, row)) for row in hp],
                            pa.list_(pa.float64()))}),
        f"{out_dir}/hyperplanes.parquet")

    write_centroids(out_dir, sf)


def write_centroids(out_dir: str, sf: str) -> None:
    """IVF coarse-quantizer centroids over the DRIVER embeddings table,
    persisted as a fixture (the `hyperplanes` pattern) so BOTH the Spark
    ann_ivf_topk path and its DuckDB oracle read the identical doubles
    (round-4 VERDICT item 2: train-side float summation is engine-
    dependent, so the trained centroids must be data, not computation).

    Deterministic spherical k-means in numpy float64: init = the 16
    lowest vec_ids' vectors, 2 Lloyd iterations of cosine-argmax
    assignment + unnormalized cell means."""
    emb_path = f"{DRIVER_ROOT}/sf{sf}/embeddings.parquet"
    if not os.path.exists(emb_path):
        # no driver embeddings at this sf — nothing to quantize. Loud,
        # not silent: a missing centroid fixture later fails ann_ivf
        # queries with an unexplained missing-parquet error otherwise.
        print(f"[fixtures] WARNING: {emb_path} missing - "
              "kmeans_centroids.parquet NOT written; td_ann_ivf_topk "
              "and its oracle need it", flush=True)
        return
    t = pq.read_table(emb_path, columns=["vec_id", "embedding"])
    vid = np.asarray(t["vec_id"].to_pylist())
    emb = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
    emb = emb[np.argsort(vid)]
    k = 16
    cents = emb[:k].copy()
    for _ in range(2):
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        en = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        assign = np.argmax(en @ cn.T, axis=1)
        for c in range(k):
            members = emb[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    pq.write_table(pa.table({
        "cid": pa.array(range(k), pa.int32()),
        "weights": pa.array([list(map(float, row)) for row in cents],
                            pa.list_(pa.float64()))}),
        f"{out_dir}/kmeans_centroids.parquet")


# <checkout>/synthdata, next to the package
SYNTH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))),
    "synthdata")


def ensure_synth(sf: str) -> str:
    """Idempotent: generate synthdata/sf{sf} if missing, return the dir.
    Fixture tables added after a dir was first generated (kmeans
    centroids, round 5) are backfilled individually."""
    out = f"{SYNTH_ROOT}/sf{sf}"
    if not os.path.exists(f"{out}/places.parquet"):
        write_sf(out, sf)
    elif not os.path.exists(f"{out}/kmeans_centroids.parquet"):
        write_centroids(out, sf)
    return out


def synth_dir_for(sf_dir: str) -> str:
    """Map a driver sf dir like /root/testdata/sf0.01 → our synth dir."""
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    if sf not in SF_SIZES:
        sf = "0.01"
    return ensure_synth(sf)


if __name__ == "__main__":
    for sf in SF_SIZES:
        write_sf(f"{SYNTH_ROOT}/sf{sf}", sf)
        print("wrote", sf)
