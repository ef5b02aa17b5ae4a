"""Unit tests for sources: the reference's parse/filter semantics
re-executed as tiny-oracle cases (SURVEY.md §5 golden-case checklist)."""

from __future__ import annotations

from pyspark.sql import Row

from geo_linked_open_data_kg_spark.sources.geonames import (
    GEONAMES_RAW_SCHEMA,
    apply_filters,
    parse_geonames,
)
from geo_linked_open_data_kg_spark.sources.post_offices import (
    parse_post_offices,
)
from geo_linked_open_data_kg_spark.sources.rdf import (
    extract_uri_id,
    two_hop,
)
from geo_linked_open_data_kg_spark.sources.wikidata import (
    extract_geo_entities,
    parse_error_counts,
    person_gate,
    read_ndjson_entities,
)


def _geonames_row(**kw):
    base = dict(geonameid="123", name="Toronto", asciiname="Toronto",
                alternatenames="YYZ, The 6ix ,", latitude="43.65",
                longitude="-79.38", feature_class="P", feature_code="PPL",
                country_code="CA", cc2="", admin1_code="08", admin2_code="",
                admin3_code="", admin4_code="", population="2731571",
                elevation="76", dem="76", timezone="America/Toronto",
                modification_date="2023-01-01")
    base.update(kw)
    return base


def test_geonames_parse_coercion_and_split(spark):
    rows = [_geonames_row(),
            _geonames_row(geonameid="999", population="NOT_A_NUMBER",
                          elevation=""),
            _geonames_row(geonameid="77", latitude="", longitude="")]
    df = spark.createDataFrame([Row(**r) for r in rows],
                               schema=GEONAMES_RAW_SCHEMA)
    out = parse_geonames(df)
    got = {r["geoname_id"]: r for r in out.collect()}
    # null-coordinate row dropped (load_global_geonames.py:89-91)
    assert 77 not in got and len(got) == 2
    # bad numerics coerce to 0 defaults (:72-80)
    assert got[999]["population"] == 0 and got[999]["elevation"] == 0
    # alternate names: split, trimmed, empties dropped (:67-69)
    assert got[123]["alternate_names"] == ["YYZ", "The 6ix"]
    assert got[123]["full_code"] == "P.PPL"
    assert got[123]["admin2_code"] is None  # '' -> null


def test_geonames_filters(spark):
    rows = [_geonames_row(geonameid="1", country_code="CA"),
            _geonames_row(geonameid="2", country_code="US"),
            _geonames_row(geonameid="3", country_code="CA",
                          feature_class="S", feature_code="CMTY"),
            _geonames_row(geonameid="4", country_code="CA",
                          feature_class="S", feature_code="TOWR")]
    df = parse_geonames(spark.createDataFrame([Row(**r) for r in rows],
                                              schema=GEONAMES_RAW_SCHEMA))
    # include 'P' class-level plus 'S.CMTY' specific (:186-196)
    out = apply_filters(df, countries=["CA"], include_codes=["P", "S.CMTY"])
    assert {r["geoname_id"] for r in out.collect()} == {1, 3}
    out2 = apply_filters(df, exclude_countries=["US"])
    assert {r["geoname_id"] for r in out2.collect()} == {1, 3, 4}


WD_LINES = [
    "[",
    '{"id":"Q1","labels":{"en":{"language":"en","value":"Berlin"}},'
    '"aliases":{"en":[{"language":"en","value":"Berlin City"}],'
    '"de":[{"language":"de","value":"Berlin"}]},'
    '"claims":{"P625":[{"mainsnak":{"datavalue":{"value":'
    '{"latitude":52.52,"longitude":13.40},"type":"globecoordinate"}}}],'
    '"P31":[{"mainsnak":{"datavalue":{"value":{"id":"Q515"},"type":"wikibase-entityid"}}}],'
    '"P17":[{"mainsnak":{"datavalue":{"value":{"id":"Q183"},"type":"wikibase-entityid"}}}],'
    '"P571":[{"mainsnak":{"datavalue":{"value":{"time":"+1237-01-01T00:00:00Z"},"type":"time"}}}]}},',
    '{"id":"Q2","labels":{"en":{"language":"en","value":"NoCoord"}},"claims":{}},',
    'THIS IS NOT JSON',
    '{"id":"Q5person","labels":{"en":{"language":"en","value":"Ada"}},'
    '"claims":{"P31":[{"mainsnak":{"datavalue":{"value":{"id":"Q5"},"type":"wikibase-entityid"}}}],'
    '"P19":[{"mainsnak":{"datavalue":{"value":{"id":"Q84"},"type":"wikibase-entityid"}}}],'
    '"P569":[{"mainsnak":{"datavalue":{"value":{"time":"+1815-12-10T00:00:00Z"},"type":"time"}}}]}}',
    "]",
]


def test_wikidata_ndjson_parse(spark, tmp_path):
    p = str(tmp_path / "dump.json")
    with open(p, "w") as f:
        f.write("\n".join(WD_LINES))
    parsed = read_ndjson_entities(spark, p)
    errs = parse_error_counts(parsed).collect()[0]
    assert errs["total"] == 4 and errs["parse_errors"] == 1

    geo = extract_geo_entities(parsed).collect()
    assert len(geo) == 1  # P625 gate drops Q2 (and the person)
    g = geo[0]
    assert g["qid"] == "Q1" and g["latitude"] == 52.52
    assert g["instance_of_qid"] == "Q515" and g["country_qid"] == "Q183"
    # F10: historical date trimmed to ISO day, kept as string
    assert g["inception_date"] == "1237-01-01"
    # F14: alias flattening dedupes and removes the primary label
    assert g["alternate_names"] == ["Berlin City"]

    ppl = person_gate(parsed).collect()
    assert len(ppl) == 1 and ppl[0]["qid"] == "Q5person"
    assert ppl[0]["birth_place_qid"] == "Q84"
    assert ppl[0]["birth_date"] == "1815-12-10"


WD_STRING_CLAIM_LINES = [
    # real-dump shape: P1566 (GeoNames ID) is an external-id claim whose
    # datavalue.value is a PLAIN STRING, not a struct
    '{"id":"Q64","labels":{"en":{"language":"en","value":"Berlin"}},'
    '"claims":{"P625":[{"mainsnak":{"datavalue":{"value":'
    '{"latitude":52.52,"longitude":13.40},"type":"globecoordinate"}}}],'
    '"P1566":[{"mainsnak":{"datavalue":{"value":"2950159","type":"string"}}}],'
    # leading novalue P31 snak (no datavalue.value.id) must fall through
    # to the next valid claim, and the full list must keep every valid id
    '"P31":[{"mainsnak":{"snaktype":"novalue"}},'
    '{"mainsnak":{"datavalue":{"value":{"id":"Q515"},"type":"wikibase-entityid"}}},'
    '{"mainsnak":{"datavalue":{"value":{"id":"Q6256"},"type":"wikibase-entityid"}}}]}}',
    # struct-style P1566 encoding still accepted as fallback; P31 in the
    # historical set (Q133156 colony) -> is_historical flag (P9)
    '{"id":"Q65","labels":{"en":{"language":"en","value":"Spandau"}},'
    '"claims":{"P625":[{"mainsnak":{"datavalue":{"value":'
    '{"latitude":52.55,"longitude":13.20},"type":"globecoordinate"}}}],'
    '"P31":[{"mainsnak":{"datavalue":{"value":{"id":"Q133156"},"type":"wikibase-entityid"}}}],'
    '"P1566":[{"mainsnak":{"datavalue":{"value":{"id":"2830582"},'
    '"type":"wikibase-entityid"}}}]}}',
]


def test_wikidata_string_claims_and_snaktype_guard(spark, tmp_path):
    p = str(tmp_path / "dump2.json")
    with open(p, "w") as f:
        f.write("\n".join(WD_STRING_CLAIM_LINES))
    geo = {r["qid"]: r for r in
           extract_geo_entities(read_ndjson_entities(spark, p)).collect()}
    # string-typed external-id claim extracted from the raw line
    assert geo["Q64"]["geonames_id"] == "2950159"
    # struct-style fallback still works
    assert geo["Q65"]["geonames_id"] == "2830582"
    # leading novalue P31 skipped, not NULLed (reference appends only
    # valid ids then takes the first)
    assert geo["Q64"]["instance_of_qid"] == "Q515"
    # full P31 projection keeps every valid type
    assert geo["Q64"]["instance_of_qids"] == ["Q515", "Q6256"]
    # P9: historical-type flag from the 12-QID set
    assert geo["Q64"]["is_historical"] is False
    assert geo["Q65"]["is_historical"] is True


def test_post_office_coercion(spark):
    raw = spark.createDataFrame(
        [Row(IdNumber="1", Name="Foo P.O.", Province="Saskatchewan",
             EstablishedDate="1890-05-01", ClosingDate=""),
         Row(IdNumber="2", Name="Bar", Province="Alberta",
             EstablishedDate="GARBAGE", ClosingDate="1950-01-01")])
    out = {r["id_number"]: r for r in parse_post_offices(raw).collect()}
    assert out[1]["established_year"] == 1890 and out[1]["is_open"] is True
    # errors='coerce': unparseable -> null (load_post_offices.py:44-58)
    assert out[2]["established_date"] is None and out[2]["is_open"] is False


def test_ntriples_and_two_hop(spark, tmp_path):
    p = str(tmp_path / "g.nt")
    with open(p, "w") as f:
        f.write('<http://ex/p1> <http://ex/bornIn> <http://ex/place9> .\n')
        f.write('<http://ex/place9> <http://ex/sameAs> '
                '<https://www.geonames.org/6093943l> .\n')
        f.write('<http://ex/p1> <http://ex/name> "Jos\\"e" .\n')
        f.write('garbage line\n')
    from geo_linked_open_data_kg_spark.sources.rdf import read_ntriples
    t = read_ntriples(spark, p)
    assert t.count() == 3
    hop = two_hop(t, "http://ex/bornIn", "http://ex/sameAs", "bornInPlace")
    rows = hop.collect()
    assert len(rows) == 1 and rows[0]["obj"].endswith("6093943l")
    # F15: trailing-garbage id still extracts (PROJECT_STATUS.md:434-437)
    from pyspark.sql import functions as F
    gid = (hop.select(extract_uri_id(F.col("obj")).alias("gid"))
           .collect()[0]["gid"])
    assert gid == 6093943
