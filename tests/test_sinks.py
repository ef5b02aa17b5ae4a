"""K2/K3 sink round-trips: gzip NDJSON (nested spans preserved, order
intact) and the corpus JSON export with a stats envelope."""

from __future__ import annotations

import glob
import json

from pyspark.sql import functions as F

from geo_linked_open_data_kg_spark.fixtures.generate import synth_dir_for
from geo_linked_open_data_kg_spark.sources.sinks import (
    write_json_documents,
    write_ndjson_gz,
    read_ndjson,
)

D = synth_dir_for("sf0.001")


def test_ndjson_gz_round_trip_preserves_spans(spark, tmp_path):
    docs = spark.read.parquet(f"{D}/geo_documents.parquet")
    out = str(tmp_path / "docs_json")
    write_ndjson_gz(docs, out, metadata={"source": "geo_documents",
                                         "schema_version": 1})
    assert glob.glob(f"{out}/part-*.json.gz"), "sink must write gzip parts"
    back = read_ndjson(spark, out, schema=docs.schema)
    # per-row span-sequence equality (kind, text, media_ref, order) —
    # the input_hint invariant survives the sink round trip
    sig = lambda df: df.select(  # noqa: E731
        "doc_id", F.to_json(F.col("spans")).alias("sig"))
    a, b = sig(docs), sig(back)
    assert a.join(b, ["doc_id", "sig"], "left_anti").count() == 0
    assert b.join(a, ["doc_id", "sig"], "left_anti").count() == 0
    with open(f"{out}/_envelope.json") as f:
        assert json.load(f)["source"] == "geo_documents"


def test_json_documents_envelope_stats(spark, tmp_path):
    wd = spark.read.parquet(f"{D}/wikidata_places.parquet") \
        .select("qid", "name", "geonames_id", "population")
    out = str(tmp_path / "wd_json")
    env = write_json_documents(wd, out, metadata={"table": "wikidata_places"})
    n = wd.count()
    assert env["stats"]["n_rows"] == n
    assert env["stats"]["n_null_geonames_id"] == \
        wd.where(F.col("geonames_id").isNull()).count()
    back = read_ndjson(spark, out)
    assert back.count() == n
    with open(f"{out}/_envelope.json") as f:
        disk = json.load(f)
    assert disk["metadata"]["table"] == "wikidata_places"
