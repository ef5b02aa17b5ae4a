"""Table registry: load driver-provided and synthesized parquet tables.

Driver tables (/root/testdata/sf*/): region nation customer supplier part
orders lineitem events documents embeddings.
Synth tables (<checkout>/synthdata/sf*/): places wikidata_places persons
organizations post_offices geo_documents mention_truth feature_priority
wd_type_priority admin1_names hyperplanes kmeans_centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from geo_linked_open_data_kg_spark.fixtures.generate import synth_dir_for

DRIVER_TABLES = {"region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name in DRIVER_TABLES:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return spark.read.parquet(f"{synth_dir_for(sf_dir)}/{name}.parquet")


def synth_path(sf_dir: str, name: str) -> str:
    """Absolute parquet path of a synth table (for oracle SQL read_parquet)."""
    return f"{synth_dir_for(sf_dir)}/{name}.parquet"
