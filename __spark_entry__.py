"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction slice at sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator with its
DuckDB oracle (see geo_linked_open_data_kg_spark/queries.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from geo_linked_open_data_kg_spark import queries as q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG triples (direct-ID + admin + spatial) at sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    direct = q.kg_direct_id_links(spark, sf_dir)
    adm = q.kg_admin_triples(spark, sf_dir)
    spat = q.kg_spatial_links(spark, sf_dir).drop("distance_km", "rank")
    from pyspark.sql import functions as F
    direct = direct.select("subj", "pred", "obj", "confidence", "evidence")
    adm = adm.select("subj", "pred", "obj", "confidence", "evidence")
    spat = spat.select("subj", "pred", "obj", "confidence", "evidence")
    return direct.unionByName(adm).unionByName(spat)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(q.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(q.ORACLES)
