from __future__ import annotations

import os
import sys

import pytest

# the checkout these tests live in, whatever the working directory; the
# Python workers Spark starts import the package through PYTHONPATH
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from geo_linked_open_data_kg_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
