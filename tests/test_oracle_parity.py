"""Emulates the driver's correctness gate: run every queries() entry on
Spark at sf0.01 and its oracle_sql() twin on DuckDB, compare row multisets
(order-insensitive, floats canonicalized like a value hash would see them).
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
DRIVER_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, list):
        return "[" + ",".join(str(_canon(x)) for x in v) + "]"
    return v


def _rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(_canon(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


ORACLED = sorted(set(entrymod.queries()) & set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns

    res = duck.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column sets differ"
    assert len(srows) == len(drows), (
        f"{name}: row counts differ spark={len(srows)} duck={len(drows)}")
    sm = _rows_to_multiset(scols, [[r[c] for c in scols] for r in srows])
    dm = _rows_to_multiset(dcols, [[r[dcols.index(c)] for c in dcols] for r in drows])
    if sm != dm:
        only_s = {k: v for k, v in sm.items() if dm.get(k) != v}
        only_d = {k: v for k, v in dm.items() if sm.get(k) != v}
        raise AssertionError(
            f"{name}: value mismatch; spark-only sample: "
            f"{list(only_s.items())[:3]}; duck-only sample: {list(only_d.items())[:3]}")


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.columns == ["subj", "pred", "obj", "confidence", "evidence"]


def test_registry_contract():
    """The driver verifies only the first 50 entries and only those with
    an oracle: the registry holds exactly 50, every one with an oracle,
    and the pipeline-critical value gates lead it."""
    from geo_linked_open_data_kg_spark import queries as q
    assert len(q.QUERIES) == 50
    assert set(q.QUERIES) == set(q.ORACLES)
    assert list(q.QUERIES)[:len(q._PRIORITY)] == q._PRIORITY
