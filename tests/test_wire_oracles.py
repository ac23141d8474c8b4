"""The seven MQ wire catalog queries (each one the sink's own envelope over
the ``events`` change-event projection) byte-match their DuckDB oracles:
Spark rows and oracle rows compared sorted, as tools/check_oracle.py
compares them."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"
WIRE_QUERIES = [
    "cdc_encode_json", "cdc_encode_maxwell", "cdc_encode_canal",
    "cdc_encode_avro", "cdc_encode_canal_pb", "cdc_encode_craft",
    "cdc_mq_dispatch",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.sql(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    yield c
    c.close()


@pytest.mark.parametrize("name", WIRE_QUERIES)
def test_wire_query_matches_duckdb_oracle(spark, con, name):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from check_oracle import norm_rows

    from tiflow_spark.oracles import ORACLES
    from tiflow_spark.queries import QUERIES

    sdf = QUERIES[name](spark, SF)
    res = con.sql(ORACLES[name])
    assert [c.lower() for c in sdf.columns] == [c.lower() for c in res.columns]
    srows = norm_rows(tuple(r) for r in sdf.collect())
    drows = norm_rows(res.fetchall())
    assert len(srows) == len(drows) == 1000
    assert srows == drows
