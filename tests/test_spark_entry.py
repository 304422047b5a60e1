"""The entry contract in ``__spark_entry__.py`` and the fixtures it runs on.

``queries()`` / ``oracle_sql()`` list every registered query in
registration order, ``entry(spark)`` returns rows, and each callable
re-applies the session confs the operators assume on a session the
package did not build. The fixture schemas are pinned at every scale
(tests/fixture_schemas.json), so a regenerated fixture that changes a
column type (the round-4 events.ts NANOS→MICROS drift) fails here first.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from mcp_rag_server_spark.catalog import TABLES
from mcp_rag_server_spark.registry import load_all

from conftest import SF0001

TESTDATA = os.path.dirname(SF0001)

SCHEMAS = os.path.join(os.path.dirname(__file__), "fixture_schemas.json")


def test_queries_in_registration_order():
    assert list(entry.queries()) == list(load_all())


def test_oracle_sql_covers_every_query():
    osql = entry.oracle_sql()
    assert list(osql) == list(load_all())
    assert len(osql) == 304


def test_entry_returns_rows(spark):
    assert len(entry.entry(spark).collect()) >= 1


def test_query_callable_restores_utc(spark):
    key = "spark.sql.session.timeZone"
    spark.conf.set(key, "America/Los_Angeles")
    try:
        entry.queries()["tpch_q6"](spark, SF0001)
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, "UTC")


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_fixture_schemas_pinned(sf):
    with open(SCHEMAS) as f:
        want = json.load(f)
    got = {
        t: ", ".join(
            f"{c.name}:{c.type}"
            for c in pq.read_schema(os.path.join(TESTDATA, sf, f"{t}.parquet"))
        )
        for t in TABLES
    }
    assert got == want
