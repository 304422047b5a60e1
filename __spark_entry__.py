"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (brute-force cosine top-k, the
reference's rag_query core) at sf0.001. ``queries()`` / ``oracle_sql()``
are derived from the central registry in
``mcp_rag_server_spark/registry.py`` and list every query in
registration order — every operator registers its Spark callable and
DuckDB oracle SQL together, so the two dicts are always in sync.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mcp_rag_server_spark.registry import load_all  # noqa: E402
from mcp_rag_server_spark.session import ensure_session_confs  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def _with_session_confs(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """The driver constructs its own SparkSession; idempotently apply the
    runtime confs the operators assume (UTC, parquet nanos handling)
    before running the query. Session conf mutation lives ONLY in
    session.py — this wrapper is the single entry point for it."""

    def call(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_session_confs(spark)
        return fn(spark, sf_dir)

    return call


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    registry = load_all()
    return _with_session_confs(registry["rag_topk"].spark_fn)(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per registered query, in registration order; each
    callable applies the session confs the operators assume first."""
    return {
        name: _with_session_confs(spec.spark_fn)
        for name, spec in load_all().items()
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every SQL-expressible query."""
    return {
        name: spec.oracle
        for name, spec in load_all().items()
        if spec.oracle is not None
    }
