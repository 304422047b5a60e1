"""Round-15 optimization pins: the size-aware spread class.

r15 made ``session.spread_scan`` width SIZE-AWARE (one task per
``_SPREAD_TASK_BYTES`` of on-disk scan input, floored at 8, capped at
the cluster width). These tests pin:

1. SIZING MATH: the width formula against the live fixture byte sizes
   (deficit regime → sized width; enough estimated splits → no-op).
2. KEYED EXCHANGE IN THE PLAN: spread targets carry a hashpartitioning
   exchange on the declared key below the heavy stage — the structural
   claim OPTIMIZATION_r15.md makes per query.
3. WIDTH-INDEPENDENT VALUES: collected rows are identical across
   spread widths (the registry's per-row-math / order-free-aggregate
   determinism rule, now exercised explicitly for the spread class).
4. GUARDS: zero keys raise; dd_method_agreement, whose pair-edge
   chain re-spreads its already-spread documents, keeps its exchange
   count (Catalyst collapses the stacked repartition).
"""

from __future__ import annotations

import os

import pytest
from conftest import SF0001, SF001

from mcp_rag_server_spark import session
from mcp_rag_server_spark.catalog import load_table
from mcp_rag_server_spark.registry import load_all
from mcp_rag_server_spark.session import spread_scan

#: bench spread targets whose FINAL plan retains the keyed exchange
#: (query name → hash key the spread declares). Queries that fold the
#: exchange into a downstream checkpoint job (dd_method_agreement,
#: ta_bpe_*) are pinned by test_r14_optimizations instead.
SPREAD_PLAN_QUERIES = {
    "tpch_q1": "l_orderkey",
    "top_parts_by_revenue": "l_partkey",
    "ta_winnowing_fingerprint": "doc_id",
    "dd_minhash_lsh": "doc_id",
    "sim_kmeans_refine": "vec_id",
    "sim_pq_adc_topk": "vec_id",
    "sim_ivfpq_topk": "vec_id",
}

#: width-independence sample: one query per spread family.
WIDTH_INDEPENDENT_QUERIES = (
    "tpch_q1",
    "dd_minhash_lsh",
    "ta_winnowing_fingerprint",
    "sim_pq_adc_topk",
)


def test_spread_width_is_size_aware(spark, monkeypatch):
    """Width = clamp(ceil(bytes / _SPREAD_TASK_BYTES), 8, cluster).
    Cluster width pinned to 32 so the sized middle of the clamp is
    actually exercised (the 8-core test session would clamp all three
    fixtures to the floor)."""
    monkeypatch.setattr(session, "fanout_width", lambda s: 32)
    cap = 32
    for tbl, key in (
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("lineitem", "l_orderkey"),
    ):
        df = load_table(spark, SF001, tbl)
        nbytes = os.path.getsize(f"{SF001}/{tbl}.parquet")
        expect = min(cap, max(8, -(-nbytes // session._SPREAD_TASK_BYTES)))
        got = spread_scan(df, key).rdd.getNumPartitions()
        assert got == expect, (tbl, nbytes, got, expect)


def test_spread_noop_when_layout_fans_out(spark, monkeypatch):
    """Estimated splits >= cluster width → the scan is returned as-is
    (the production multi-split gate)."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        df = load_table(spark, SF001, "lineitem")  # ~1 MB at sf0.01
        assert spread_scan(df, "l_orderkey") is df
    finally:
        spark.conf.set(key, old)


def test_spread_requires_keys(spark):
    df = load_table(spark, SF0001, "documents")
    with pytest.raises(ValueError):
        spread_scan(df)


def test_method_agreement_exchange_count(spark, monkeypatch):
    """dd_method_agreement spreads documents once and hands the spread
    frame to the pair-edge chain, whose shingle stage spreads it again.
    The stacked same-width repartition must collapse into the first,
    so the Exchange count over every plan the query materializes (its
    three localCheckpoints plus the final plan) stays at its pinned
    value."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    df = load_all()["dd_method_agreement"].spark_fn(spark, SF0001)
    plans.append(df._jdf.queryExecution().executedPlan().toString())
    assert sorted(len(re.findall("Exchange", p)) for p in plans) == [1, 2, 9, 33]


def test_spread_targets_keep_keyed_exchange_in_plan(spark):
    reg = load_all()
    for name, key in SPREAD_PLAN_QUERIES.items():
        df = reg[name].spark_fn(spark, SF0001)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert f"hashpartitioning({key}" in plan, (name, key)


def test_spread_values_are_width_independent(spark):
    """Same rows at width 8, the sized width, and full cluster width —
    the determinism contract that makes the sizing safe to re-tune."""
    reg = load_all()
    orig = session._SPREAD_TASK_BYTES
    try:
        for name in WIDTH_INDEPENDENT_QUERIES:
            rows = []
            for task_bytes in (1, orig, 1 << 40):
                session._SPREAD_TASK_BYTES = task_bytes
                rows.append(
                    sorted(
                        map(tuple, reg[name].spark_fn(spark, SF001).collect())
                    )
                )
            assert rows[0] == rows[1] == rows[2], name
            assert len(rows[0]) > 0, name
    finally:
        session._SPREAD_TASK_BYTES = orig
