"""Pin: the per-session table memo in catalog.load_table.

load_table memoizes the RESOLVED RELATION (a lazy DataFrame handle)
per session, keyed on the table path and holding the table's file
signature (catalog.file_signature: (path, size, mtime_ns) of each data
file) — metadata caching only, the session-level listing/footer reuse
guide §6 endorses. catalog.table_rows keeps one count() per signature
on the same entry. These tests pin the contract that makes it safe:

1. HIT: the same (session, path) returns the same DataFrame object —
   no repeated footer/listing resolution — and the same row count
   with no second count job.
2. INVALIDATION: a table rewritten in place (a single file, or ONE
   file of a two-file directory table) is re-resolved and recounted,
   and the superseded entry is replaced, not kept beside it.
3. ISOLATION: different sf_dirs resolve to different relations and
   memo entries.
4. NO DATA CACHING: the memoized frame is not persisted — its storage
   level is NONE, so every action still scans the parquet bytes.
5. NON-LOCAL URIS: nothing to stat, so load_table falls through
   uncached and spread_scan leaves the frame alone without touching
   ``.rdd``.
"""

from __future__ import annotations

import os
import shutil

from conftest import SF0001, SF001

from mcp_rag_server_spark.catalog import load_table, table_path, table_rows


def _memo(spark) -> dict:
    return spark._graft_tables


def test_memo_returns_same_relation(spark):
    a = load_table(spark, SF0001, "orders")
    b = load_table(spark, SF0001, "orders")
    assert a is b
    # the count rides the same entry: poison it and the poisoned value
    # comes back, so a second table_rows runs no count job
    n = table_rows(spark, SF0001, "orders")
    assert n == a.count()
    entry = _memo(spark)[table_path(SF0001, "orders")]
    try:
        entry.rows = n + 7
        assert table_rows(spark, SF0001, "orders") == n + 7
    finally:
        entry.rows = n


def test_memo_invalidates_on_rewrite(spark, tmp_path):
    """Single-file table, then a two-file directory table with one file
    rewritten in place; each is rewritten twice."""
    small, big = f"{SF0001}/orders.parquet", f"{SF001}/orders.parquet"
    for layout in ("file", "dir"):
        d = str(tmp_path / layout)
        target = table_path(d, "orders")
        if layout == "dir":
            os.makedirs(target)
            shutil.copy(small, f"{target}/part-0.parquet")
            target = f"{target}/part-1.parquet"
        else:
            os.makedirs(d)
        shutil.copy(small, target)
        prev = load_table(spark, d, "orders")
        counts = [table_rows(spark, d, "orders")]
        for src in (big, small):
            shutil.copy(src, target)
            os.utime(target)
            b = load_table(spark, d, "orders")
            assert b is not prev, layout
            counts.append(table_rows(spark, d, "orders"))
            assert counts[-1] == b.count(), layout
            prev = b
            # the superseded entry is replaced: one entry per table
            assert [p for p in _memo(spark) if p.startswith(d)] == [
                table_path(d, "orders")
            ], layout
        # recounted after each rewrite: up with the big file, back down
        assert counts[1] > counts[0] == counts[2], (layout, counts)


def test_memo_is_per_directory(spark):
    a = load_table(spark, SF0001, "orders")
    b = load_table(spark, SF001, "orders")
    assert a is not b
    assert table_rows(spark, SF0001, "embeddings") == load_table(
        spark, SF0001, "embeddings"
    ).count()
    assert table_rows(spark, SF001, "embeddings") == load_table(
        spark, SF001, "embeddings"
    ).count()
    memo = _memo(spark)
    # same row count at these two SFs, but distinct sources: two entries
    assert memo[table_path(SF0001, "embeddings")] is not memo[
        table_path(SF001, "embeddings")
    ]


def test_memo_does_not_persist_data(spark):
    df = load_table(spark, SF0001, "orders")
    assert df.storageLevel.useMemory is False
    assert df.storageLevel.useDisk is False


def test_non_local_uri_falls_through(spark, monkeypatch):
    """An ``s3a://`` table: load_table reads it on every call and keeps
    no entry; spread_scan returns the frame as-is with zero ``.rdd``
    access. The reader is redirected to the local fixture, so no
    remote filesystem is involved."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

    from mcp_rag_server_spark.session import spread_scan

    remote = "s3a://bucket/sf0.001"
    read = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader,
        "parquet",
        lambda self, *paths, **kw: read(
            self, *[p.replace(remote, SF0001) for p in paths], **kw
        ),
    )
    a = load_table(spark, remote, "documents")
    assert load_table(spark, remote, "documents") is not a
    assert table_path(remote, "documents") not in _memo(spark)

    monkeypatch.setattr(
        DataFrame, "inputFiles", lambda self: [f"{remote}/documents.parquet"]
    )

    def no_rdd(self):
        raise AssertionError(".rdd accessed")

    monkeypatch.setattr(DataFrame, "rdd", property(no_rdd))
    assert spread_scan(a, "doc_id") is a
