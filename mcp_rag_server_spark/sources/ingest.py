"""Chunk-store ingest, persistence, and incremental refresh.

This is the reference's startup build (src/indexer.ts:226-317) and
incremental maintenance (src/indexer.ts:413-511) as two Spark batch
jobs over a Parquet chunk store.

Chunk table schema (reference ``Doc``, src/types.ts:5-20, minus the
embedding, which the embed stage adds —
mcp_rag_server_spark/functions/embedding.py):

    id: long           -- dense ordinal, deterministic (see below)
    rel_path: string   -- path relative to corpus root (types.ts:9)
    chunk: int         -- 0-based chunk index in file (types.ts:11)
    text: string       -- chunk content (types.ts:13)
    file_size: long    -- whole-file size, denormalized (types.ts:15)
    line_count: int    -- whole-file line count, denormalized (types.ts:17)

Id discipline: the reference assigns ids from a session counter in
traversal order (indexer.ts:263, 473) — nondeterministic across file
systems. We define ids as ``row_number() over (order by rel_path, chunk)
- 1`` on cold build; incremental inserts continue from ``max(id)+1``
(reference ``getMaxId()+1``, indexer.ts:393-400) ordered the same way.
NOT ``monotonically_increasing_id`` — that varies with partitioning and
would break golden tests (SURVEY.md §1.5).

Scale shape: chunking is ``posexplode`` over a pure SQL chunk expression
— a narrow, shuffle-free scan stage. Id assignment decomposes the
global ``row_number`` into per-file offsets (functions/ids.py): the only
ordered computation is a running sum over one row per FILE, so no task
ever sorts the full chunk set; the ids stay bit-identical to
``row_number() over (order by rel_path, chunk)`` for golden parity. The
refresh path reads file bodies once, and only for the changed-file
delta: one metadata-only listing (no file bodies) is compared with the
store's per-path ``file_size`` in one small job whose result — the
deleted paths and the changed/new paths with their listing URIs — comes
back to the driver; survivors are the store filtered on those paths, and
a ``binaryFile`` load of just the changed URIs is the only body read.
``content_hash=True`` still reads every body once, to hash it.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import file_signature, input_bytes
from mcp_rag_server_spark.functions.ids import dense_chunk_ids
from mcp_rag_server_spark.functions.text import chunk_array
from mcp_rag_server_spark.sources.files import (
    DEFAULT_ALLOWED_EXT,
    DEFAULT_EXCLUDED_FOLDERS,
    decode_text,
    discover_files,
    lists_pdf,
    read_bodies,
)

STORE_VERSION = 1
META_FILE = "_meta.json"


@dataclass(frozen=True)
class IngestParams:
    """The knobs that participate in store compatibility (reference
    persistence.ts:91-100: chunkSize, chunkOverlap, modelName)."""

    chunk_size: int = 800
    chunk_overlap: int = 120
    model_name: str = "fixture"
    allowed_ext: tuple[str, ...] = DEFAULT_ALLOWED_EXT
    excluded_folders: tuple[str, ...] = DEFAULT_EXCLUDED_FOLDERS
    #: Change detection: the reference compares file size only
    #: (indexer.ts:453-454) and documents that same-size edits are missed
    #: (indexer.ts:410-411). content_hash=True strengthens detection with
    #: sha2(content) — a deliberate, flagged divergence (SURVEY.md §5.2).
    content_hash: bool = False
    #: 0 = flat store (refresh rewrites the whole table). > 0 = store is
    #: partitioned by bucket = pmod(hash(rel_path), n_buckets) and refresh
    #: rewrites ONLY buckets containing changed/deleted/new paths — at
    #: 100 TB a small delta touches a handful of partition dirs instead of
    #: re-shuffling the corpus. Participates in meta compat (a layout
    #: change forces a cold rebuild).
    n_buckets: int = 0


def chunk_files(texts: DataFrame, params: IngestParams) -> DataFrame:
    """(rel_path, file_size, text) → chunk rows without ids.

    Parity: splitChunks windows (indexer.ts:201-215) via the SQL chunk
    expression; per-file line_count = split on /\\r?\\n/ length
    (indexer.ts:272)."""
    return (
        texts.withColumn(
            "line_count", F.size(F.split("text", r"\r?\n")).cast("int")
        )
        .select(
            "rel_path",
            "file_size",
            "line_count",
            F.posexplode(
                chunk_array("text", params.chunk_size, params.chunk_overlap)
            ).alias("chunk", "chunk_text"),
        )
        .select(
            "rel_path",
            F.col("chunk").cast("int").alias("chunk"),
            F.col("chunk_text").alias("text"),
            "file_size",
            "line_count",
        )
    )


def _assign_ids(chunks: DataFrame, start_id: int = 0) -> DataFrame:
    """id = row_number over (rel_path, chunk) - 1 + start_id, computed
    per-file (functions/ids.py) so no task ever sorts the full chunk
    set — the ordered step is one row per file."""
    base = ["id", "rel_path", "chunk", "text", "file_size", "line_count"]
    extra = [c for c in chunks.columns if c not in base]
    return dense_chunk_ids(chunks, "rel_path", start_id=start_id).select(
        *base, *extra
    )


def _meta_path(store_path: str) -> str:
    return os.path.join(store_path, META_FILE)


def _recover_interrupted_swap(data_dir: str) -> None:
    """compact_store's dir swap is two renames, not one atomic op: a
    crash between them leaves the canonical ``chunks`` dir missing and
    the data stranded at ``chunks.old``. Openers call this first to roll
    the store back to the pre-compaction copy (compaction is a pure
    layout rewrite, so the old copy is fully current)."""
    old = data_dir + ".old"
    if not os.path.exists(data_dir) and os.path.exists(old):
        os.rename(old, data_dir)


def _bucket_col(n_buckets: int):
    return F.pmod(F.hash("rel_path"), F.lit(n_buckets))


def save_store(chunks: DataFrame, store_path: str, params: IngestParams) -> None:
    """Reference ``Persistence.save`` (persistence.ts:151-185): the docs
    array + meta envelope become a Parquet table + JSON sidecar. The
    base64-f32 embedding encoding (persistence.ts:175-177) has no
    analog — Parquet stores array<float> natively."""
    target = os.path.join(store_path, "chunks")
    if params.n_buckets > 0:
        (
            chunks.withColumn("bucket", _bucket_col(params.n_buckets))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(target)
        )
    else:
        chunks.write.mode("overwrite").parquet(target)
    with open(_meta_path(store_path), "w", encoding="utf-8") as f:
        json.dump(_meta_dict(params), f)


def _meta_dict(params: IngestParams) -> dict:
    return {
        "version": STORE_VERSION,
        "chunk_size": params.chunk_size,
        "chunk_overlap": params.chunk_overlap,
        "model_name": params.model_name,
        "content_hash": params.content_hash,
        "n_buckets": params.n_buckets,
        "saved_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def load_store(
    spark: SparkSession, store_path: str, params: IngestParams
) -> DataFrame | None:
    """Reference ``Persistence.load`` (persistence.ts:78-148): missing or
    meta-incompatible store → None → caller does a cold rebuild
    (persistence.ts:91-100)."""
    meta_path = _meta_path(store_path)
    if not os.path.exists(meta_path):
        return None
    with open(meta_path, encoding="utf-8") as f:
        meta = json.load(f)
    compatible = (
        meta.get("version") == STORE_VERSION
        and meta.get("chunk_size") == params.chunk_size
        and meta.get("chunk_overlap") == params.chunk_overlap
        and meta.get("model_name") == params.model_name
        and meta.get("content_hash", False) == params.content_hash
        and meta.get("n_buckets", 0) == params.n_buckets
    )
    if not compatible:
        return None
    data_dir = os.path.join(store_path, "chunks")
    _recover_interrupted_swap(data_dir)
    return spark.read.parquet(data_dir)


def _discover_texts(
    spark: SparkSession,
    root: str,
    params: IngestParams,
    pdf_extractor: Callable[[pd.Series], pd.Series] | None,
    with_uri: bool = False,
) -> DataFrame:
    files = discover_files(
        spark,
        root,
        allowed_ext=params.allowed_ext,
        excluded_folders=params.excluded_folders,
        with_content=True,
        with_uri=with_uri,
    )
    texts = decode_text(
        files, pdf_extractor=pdf_extractor, with_pdf=lists_pdf(params.allowed_ext)
    )
    return _with_hash(texts, params)


def _with_hash(texts: DataFrame, params: IngestParams) -> DataFrame:
    if params.content_hash:
        return texts.withColumn("content_sha", F.sha2(F.col("text"), 256))
    return texts


def _store_columns(params: IngestParams) -> list[str]:
    base = ["id", "rel_path", "chunk", "text", "file_size", "line_count"]
    return base + (["content_sha"] if params.content_hash else [])


def cold_build(
    spark: SparkSession,
    root: str,
    params: IngestParams = IngestParams(),
    pdf_extractor: Callable[[pd.Series], pd.Series] | None = None,
) -> DataFrame:
    """Full rebuild (reference cold path, indexer.ts:257-316):
    discover → read/extract → chunk → assign ids."""
    texts = _discover_texts(spark, root, params, pdf_extractor)
    return _chunk_with_ids(texts, params)


def _chunk_with_ids(
    texts: DataFrame, params: IngestParams, start_id: int = 0
) -> DataFrame:
    chunks = chunk_files(texts, params)
    if params.content_hash:
        # content_sha rides along in the store: it IS the change-detection
        # key on the next refresh.
        chunks = chunks.join(texts.select("rel_path", "content_sha"), "rel_path")
    return _assign_ids(chunks, start_id=start_id)


def incremental_update(
    spark: SparkSession,
    old_chunks: DataFrame,
    root: str,
    params: IngestParams = IngestParams(),
    pdf_extractor: Callable[[pd.Series], pd.Series] | None = None,
) -> DataFrame:
    """Reference ``incrementalUpdate`` (indexer.ts:413-511) as a MERGE
    keyed on rel_path:

    J1 (deleted):  old chunk paths missing from the current listing →
                   dropped (indexer.ts:431-443).
    J2 (changed):  current listing vs old per-path file_size; new path or
                   size mismatch → re-ingest that file (indexer.ts:446-462);
                   with ``content_hash`` the key is sha2(text) instead,
                   catching same-size edits the reference misses
                   (indexer.ts:410-411).

    Both key sets come from one job over a listing that reads no file
    bodies (with ``content_hash``, over every decoded body, since every
    file must be hashed). Survivors are ``old_chunks`` minus those paths;
    only the changed/new files are read, by URI, and re-chunked. New
    chunk ids continue from max(surviving id)+1 (getMaxId()+1,
    indexer.ts:393-400), ordered by (rel_path, chunk) for determinism.
    With nothing deleted or changed the result is ``old_chunks`` itself.
    As in the reference, a listed file that yields no text (a failed PDF
    extraction) has no chunks, so it is re-read on every refresh.
    """
    deleted, changed = _delta_paths(spark, old_chunks, root, params, pdf_extractor)
    if not deleted and not changed:
        return old_chunks
    survivors = old_chunks.filter(~F.col("rel_path").isin(deleted + list(changed)))
    out = survivors.select(*_store_columns(params))
    if not changed:
        return out
    return out.unionByName(
        _delta_chunks(spark, survivors, root, changed, params, pdf_extractor)
    )


def _delta_paths(
    spark: SparkSession,
    old_chunks: DataFrame,
    root: str,
    params: IngestParams,
    pdf_extractor: Callable[[pd.Series], pd.Series] | None,
) -> tuple[list[str], dict[str, str]]:
    """(deleted paths, {changed or new path: listing URI}) — the J1/J2
    delta keys, collected to the driver in one job."""
    if params.content_hash:
        change_key = "content_sha"
        listing = _discover_texts(spark, root, params, pdf_extractor, with_uri=True)
    else:
        change_key = "file_size"
        listing = discover_files(
            spark,
            root,
            allowed_ext=params.allowed_ext,
            excluded_folders=params.excluded_folders,
            with_uri=True,
        )
    old_by_path = old_chunks.groupBy("rel_path").agg(
        F.first(change_key).alias("old_key")
    )
    rows = (
        listing.select("rel_path", "uri", change_key)
        .join(old_by_path, "rel_path", "full_outer")
        .filter(
            F.col("uri").isNull()
            | F.col("old_key").isNull()
            | (F.col(change_key) != F.col("old_key"))
        )
        .select("rel_path", "uri")
        .collect()
    )
    deleted = sorted(r["rel_path"] for r in rows if r["uri"] is None)
    changed = {r["rel_path"]: r["uri"] for r in rows if r["uri"] is not None}
    return deleted, changed


def _delta_chunks(
    spark: SparkSession,
    survivors: DataFrame,
    root: str,
    changed: dict[str, str],
    params: IngestParams,
    pdf_extractor: Callable[[pd.Series], pd.Series] | None,
) -> DataFrame:
    """Read, chunk and id-assign just the changed/new files; ids continue
    from max(surviving id)+1 (getMaxId()+1, indexer.ts:393-400)."""
    files = read_bodies(spark, root, changed.values())
    texts = decode_text(
        files,
        pdf_extractor=pdf_extractor,
        with_pdf=any(p.lower().endswith(".pdf") for p in changed),
    )
    max_id = survivors.agg(F.max("id")).first()[0]
    next_id = (max_id + 1) if max_id is not None else 0
    return _chunk_with_ids(_with_hash(texts, params), params, start_id=next_id)


def build(
    spark: SparkSession,
    root: str,
    store_path: str,
    params: IngestParams = IngestParams(),
    pdf_extractor: Callable[[pd.Series], pd.Series] | None = None,
) -> DataFrame:
    """Reference ``Indexer.build`` (indexer.ts:226-317): warm-start from a
    compatible store and refresh incrementally, else cold rebuild; then
    persist. Returns the current chunks DataFrame (re-read from the
    store, so callers never depend on pre-write lineage)."""
    import shutil

    cur_dir = os.path.join(store_path, "chunks")
    old = load_store(spark, store_path, params)
    if old is None:
        chunks = cold_build(spark, root, params, pdf_extractor=pdf_extractor)
        save_store(chunks, store_path, params)
    elif params.n_buckets > 0:
        _refresh_buckets(spark, old, root, store_path, params, pdf_extractor)
    else:
        chunks = incremental_update(
            spark, old, root, params, pdf_extractor=pdf_extractor
        )
        # ``old`` itself back means nothing changed: leave the store as is.
        if chunks is not old:
            # The refresh reads the parquet dir it is about to replace, so
            # write to a sibling dir first and swap — never collect() the
            # table through the driver (it may be 100 TB).
            next_dir = cur_dir + ".next"
            chunks.write.mode("overwrite").parquet(next_dir)
            shutil.rmtree(cur_dir, ignore_errors=True)
            os.rename(next_dir, cur_dir)
            with open(_meta_path(store_path), "w", encoding="utf-8") as f:
                json.dump(_meta_dict(params), f)
    # The swap replaced files under a path Spark may have listed; drop the
    # stale listing before handing back a reader.
    spark.catalog.refreshByPath(cur_dir)
    out = spark.read.parquet(cur_dir)
    return out.drop("bucket") if params.n_buckets > 0 else out


def _refresh_buckets(
    spark: SparkSession,
    old: DataFrame,
    root: str,
    store_path: str,
    params: IngestParams,
    pdf_extractor: Callable[[pd.Series], pd.Series] | None,
) -> None:
    """Delta-bucket refresh: rewrite ONLY the partition dirs whose paths
    changed. A small delta against a 100 TB store touches a handful of
    ``bucket=k`` directories; everything else is untouched bytes on
    disk — no read, no shuffle, no rewrite (verified by mtime in
    tests/test_ingest.py)."""
    import shutil

    deleted, changed = _delta_paths(spark, old, root, params, pdf_extractor)
    affected_paths = deleted + list(changed)
    if not affected_paths:
        return
    affected = [
        r["b"]
        for r in spark.createDataFrame(
            [(p,) for p in affected_paths], "rel_path string"
        )
        .select(_bucket_col(params.n_buckets).alias("b"))
        .distinct()
        .collect()
    ]
    # Survivors *within affected buckets only* + re-ingested delta chunks;
    # ids continue past the GLOBAL max so they never collide with ids in
    # untouched buckets.
    kept = ~F.col("rel_path").isin(affected_paths)
    out = old.filter(F.col("bucket").isin(affected) & kept).select(
        *_store_columns(params)
    )
    if changed:
        # Ids continue from the max over GLOBAL survivors — the same rule
        # as the flat incremental path, so both layouts produce identical
        # ids.
        out = out.unionByName(
            _delta_chunks(
                spark, old.filter(kept), root, changed, params, pdf_extractor
            )
        )
    out = out.withColumn("bucket", _bucket_col(params.n_buckets))
    delta_dir = os.path.join(store_path, "chunks.delta")
    out.write.mode("overwrite").partitionBy("bucket").parquet(delta_dir)
    cur_dir = os.path.join(store_path, "chunks")
    for b in affected:
        src = os.path.join(delta_dir, f"bucket={b}")
        dst = os.path.join(cur_dir, f"bucket={b}")
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.exists(src):  # bucket may have lost all its paths
            os.rename(src, dst)
    shutil.rmtree(delta_dir, ignore_errors=True)
    with open(_meta_path(store_path), "w", encoding="utf-8") as f:
        json.dump(_meta_dict(params), f)


def compact_store(
    spark: SparkSession,
    store_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    range_col: str = "id",
) -> int:
    """Compact a chunk store's small files and lay rows out by range.

    The 100 TB small-file problem (SURVEY.md §7.5 risk 5): incremental
    refresh appends per-delta files, and thousands of KB-sized parquet
    files destroy scan throughput (one task + one footer read each) and
    overload the driver's file listing. Compaction rewrites the store as
    ``ceil(bytes / target_file_bytes)`` files, range-partitioned on
    ``range_col`` with rows sorted within each file.

    The range layout is what makes the rewrite more than cosmetic: each
    output file covers a disjoint ``range_col`` interval, so its parquet
    row-group min/max statistics let any engine skip whole files for
    range predicates (the poor man's Z-order for a single key; verified
    by tests/test_ingest.py::test_compact_store_layout).

    Returns the number of files written. Staging discipline: Spark
    cannot read and overwrite the same parquet directory in one job, so
    the compacted copy is staged beside the store's data dir then
    swapped in (rename); the _meta.json sidecar lives at the store root
    and is untouched. Bucket-partitioned stores keep their bucket=N
    directory layout (the refresh path depends on it).
    """
    import math
    import shutil

    data_dir = os.path.join(store_path, "chunks")
    _recover_interrupted_swap(data_dir)
    df = spark.read.parquet(data_dir)
    n_files = max(1, math.ceil((input_bytes(df) or 0) / target_file_bytes))
    staged = data_dir + ".compact.tmp"
    writer = (
        df.repartitionByRange(n_files, F.col(range_col))
        .sortWithinPartitions(range_col)
        .write.mode("overwrite")
    )
    if "bucket" in df.columns:
        # bucket-partitioned store: keep the bucket=N directory layout
        # (refresh relies on it); range layout applies within buckets.
        writer = writer.partitionBy("bucket")
    writer.parquet(staged)
    # Swap with a recovery path, NOT atomic: between the two renames the
    # canonical dir is briefly missing, and a crash there strands the
    # data at ``chunks.old`` — openers (load_store / compact_store / the
    # next build) run _recover_interrupted_swap to roll back. No failure
    # point loses data; a concurrent reader during the window would need
    # an external lock (out of scope for a single-writer store).
    old = data_dir + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(data_dir, old)
    os.rename(staged, data_dir)
    shutil.rmtree(old)
    # Same stale-FileStatusCache hazard as build(): a same-session reader
    # that already listed the store would otherwise see deleted files.
    spark.catalog.refreshByPath(data_dir)
    return len(file_signature(data_dir) or ())
