"""Driver-checkable ingest round-trip: store build + incremental delta.

The ingest pipeline (sources/ingest.py — reference ``Indexer.build``
src/indexer.ts:226-317 and ``incrementalUpdate`` src/indexer.ts:413-511)
was previously covered only by pytest; this registry query turns the
whole S5/S6/J1/J2 path into driver evidence:

  1. materialize the ``documents`` fixture as a real on-disk corpus
     (source/lang directories, one .txt per doc) — v1 excludes the
     "future" docs;
  2. cold-build the chunk store (discover → decode → chunk → dense ids
     → parquet store + meta sidecar);
  3. mutate the corpus deterministically — delete ``doc_id%11==5``,
     size-changing edit ``doc_id%13==6``, add ``doc_id%7==3`` — and
     ``build()`` again, which warm-loads the store and applies the
     J1 (anti join deletes) / J2 (outer-join size delta) refresh;
  4. return the final chunk table.

The DuckDB oracle replays the same merge relationally: chunk both
corpus versions with the shared chunk SQL, keep survivors' ids, assign
``max(id)+1``-continued ids to re-ingested paths (getMaxId()+1,
src/indexer.ts:393-400).

The only driver-side loop writes the fixture corpus to local disk —
control-plane scaffolding (500 files at sf0.01); in production the
corpus already exists, and the ingest itself is the distributed path
under test.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import input_bytes, load_table
from mcp_rag_server_spark.functions.numeric import finite_col
from mcp_rag_server_spark.functions.text import chunk_stride
from mcp_rag_server_spark.registry import register
from mcp_rag_server_spark.sources.ingest import (
    IngestParams,
    build,
    compact_store,
    load_store,
)

#: Chunk geometry — matches operators/chunking.py fixture geometry so the
#: multi-chunk explosion is actually exercised (~300-char docs).
RT_CHUNK_SIZE = 200
RT_CHUNK_OVERLAP = 30

#: Deterministic corpus mutation rules (v1 → v2).
MOD_NEW = 7, 3  # doc_id % 7 == 3 → absent from v1, added in v2
MOD_DEL = 11, 5  # doc_id % 11 == 5 → deleted in v2
MOD_EDIT = 13, 6  # doc_id % 13 == 6 → size-changing edit in v2
EDIT_SUFFIX = " v2-edit"


def _doc_rel_path(source: str, lang: str, doc_id: int) -> str:
    return f"{source}/{lang}/doc_{doc_id}.txt"


# PRECONDITION (applies to every caller of the two corpus writers
# below): the ingest_* family `.collect()`s the documents table to the
# DRIVER to materialize an on-disk file corpus — that simulation IS the
# thing under test (the reference ingests a directory tree,
# src/indexer.ts:226-317), and the fixture slice is bounded (≤500 rows,
# ~100 KB). Never point this pattern at a production-sized table: a
# real deployment's corpus already exists on storage, so build() /
# run_ingest_stream() read it directly and nothing is collected.
def _writable(r) -> bool:
    """A doc with no source, lang, or text has no deterministic corpus
    path (str(None) would silently become a literal 'None' directory)
    — the writers skip it and the oracle's v1/v2 CTEs exclude it with
    the matching IS NOT NULL / length(text) > 0 predicates."""
    return r.source is not None and r.lang is not None and r.text is not None


def _write_corpus_v1(root: str, docs) -> None:
    for r in docs:
        if not _writable(r) or r.doc_id % MOD_NEW[0] == MOD_NEW[1]:
            continue
        p = os.path.join(root, _doc_rel_path(r.source, r.lang, r.doc_id))
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w", encoding="utf-8") as f:
            f.write(r.text)


def _mutate_corpus_v2(root: str, docs) -> None:
    for r in docs:
        if not _writable(r):
            continue
        p = os.path.join(root, _doc_rel_path(r.source, r.lang, r.doc_id))
        if r.doc_id % MOD_DEL[0] == MOD_DEL[1]:
            if os.path.exists(p):
                os.remove(p)
            continue
        is_new = r.doc_id % MOD_NEW[0] == MOD_NEW[1]
        is_edit = r.doc_id % MOD_EDIT[0] == MOD_EDIT[1]
        if is_new or is_edit:
            text = r.text + EDIT_SUFFIX if is_edit else r.text
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "w", encoding="utf-8") as f:
                f.write(text)


def _chunk_cte(src: str, size: int, overlap: int) -> str:
    """DuckDB chunk explosion over a (rel_path, text) CTE."""
    stride = chunk_stride(size, overlap)
    cnt = (
        "CASE WHEN length(text) > 0 "
        f"THEN CAST(floor((length(text) - 1) / {stride}) + 1 AS BIGINT) "
        "ELSE 0 END"
    )
    return f"""
SELECT rel_path,
       CAST(i AS INT) AS chunk,
       substring(text, CAST(i * {stride} + 1 AS INT), {size}) AS ctext
FROM (SELECT rel_path, text, unnest(range(0, {cnt})) AS i FROM {src})
""".strip()


_PATH_SQL = "source || '/' || lang || '/doc_' || CAST(doc_id AS VARCHAR) || '.txt'"

_ORACLE = f"""
WITH v1 AS (
  -- source/lang IS NOT NULL mirrors the writers' _writable skip; a
  -- NULL rel_path would also poison the survivors' NOT IN below
  SELECT {_PATH_SQL} AS rel_path, text
  FROM documents
  WHERE doc_id % {MOD_NEW[0]} <> {MOD_NEW[1]} AND length(text) > 0
    AND source IS NOT NULL AND lang IS NOT NULL
),
v2 AS (
  SELECT {_PATH_SQL} AS rel_path,
         CASE WHEN doc_id % {MOD_EDIT[0]} = {MOD_EDIT[1]}
              THEN text || '{EDIT_SUFFIX}' ELSE text END AS text
  FROM documents
  WHERE doc_id % {MOD_DEL[0]} <> {MOD_DEL[1]} AND length(text) > 0
    AND source IS NOT NULL AND lang IS NOT NULL
),
oldc AS ({_chunk_cte("v1", RT_CHUNK_SIZE, RT_CHUNK_OVERLAP)}),
old_ids AS (
  SELECT rel_path, chunk, ctext,
         row_number() OVER (ORDER BY rel_path, chunk) - 1 AS id
  FROM oldc
),
-- J2 delta: new paths + size-changed paths (the reference's size-only
-- change heuristic, indexer.ts:453-454)
delta AS (
  SELECT v2.rel_path FROM v2 LEFT JOIN v1 USING (rel_path)
  WHERE v1.rel_path IS NULL
     OR octet_length(encode(v2.text)) <> octet_length(encode(v1.text))
),
-- J1 deletes + delta re-ingests drop out of the survivor set
survivors AS (
  SELECT o.id, o.rel_path, o.chunk, o.ctext
  FROM old_ids o
  JOIN v2 USING (rel_path)
  WHERE o.rel_path NOT IN (SELECT rel_path FROM delta)
),
deltac AS (
  {_chunk_cte("(SELECT v2.* FROM v2 JOIN delta USING (rel_path))",
              RT_CHUNK_SIZE, RT_CHUNK_OVERLAP)}
),
delta_ids AS (
  SELECT rel_path, chunk, ctext,
         (SELECT COALESCE(MAX(id), -1) FROM survivors)
           + row_number() OVER (ORDER BY rel_path, chunk) AS id
  FROM deltac
),
final AS (
  SELECT id, rel_path, chunk, ctext FROM survivors
  UNION ALL
  SELECT id, rel_path, chunk, ctext FROM delta_ids
)
SELECT f.id,
       f.rel_path,
       f.chunk,
       f.ctext AS text,
       octet_length(encode(v2.text)) AS file_size,
       CAST(len(string_split_regex(v2.text, '\\r?\\n')) AS INT) AS line_count
FROM final f JOIN v2 USING (rel_path)
ORDER BY f.id
""".strip()


@register(
    "ingest_roundtrip",
    oracle=_ORACLE,
    description="store cold build + incremental delta refresh (J1 deletes,"
    " J2 size-delta re-ingest, max(id)+1 id continuation) vs a relational"
    " replay of the same merge (reference src/indexer.ts:226-317,413-511)",
    tags=("ingest", "delta", "store"),
)
def ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded driver-side corpus materialization — see the PRECONDITION
    # note above _write_corpus_v1
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "lang", "text")
        .collect()
    )
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_ingest_rt_{digest}")
    shutil.rmtree(base, ignore_errors=True)
    root = os.path.join(base, "corpus")
    store = os.path.join(base, "store")
    os.makedirs(root, exist_ok=True)

    params = IngestParams(
        chunk_size=RT_CHUNK_SIZE,
        chunk_overlap=RT_CHUNK_OVERLAP,
        allowed_ext=("txt",),
    )
    _write_corpus_v1(root, docs)
    build(spark, root, store, params)  # cold path: S1→S2→F1→ids→S6
    _mutate_corpus_v2(root, docs)
    out = build(spark, root, store, params)  # warm path: S5→J1/J2→S6
    return out.select(
        "id", "rel_path", "chunk", "text", "file_size", "line_count"
    ).orderBy("id")


def _write_junk(root: str) -> None:
    """Files the ingest predicates must silently drop (the oracle never
    sees them, so a filter regression breaks the hash): an excluded-dir
    file (P2, reference indexer.ts:354-360), a dotfile (discovery
    fast-glob ``dot:false``), an empty file (P3, indexer.ts:374), a
    disallowed-extension file (P1), and a non-empty ``.pdf`` whose
    extraction FAILS (P4 — ``ingest_compacted`` allows the pdf ext and
    injects an extractor that raises, so the file survives P1/P2/P3
    discovery and must be dropped by decode_text's swallow-and-skip
    contract, reference indexer.ts:165-188). Malformed-UTF-8 *text* is
    deliberately not junk: both Node and our decode() ingest it with
    U+FFFD replacement — P4 is about read/extract failures."""
    junk = [
        ("node_modules/vendored.txt", b"excluded folder content"),
        (".hidden.txt", b"dotfile content"),
        ("srcX/empty.txt", b""),
        ("srcX/notes.md", b"wrong extension"),
        ("srcX/corrupt.pdf", b"%PDF-1.4 truncated garbage"),
    ]
    for rel, payload in junk:
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(payload)


def _failing_pdf_extractor(blobs) -> "pd.Series":  # noqa: F821
    """Injected P4 extractor: every PDF in the batch fails extraction,
    exercising decode_text's error path (null text → row dropped) with
    a deterministic failure instead of a real parser."""
    raise RuntimeError("injected extraction failure (P4)")


@register(
    "ingest_compacted",
    oracle=_ORACLE,
    description="ingest_roundtrip's merge followed by compact_store: the"
    " small-file rewrite (ceil(bytes/target) range-laid-out files, swap"
    " with crash recovery) must be content-transparent — the read-back"
    " goes through load_store over the compacted layout and hash-matches"
    " the same relational-merge oracle (SURVEY §7.5 risk 5)",
    tags=("ingest", "store", "compaction"),
)
def ingest_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cold-build → mutate → delta-refresh as ingest_roundtrip, then
    compact the fragmented store (the refresh appends per-delta files)
    with a target of a third of its size so the rewrite genuinely
    restructures (multiple range-disjoint output files), and return the
    table READ BACK THROUGH load_store — the rows the oracle check hashes
    have the compacted layout in their lineage, so a compaction that drops,
    duplicates, or reorders rows fails the oracle, not just a pytest.

    The allow-list includes ``pdf`` and both builds inject a FAILING
    extractor, so the planted ``srcX/corrupt.pdf`` reaches the P4
    decode/extract stage and must be skipped there — the oracle never
    models it, so a P4 regression (ingesting a file whose extraction
    errored) breaks the hash."""
    # bounded driver-side corpus materialization — see the PRECONDITION
    # note above _write_corpus_v1
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "lang", "text")
        .collect()
    )
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_ingest_cp_{digest}")
    shutil.rmtree(base, ignore_errors=True)
    root = os.path.join(base, "corpus")
    store = os.path.join(base, "store")
    os.makedirs(root, exist_ok=True)

    params = IngestParams(
        chunk_size=RT_CHUNK_SIZE,
        chunk_overlap=RT_CHUNK_OVERLAP,
        allowed_ext=("txt", "pdf"),  # pdf admitted so P4 is reachable
    )
    _write_corpus_v1(root, docs)
    _write_junk(root)  # P1/P2/P3/P4 + dotfile: all must be filtered out
    build(spark, root, store, params, pdf_extractor=_failing_pdf_extractor)
    _mutate_corpus_v2(root, docs)
    build(spark, root, store, params, pdf_extractor=_failing_pdf_extractor)
    # A third of the fragmented store's bytes: the builds' file count,
    # and so the store's size, follows the core count (6 files / 81 KB
    # at local[3], 15 files / 103 KB at local[8] on sf0.001), so a fixed
    # target left a single file on small sessions.
    stored = input_bytes(load_store(spark, store, params))
    n_files = compact_store(spark, store, target_file_bytes=stored // 3)
    if n_files < 2:
        raise RuntimeError(
            f"compaction wrote {n_files} file(s); target_file_bytes too"
            " large for the fixture to exercise the range layout"
        )
    out = load_store(spark, store, params)
    if out is None:
        raise RuntimeError("compacted store failed load_store meta check")
    return out.select(
        "id", "rel_path", "chunk", "text", "file_size", "line_count"
    ).orderBy("id")


#: The streaming roundtrip uses a half-size corpus slice — the
#: checkpointed-discovery semantics are file-count-invariant, and two
#: streaming passes over the full 500-file corpus double the per-run
#: cost for no extra evidence.
ST_DOC_LIMIT = 250

_ST_ORACLE = f"""
WITH allv AS (
  SELECT {_PATH_SQL} AS rel_path, text
  FROM documents
  WHERE length(text) > 0 AND doc_id < {ST_DOC_LIMIT}
),
c AS ({_chunk_cte("allv", RT_CHUNK_SIZE, RT_CHUNK_OVERLAP)})
SELECT c.rel_path,
       c.chunk,
       c.ctext AS text,
       octet_length(encode(a.text)) AS file_size,
       CAST(len(string_split_regex(a.text, '\\r?\\n')) AS INT) AS line_count
FROM c JOIN allv a USING (rel_path)
ORDER BY c.rel_path, c.chunk
""".strip()


@register(
    "st_ingest_roundtrip",
    oracle=_ST_ORACLE,
    description="continuous-ingest roundtrip: two checkpointed streaming"
    " passes (initial corpus, then appended files) land exactly one chunk"
    " row per (rel_path, chunk) — checkpointed file discovery as the"
    " append-side incremental refresh (streaming/ingest_stream.py)",
    tags=("ingest", "streaming", "store"),
)
def st_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pass 1 ingests the v1 corpus (docs except the 'future' slice);
    pass 2 runs after the held-back files are written and — via the
    checkpoint's file log, not any listing diff — ingests ONLY them.
    The oracle chunks the full corpus relationally: equality proves both
    exactly-once accounting (no duplicates from pass 1 files) and
    completeness (no appended file missed). Chunk identity is the
    natural (rel_path, chunk) key — a global dense id is meaningless
    under continuous arrival."""
    from mcp_rag_server_spark.streaming.ingest_stream import run_ingest_stream

    from pyspark.sql import functions as F

    # bounded driver-side corpus materialization — see the PRECONDITION
    # note above _write_corpus_v1
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < ST_DOC_LIMIT)
        .select("doc_id", "source", "lang", "text")
        .collect()
    )
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_ingest_st_{digest}")
    shutil.rmtree(base, ignore_errors=True)
    root = os.path.join(base, "corpus")
    store = os.path.join(base, "store")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(root, exist_ok=True)

    _write_corpus_v1(root, docs)
    run_ingest_stream(
        spark, root, store, ckpt,
        chunk_size=RT_CHUNK_SIZE, chunk_overlap=RT_CHUNK_OVERLAP,
    )
    # Append the held-back slice (the %7 "new" docs); nothing else changes.
    for r in docs:
        if r.doc_id % MOD_NEW[0] != MOD_NEW[1] or len(r.text) == 0:
            continue
        p = os.path.join(root, _doc_rel_path(r.source, r.lang, r.doc_id))
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w", encoding="utf-8") as f:
            f.write(r.text)
    run_ingest_stream(
        spark, root, store, ckpt,
        chunk_size=RT_CHUNK_SIZE, chunk_overlap=RT_CHUNK_OVERLAP,
    )
    spark.catalog.refreshByPath(store)
    return (
        spark.read.parquet(store)
        .select("rel_path", "chunk", "text", "file_size", "line_count")
        .orderBy("rel_path", "chunk")
    )


#: Partition-pruned scan: the kept partition values (2 of 5 event
#: types) — the pruned read must never touch the other directories.
PT_KEEP = ("click", "purchase")


@register(
    "ingest_partitioned_scan",
    oracle=f"""
SELECT event_type,
       CAST(user_id % 10 AS BIGINT) AS user_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       MAX(event_id) AS max_event_id
FROM events
WHERE event_type IN {PT_KEEP!r}
GROUP BY event_type, user_id % 10
ORDER BY event_type, user_bucket
""",
    description="hive-partitioned parquet layout round-trip: write events"
    " partitionBy(event_type) (repartitioned so each partition value is"
    " one file, not tasks x values), read back with a partition-column"
    " filter — directory pruning, THE 100 TB scan-cost lever — and"
    " aggregate the surviving partitions",
    tags=("ingest", "sources", "partitioning"),
)
def ingest_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6-adjacent sink/source pair the compacted chunk store doesn't
    cover: a Hive-style ``partitionBy`` layout whose partition column
    becomes directory structure. The read-back filter on ``event_type``
    is satisfied by PRUNING (PartitionFilters in the scan; the pinning
    test asserts only the kept directories' files are read) — at 100 TB
    this is the difference between scanning 2/5 of the data and all of
    it, before any row filter runs. The pre-write
    ``repartition("event_type")`` bounds write amplification: one file
    per partition value instead of tasks × values small files (the
    classic partitioned-write mistake). The aggregate is hashed against
    the un-partitioned fixture — a pruning bug that drops or doubles a
    directory flips the hash."""
    ev = load_table(spark, sf_dir, "events")
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_ingest_pt_{digest}")
    shutil.rmtree(base, ignore_errors=True)
    ev.repartition("event_type").write.partitionBy("event_type").parquet(base)
    back = spark.read.parquet(base).filter(
        F.col("event_type").isin(*PT_KEEP)
    )
    return (
        back.groupBy(
            "event_type", (F.col("user_id") % 10).alias("user_bucket")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(finite_col(F.col("value")).cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type", "user_bucket")
    )


#: Text-format round-trip: explicit micros-precision timestamp format
#: (Spark's DEFAULT JSON/CSV timestamp format carries millis only —
#: relying on it silently truncates event times).
TXT_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
TXT_USERS = 50


@register(
    "ingest_text_formats",
    oracle=f"""
WITH src AS (
  SELECT * FROM events WHERE user_id < {TXT_USERS}
),
agg AS (
  SELECT event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
         MAX(event_id) AS max_event_id,
         MAX(ts) AS max_ts
  FROM src GROUP BY event_type
)
SELECT 'jsonl' AS fmt, event_type, n_events, total_value, max_event_id,
       max_ts
FROM agg
UNION ALL
SELECT 'csv' AS fmt, event_type, n_events, total_value, max_event_id,
       CAST(NULL AS TIMESTAMP) AS max_ts
FROM agg
ORDER BY fmt, event_type
""",
    description="JSONL + CSV source formats with EXPLICIT schemas: write"
    " the events slice to both text layouts, read each back schema-first"
    " (no inference scan) with a micros-precision timestamp format, and"
    " aggregate both — the interchange-format ingestion path (S1/S2"
    " cover raw text; this covers structured text)",
    tags=("ingest", "sources", "json", "csv"),
)
def ingest_text_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two production rules this query pins: (1) schema-FIRST reads —
    ``spark.read.schema(...)`` — because inference is a full extra scan
    at 100 TB and type-guesses drift between files; (2) explicit
    ``timestampFormat`` with micros, because the default format truncates
    to millis and the hash against the parquet fixture would catch it
    (max_ts carries live micros). The CSV leg drops ts (CSV has no type
    system; the NULL max_ts column in the result records exactly that
    divergence) and round-trips double via Double.toString — lossless by
    Java's round-trip guarantee. Writes repartition to 4 files per
    format: bounded file count, parallel read back."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < TXT_USERS)
        .select("event_id", "user_id", "event_type", "value", "ts")
    )
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_ingest_tx_{digest}")
    shutil.rmtree(base, ignore_errors=True)
    jdir, cdir = os.path.join(base, "jsonl"), os.path.join(base, "csv")
    ev.repartition(4).write.option("timestampFormat", TXT_TS_FMT).json(jdir)
    ev.drop("ts").repartition(4).write.option("header", "true").csv(cdir)

    jschema = (
        "event_id bigint, user_id bigint, event_type string, value double,"
        " ts timestamp"
    )
    cschema = "event_id bigint, user_id bigint, event_type string, value double"
    js = (
        spark.read.schema(jschema)
        .option("timestampFormat", TXT_TS_FMT)
        .json(jdir)
    )
    cs = spark.read.schema(cschema).option("header", "true").csv(cdir)

    def agg(df: DataFrame, fmt: str, with_ts: bool) -> DataFrame:
        cols = [
            F.count("*").alias("n_events"),
            F.sum(finite_col(F.col("value")).cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
            F.max("event_id").alias("max_event_id"),
            (F.max("ts") if with_ts else F.lit(None).cast("timestamp")).alias(
                "max_ts"
            ),
        ]
        return df.groupBy("event_type").agg(*cols).select(
            F.lit(fmt).alias("fmt"),
            "event_type",
            "n_events",
            "total_value",
            "max_event_id",
            "max_ts",
        )

    return (
        agg(js, "jsonl", True)
        .unionByName(agg(cs, "csv", False))
        .orderBy("fmt", "event_type")
    )


#: Bucketed co-located join geometry. 8 buckets — enough to show the
#: layout; at scale this is sized to target-partition row counts.
BK_BUCKETS = 8


@register(
    "ingest_bucketed_join",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(DISTINCT o.o_orderkey) AS n_orders
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
    description="bucketed fact-to-fact join: orders and lineitem saved"
    " bucketBy(orderkey)+sortBy into co-located bucketed tables, then"
    " joined WITHOUT any exchange on either side (plan test pins zero"
    " shuffles under the SortMergeJoin) — pre-shuffling once at write"
    " time, THE large-join lever when both sides are TB-scale",
    tags=("ingest", "sources", "bucketing", "join"),
)
def ingest_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both join sides are written ``bucketBy(BK_BUCKETS, orderkey)``
    + ``sortBy(orderkey)`` as external-path datasource tables (explicit
    ``option("path")`` — works under ANY session's warehouse config,
    including the correctness driver's foreign session). Reading them
    back, the SortMergeJoin consumes each side's bucketing as its
    distribution AND its sort order: no Exchange, no Sort, on either
    side — the shuffle was paid ONCE at write time and is amortized
    over every subsequent join on that key. The ``merge`` hint opts out
    of the broadcast path the tiny fixture would otherwise take (at
    real scale two fact tables exceed any broadcast threshold and SMJ
    is what AQE picks anyway). The aggregate after the join is the one
    remaining exchange."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_ingest_bk_{digest}")
    to, tl = f"bk_orders_{digest}", f"bk_lineitem_{digest}"
    (
        o.select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .bucketBy(BK_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(base, "orders"))
        .saveAsTable(to)
    )
    (
        li.select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite")
        .bucketBy(BK_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(base, "lineitem"))
        .saveAsTable(tl)
    )
    ob, lb = spark.table(to), spark.table(tl)
    return (
        ob.hint("merge")
        .join(lb, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


#: GDPR-deletion geometry: hash-bucketed user partitions; the erasure
#: set below hits a strict subset of buckets, so the rewrite must touch
#: only those directories (dynamic partition overwrite).
GDPR_BUCKETS = 16
GDPR_DELETE_USERS = (3, 19, 35)  # all ≡ 3 (mod 16) → exactly ONE bucket


@register(
    "ingest_gdpr_delete",
    oracle=f"""
SELECT CAST(user_id % {GDPR_BUCKETS} AS BIGINT) AS user_bucket,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       MAX(event_id) AS max_event_id
FROM events
-- NULL-user events are RETAINED: erasure is keyed by user_id, and a
-- row with no user belongs to no erasure request (it lands in the
-- store's Hive default partition). Bare NOT IN would drop them
-- (NULL NOT IN (...) is NULL), silently diverging from the store.
WHERE user_id IS NULL OR user_id NOT IN {GDPR_DELETE_USERS!r}
GROUP BY user_id % {GDPR_BUCKETS}
ORDER BY user_bucket
""",
    description="right-to-erasure deletion over a user-bucketed layout:"
    " events stored partitionBy(user_bucket), the erasure set's bucket"
    " rewritten via DYNAMIC partition overwrite (untouched buckets keep"
    " their original files — asserted), then the whole store audited —"
    " surgical compliance deletes instead of full-table rewrites",
    tags=("ingest", "sources", "partitioning", "delete"),
)
def ingest_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deletion pipeline: (1) store events partitioned by
    user_bucket = user_id % {GDPR_BUCKETS}; (2) read ONLY the buckets the
    erasure set maps to (partition pruning bounds the read); (3)
    anti-filter the erased users; (4) write back with
    partitionOverwriteMode=dynamic — Spark replaces exactly the
    partitions present in the written frame and leaves every other
    directory's files untouched (this function asserts the untouched
    buckets' files are byte-identical paths afterwards). At 100 TB a
    deletion request rewrites |affected buckets| / {GDPR_BUCKETS} of the
    store, not all of it — the entire point of keying the layout by the
    deletion domain. The final audit aggregate runs over the whole
    post-delete store and is hashed against the oracle's NOT IN."""
    ev = load_table(spark, sf_dir, "events")
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_ingest_gd_{digest}")
    shutil.rmtree(base, ignore_errors=True)
    store = os.path.join(base, "store")
    (
        ev.withColumn("user_bucket", F.col("user_id") % GDPR_BUCKETS)
        .repartition("user_bucket")
        .write.partitionBy("user_bucket")
        .parquet(store)
    )
    affected = sorted({u % GDPR_BUCKETS for u in GDPR_DELETE_USERS})

    def clean_bucket_files() -> dict[str, list[str]]:
        # enumerate the bucket dirs that actually exist (tiny fixtures
        # may not populate all GDPR_BUCKETS values); the Hive default
        # partition (NULL user_bucket — rows with no user) is never an
        # erasure target, so it counts as a clean bucket
        out = {}
        for d in os.listdir(store):
            if not d.startswith("user_bucket="):
                continue
            val = d.split("=")[1]
            if val.isdigit() and int(val) in affected:
                continue
            out[d] = sorted(os.listdir(os.path.join(store, d)))
        return out

    before = clean_bucket_files()
    # Materialize the survivors BEFORE overwriting: the write targets
    # the same path it reads, and dynamic overwrite deletes the source
    # files at commit — a lazy plan would race its own input. (A table
    # format's MERGE does this transactionally; on raw parquet the
    # staged rewrite is the correct shape, and the staged set is one
    # bucket's survivors, not the store.)
    kept = (
        spark.read.parquet(store)
        .filter(F.col("user_bucket").isin(affected))
        .filter(~F.col("user_id").isin(*GDPR_DELETE_USERS))
        .localCheckpoint(eager=True)
    )
    (
        kept.repartition("user_bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("user_bucket")
        .parquet(store)
    )
    # Dynamic overwrite replaces only partitions PRESENT in the written
    # frame — a bucket whose every row was erased contributes none, so
    # its old files silently survive (the classic delete-everything
    # no-op; the sf0.001 fixture, one user per bucket, exposed it: the
    # erased user's whole bucket stayed on disk). Fully-emptied buckets
    # need the explicit directory delete a table format's commit would
    # have done.
    present = {
        r.user_bucket
        for r in kept.select("user_bucket").distinct().collect()
    }
    for b in affected:
        if b not in present:
            shutil.rmtree(
                os.path.join(store, f"user_bucket={b}"), ignore_errors=True
            )
    after = clean_bucket_files()
    # dynamic overwrite must not have touched the other buckets
    assert before == after, "dynamic partition overwrite rewrote clean buckets"
    return (
        spark.read.parquet(store)
        .groupBy(F.col("user_bucket").cast("bigint").alias("user_bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("user_bucket")
    )


@register(
    "ingest_schema_evolution",
    oracle="""
WITH unioned AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
           AS o_orderpriority
  FROM orders
)
SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice, 4) AS DECIMAL(18,4)))
            AS DOUBLE) AS total_price,
       MAX(o_orderkey) AS max_orderkey
FROM unioned
GROUP BY COALESCE(o_orderpriority, '<pre-evolution>')
ORDER BY priority
""",
    description="parquet schema evolution round-trip: write a v1 vintage"
    " (3 columns) and a v2 vintage with an ADDED column into one"
    " dataset, read with mergeSchema — v1 rows must surface with NULL"
    " in the new column (hashed as the <pre-evolution> group), the"
    " add-a-column lake migration every long-lived 100 TB dataset"
    " goes through",
    tags=("ingest", "sources", "schema-evolution"),
)
def ingest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The add-a-column contract of a parquet lake: old files keep
    their narrow physical schema forever (no rewrite of petabytes),
    readers get the UNION schema, and history rows read as NULL in new
    columns. ``mergeSchema`` is what pays the footer-union cost —
    explicitly opted in here because at scale you set the union schema
    once in the table catalog instead of re-deriving it per read
    (spark.read.schema(...) over the same files is the production
    path; mergeSchema proves the files themselves need no rewrite).
    The oracle replays the evolution from the un-split fixture (even
    keys = v1 vintage, odd = v2), so a reader that drops pre-evolution
    rows, backfills anything but NULL, or loses the added column on
    the v1 slice flips the hash."""
    o = load_table(spark, sf_dir, "orders")
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ingest_sev_{digest}"
    )
    shutil.rmtree(base, ignore_errors=True)
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    v1.coalesce(1).write.parquet(os.path.join(base, "v1"))
    v2.coalesce(1).write.parquet(os.path.join(base, "v2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "v1"), os.path.join(base, "v2")
    )
    return (
        back.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>"))
            .alias("priority")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice"), 4).cast("decimal(18,4)"))
            .cast("double")
            .alias("total_price"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
        .orderBy("priority")
    )


#: Merge-on-read deletes: every 7th doc is tombstoned.
MOR_DELETE_MOD = 7


@register(
    "ingest_mor_deletes",
    oracle=f"""
SELECT source,
       COUNT(*) AS n_live,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS live_chars,
       MAX(doc_id) AS max_live_doc
FROM documents
WHERE doc_id % {MOR_DELETE_MOD} <> 0
GROUP BY source
ORDER BY source
""",
    description="merge-on-read deletion vectors: base files stay"
    " immutable, deletes land as a tombstone sidecar, and the read"
    " path applies them as a broadcast anti-join — the Iceberg/Delta"
    " DV strategy beside ingest_gdpr_delete's copy-on-write partition"
    " overwrite; the live-row census is hashed against an oracle that"
    " filters the same ids",
    tags=("ingest", "sources", "deletes", "mor"),
)
def ingest_mor_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER deletion strategy: ingest_gdpr_delete rewrites the
    affected partition (copy-on-write — reads stay cheap, deletes pay
    a rewrite); merge-on-read writes a tombstone sidecar and pays at
    READ time with an anti-join against the delete set. Here the base
    table is written once, tombstones (every 7th doc_id) land as a
    separate tiny parquet, and the read path is
    base LEFT ANTI JOIN deletes — broadcast, since delete sets are
    small relative to bases by design; at 100 TB the engine compacts
    tombstones into the base when their ratio passes a threshold
    (exactly what ingest_compacted's rewrite path does). A reader that
    forgets the anti-join (or applies it to the wrong id) resurfaces a
    tombstoned row and flips the hash."""
    docs = load_table(spark, sf_dir, "documents")
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ingest_mor_{digest}"
    )
    shutil.rmtree(base, ignore_errors=True)
    docs.coalesce(1).write.parquet(os.path.join(base, "base"))
    docs.filter(F.col("doc_id") % MOR_DELETE_MOD == 0).select(
        "doc_id"
    ).coalesce(1).write.parquet(os.path.join(base, "deletes"))
    base_df = spark.read.parquet(os.path.join(base, "base"))
    dels = spark.read.parquet(os.path.join(base, "deletes"))
    live = base_df.join(F.broadcast(dels), "doc_id", "left_anti")
    return (
        live.groupBy("source")
        .agg(
            F.count("*").alias("n_live"),
            F.sum(F.col("n_chars").cast("decimal(18,0)"))
            .cast("bigint")
            .alias("live_chars"),
            F.max("doc_id").alias("max_live_doc"),
        )
        .orderBy("source")
    )


#: Time travel: the delta vintage is every 3rd doc (an "append batch").
TT_DELTA_MOD = 3


@register(
    "ingest_time_travel",
    oracle=f"""
WITH v0 AS (SELECT * FROM documents WHERE doc_id % {TT_DELTA_MOD} <> 0),
v1 AS (SELECT * FROM documents)
SELECT 0 AS version, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS total_chars,
       MAX(doc_id) AS max_doc_id
FROM v0
UNION ALL
SELECT 1 AS version, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS total_chars,
       MAX(doc_id) AS max_doc_id
FROM v1
ORDER BY version
""",
    description="snapshot time travel: versioned manifests over"
    " immutable data files — version 0 reads only the base file list,"
    " version 1 adds the append batch; both versions' censuses are"
    " hashed from ONE physical layout (the lakehouse as-of-version"
    " read, manifest-driven, no file rewrites)",
    tags=("ingest", "sources", "time-travel", "versioning"),
)
def ingest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel is a MANIFEST property, not a data property: data
    files are immutable and append-only; each commit writes a manifest
    listing the files in that version, and an as-of-version read just
    loads the listed files (Iceberg snapshots / Delta log checkpoints
    in miniature; our compacted chunk store's staged-swap metadata is
    the same discipline one version deep). Here commit 0 writes the
    base file + manifest-0, commit 1 adds the delta file + manifest-1;
    the query reads BOTH versions through their manifests and hashes
    both censuses — a reader that resolves versions from directory
    listing instead of the manifest would see delta files in v0 and
    flip the hash. At 100 TB manifests also carry per-file min/max for
    planning; the version column here is the audit that the manifest
    indirection works."""
    docs = load_table(spark, sf_dir, "documents")
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_ingest_tt_{digest}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    f_base = os.path.join(base, "data_base")
    f_delta = os.path.join(base, "data_delta")
    docs.filter(F.col("doc_id") % TT_DELTA_MOD != 0).coalesce(1).write.parquet(
        f_base
    )
    docs.filter(F.col("doc_id") % TT_DELTA_MOD == 0).coalesce(1).write.parquet(
        f_delta
    )
    # manifests: newline-separated data paths per version
    with open(os.path.join(base, "manifest_v0"), "w", encoding="utf-8") as fh:
        fh.write(f_base + "\n")
    with open(os.path.join(base, "manifest_v1"), "w", encoding="utf-8") as fh:
        fh.write(f_base + "\n" + f_delta + "\n")

    def read_version(v: int):
        with open(
            os.path.join(base, f"manifest_v{v}"), encoding="utf-8"
        ) as fh:
            paths = [p for p in fh.read().splitlines() if p]
        return spark.read.parquet(*paths)

    def census(df: DataFrame, v: int) -> DataFrame:
        return df.agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(18,0)"))
            .cast("bigint")
            .alias("total_chars"),
            F.max("doc_id").alias("max_doc_id"),
        )

    return (
        census(read_version(0), 0)
        .unionByName(census(read_version(1), 1))
        .orderBy("version")
    )


@register(
    "ingest_orc_roundtrip",
    oracle=f"""
WITH src AS (
  SELECT * FROM events WHERE user_id < {TXT_USERS}
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       MAX(event_id) AS max_event_id,
       MAX(ts) AS max_ts
FROM src
GROUP BY event_type
ORDER BY event_type
""",
    description="ORC source/sink round-trip: the events slice written as"
    " ORC (Spark's built-in second columnar format), read back"
    " schema-first with its filter pushed to the ORC reader, and"
    " aggregated against the parquet-derived oracle — byte-identical"
    " values prove the columnar interchange path (warehouse migrations"
    " read exactly this way)",
    tags=("ingest", "sources", "orc"),
)
def ingest_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive/Trino estates are full of ORC; a migration pipeline reads
    ORC and writes parquet (or serves both), so the engine registers
    the round trip: write the slice as ORC, read it back, aggregate.
    The oracle aggregates the SAME slice straight from parquet — the
    hash therefore proves ORC preserved longs, doubles (decimal-summed
    after a round-trip through ORC's DOUBLE), strings, and
    micros-precision timestamps bit-for-bit. The read is schema-first
    (no inference pass) and the user_id predicate is applied on the
    ORC scan — ORC carries min/max stripe stats just as parquet does,
    so the same pushdown discipline holds. Bounded file count
    (repartition 4) like every ingest fixture here."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < TXT_USERS)
        .select("event_id", "user_id", "event_type", "value", "ts")
    )
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ingest_orc_{digest}"
    )
    shutil.rmtree(base, ignore_errors=True)
    odir = os.path.join(base, "events_orc")
    ev.repartition(4).write.orc(odir)
    schema = (
        "event_id bigint, user_id bigint, event_type string, value double,"
        " ts timestamp"
    )
    back = spark.read.schema(schema).orc(odir).filter(
        F.col("user_id") < TXT_USERS
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(finite_col(F.col("value")).cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
            F.max("event_id").alias("max_event_id"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("event_type")
    )


#: Malformed-row fixture: the bad-lines file planted beside the good
#: CSV part files, and its line count.
CSV_BAD_LINES = (
    "notanint,12,click,0.5",
    "77,13,purchase,not_a_double",
    "too,few",
)


@register(
    "ingest_csv_malformed",
    oracle=f"""
WITH src AS (
  SELECT * FROM events WHERE user_id < {TXT_USERS}
),
good AS (
  SELECT event_type,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM src GROUP BY event_type
)
SELECT event_type, n_rows, total_value FROM good
UNION ALL
SELECT '_corrupt' AS event_type,
       CAST({len(CSV_BAD_LINES)} AS BIGINT) AS n_rows,
       CAST(NULL AS DOUBLE) AS total_value
ORDER BY event_type
""",
    description="malformed-CSV handling: a planted bad-lines file rides"
    " beside the good part files, PERMISSIVE parsing captures each"
    " broken row in the corrupt-record column, and the result hashes"
    " good aggregates beside the exact corrupt count — the"
    " quarantine-don't-crash ingestion contract batch loaders need",
    tags=("ingest", "sources", "csv", "quality"),
)
def ingest_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real CSV feeds contain garbage; the production contract is (1)
    never fail the job, (2) never silently drop — count and quarantine.
    PERMISSIVE mode + columnNameOfCorruptRecord gives exactly that:
    type-mismatched or short rows parse to NULLs with the raw line
    preserved in the corrupt column. Three planted shapes cover the
    failure classes (bad bigint, bad double, wrong arity). The parsed
    frame is cached before aggregating — Spark disallows queries that
    read ONLY the internal corrupt column straight off the files
    (SPARK-21610); at 100 TB the same pipeline points
    badRecordsPath/observed-metrics at the quarantine instead of
    caching. Written headerless so the planted file's first line is
    data, not a phantom header."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < TXT_USERS)
        .select("event_id", "user_id", "event_type", "value", "ts")
    )
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ingest_bad_{digest}"
    )
    shutil.rmtree(base, ignore_errors=True)
    cdir = os.path.join(base, "csv")
    ev.drop("ts").repartition(4).write.csv(cdir)
    with open(os.path.join(cdir, "part-99999-bad.csv"), "w") as fh:
        fh.write("\n".join(CSV_BAD_LINES) + "\n")

    schema = (
        "event_id bigint, user_id bigint, event_type string,"
        " value double, _corrupt string"
    )
    # A prior same-session invocation cached a read of this SAME path;
    # CacheManager dedupes by analyzed plan, so without invalidation
    # the fresh .cache() below silently resolves to the stale
    # InMemoryRelation whose part files the rmtree above deleted.
    spark.catalog.refreshByPath(cdir)
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(cdir)
        .cache()
    )
    good = (
        parsed.filter(F.col("_corrupt").isNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(finite_col(F.col("value")).cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    bad = parsed.filter(F.col("_corrupt").isNotNull()).agg(
        F.lit("_corrupt").alias("event_type"),
        F.count("*").alias("n_rows"),
        F.lit(None).cast("double").alias("total_value"),
    )
    return good.unionByName(bad).orderBy("event_type")


#: Snapshot-diff residues: v1 adds the %3==0 docs to v0; v2 deletes
#: the %7==0 docs from v1.
SD_ADD_MOD = 3
SD_DEL_MOD = 7


@register(
    "ingest_snapshot_diff",
    oracle=f"""
WITH v0 AS (SELECT doc_id FROM documents WHERE doc_id % {SD_ADD_MOD} <> 0),
v1 AS (SELECT doc_id FROM documents),
v2 AS (SELECT doc_id FROM documents WHERE doc_id % {SD_DEL_MOD} <> 0)
SELECT '0_to_1' AS version_pair,
       (SELECT COUNT(*) FROM v1 WHERE doc_id NOT IN
          (SELECT doc_id FROM v0)) AS n_added,
       (SELECT COUNT(*) FROM v0 WHERE doc_id NOT IN
          (SELECT doc_id FROM v1)) AS n_removed,
       (SELECT COUNT(*) FROM v0 WHERE doc_id IN
          (SELECT doc_id FROM v1)) AS n_common
UNION ALL
SELECT '1_to_2',
       (SELECT COUNT(*) FROM v2 WHERE doc_id NOT IN
          (SELECT doc_id FROM v1)),
       (SELECT COUNT(*) FROM v1 WHERE doc_id NOT IN
          (SELECT doc_id FROM v2)),
       (SELECT COUNT(*) FROM v1 WHERE doc_id IN
          (SELECT doc_id FROM v2))
ORDER BY version_pair
""",
    description="snapshot diff over versioned manifests: three commits"
    " (base, append, manifest-level delete) read back as-of each"
    " version, adjacent versions diffed by keyed anti/semi joins into"
    " added/removed/common row counts — the table_changes() /"
    " incremental-consumer primitive of a lakehouse log",
    tags=("ingest", "sources", "cdc", "join"),
)
def ingest_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What changed between snapshots is the question every
    incremental consumer asks of a versioned table; with immutable
    data files and per-version manifests, the answer is keyed
    anti/semi joins between as-of reads — no log replay. Commit 0
    writes the base file, commit 1 appends a delta file, commit 2
    'deletes' by writing a manifest that lists base+delta MINUS a
    tombstone residue filter (manifest-level delete: the data files
    never change, ingest_mor_deletes' tomb-join is the row-level
    variant). The DuckDB oracle derives each version from the same
    residue algebra directly, so the hash verifies the manifest
    machinery reconstructed exactly the right row sets — a reader
    resolving from directory listing instead of manifests flips
    n_added for 0→1. At scale added/removed are manifest-pruned
    file-level diffs first, row-level joins only within changed
    files."""
    docs = load_table(spark, sf_dir, "documents")
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ingest_sd_{digest}"
    )
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    f_base = os.path.join(base, "data_base")
    f_delta = os.path.join(base, "data_delta")
    docs.filter(F.col("doc_id") % SD_ADD_MOD != 0).select(
        "doc_id"
    ).coalesce(1).write.parquet(f_base)
    docs.filter(F.col("doc_id") % SD_ADD_MOD == 0).select(
        "doc_id"
    ).coalesce(1).write.parquet(f_delta)
    manifests = {
        0: {"paths": [f_base], "delete_mod": None},
        1: {"paths": [f_base, f_delta], "delete_mod": None},
        2: {"paths": [f_base, f_delta], "delete_mod": SD_DEL_MOD},
    }
    import json

    for v, m in manifests.items():
        with open(
            os.path.join(base, f"manifest_v{v}.json"), "w", encoding="utf-8"
        ) as fh:
            json.dump(m, fh)

    def read_version(v: int) -> DataFrame:
        with open(
            os.path.join(base, f"manifest_v{v}.json"), encoding="utf-8"
        ) as fh:
            m = json.load(fh)
        df = spark.read.parquet(*m["paths"])
        if m["delete_mod"] is not None:
            df = df.filter(F.col("doc_id") % m["delete_mod"] != 0)
        return df

    def diff(a: DataFrame, b: DataFrame, label: str) -> DataFrame:
        added = b.join(a, "doc_id", "left_anti").agg(
            F.count("*").alias("n_added")
        )
        removed = a.join(b, "doc_id", "left_anti").agg(
            F.count("*").alias("n_removed")
        )
        common = a.join(b, "doc_id", "left_semi").agg(
            F.count("*").alias("n_common")
        )
        return (
            added.crossJoin(removed)
            .crossJoin(common)
            .select(
                F.lit(label).alias("version_pair"),
                "n_added",
                "n_removed",
                "n_common",
            )
        )

    v0, v1, v2 = read_version(0), read_version(1), read_version(2)
    return (
        diff(v0, v1, "0_to_1")
        .unionByName(diff(v1, v2, "1_to_2"))
        .orderBy("version_pair")
    )
