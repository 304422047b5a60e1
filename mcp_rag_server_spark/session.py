"""SparkSession factory with scale-oriented defaults.

The reference engine is a single-threaded JS event loop with zero
partitioning (reference src/indexer.ts:22, src/index.ts:21); this module
is where the new engine's execution model diverges deliberately: AQE,
Arrow, broadcast-join thresholds and sane shuffle partitioning are set
once so every operator inherits them.

Session cache contract: operators ``cache()`` a handful of bounded
intermediates and never unpersist them (they return lazy DataFrames,
so the cache must outlive the function); CacheManager analyzed-plan
dedup keeps the entry set bounded across re-invocation and sharing,
``spark.catalog.clearCache()`` reclaims everything between workloads,
and correctness never depends on a cache being present. Pinned by
tests/test_cache_lifecycle.py, where the contract is spelled out.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mcp_rag_server_spark.catalog import input_bytes

#: Shuffle partitions default. On the test rig we size to the CPU count;
#: on a real cluster this is overridden (rule of thumb: 2-3x total cores,
#: or rely on AQE coalescing from a higher initial number).
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: Runtime SQL confs every operator assumes. Set at build time by
#: :func:`get_spark`, and re-assertable on a *foreign* session (the
#: correctness driver constructs its own SparkSession and passes it in)
#: via :func:`ensure_session_confs`. This is the ONLY place session conf
#: is mutated — operators and the catalog never call ``spark.conf.set``.
REQUIRED_RUNTIME_CONFS: dict[str, str] = {
    # Legacy fixture vintages carry events.ts as TIMESTAMP(NANOS), which
    # Spark's vectorized parquet reader rejects ([PARQUET_TYPE_ILLEGAL]);
    # this reads the nanos as long so catalog.normalize_event_ts can
    # truncate to micros — exactly what DuckDB does when narrowing
    # TIMESTAMP_NS. Harmless no-op on MICROS-encoded vintages.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Timestamp semantics must be engine-independent vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Idempotently apply :data:`REQUIRED_RUNTIME_CONFS` to a session we
    did not build (no-op on sessions from :func:`get_spark`)."""
    for k, v in REQUIRED_RUNTIME_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def fanout_width(spark: SparkSession, floor: int = 8) -> int:
    """Fan-out width for explicit de-collapse ``repartition()`` hints.

    A handful of operators re-spread a stage whose upstream partitioning
    Catalyst/AQE would otherwise collapse to one task (single-row-group
    fixture scans, global limits, same-key repartition elimination — see
    BENCH_NOTES r8). Those hints must scale with the cluster, not carry a
    fixture-tuned literal: this derives the width from
    ``sc.defaultParallelism`` (= total executor cores on a real cluster,
    = N on ``local[N]``), floored so a tiny local session still spreads
    skew-prone folds. Partition COUNT never affects values — every
    caller does per-row math downstream — so correctness hashes are
    width-independent by construction.
    """
    return max(int(spark.sparkContext.defaultParallelism), floor)


#: On-disk input bytes one spread task should own, in the deficit
#: regime only (input too small for the file-split math to reach the
#: cluster width). The r15 width A/B (OPTIMIZATION_r15.md, min-of-5
#: interleaved at sf0.1/local[32]) put the optimum at ~50 KB/task
#: across three input sizes: documents 594 KB → 8-16 best (w32 up to
#: +26% slower on dd_method_agreement), embeddings 799 KB → 16 best
#: (w32 +26%/+33% slower on sim_kmeans_refine / sim_pq_adc_topk),
#: lineitem 10.8 MB → 32 best. Spread tasks are compute-bound
#: (explodes, md5/HOF folds over compressed columnar input), so the
#: per-task byte target is far below the 128 MB scan-split target.
_SPREAD_TASK_BYTES = 50 * 1024


def _sized_width(spark: SparkSession, nbytes: int) -> int:
    """One task per :data:`_SPREAD_TASK_BYTES` of input, floored at 8,
    capped at the cluster width."""
    return min(fanout_width(spark), max(8, -(-nbytes // _SPREAD_TASK_BYTES)))


def spread_width(df: DataFrame) -> int:
    """The width :func:`spread_scan` would pick for ``df`` — for SQL
    REPARTITION-hint call sites (mid-statement spreads that cannot go
    through spread_scan). Same sizing (:func:`_sized_width`); full
    cluster width when the input is not a local file scan."""
    nbytes = input_bytes(df)
    if nbytes is None:
        return fanout_width(df.sparkSession)
    return _sized_width(df.sparkSession, nbytes)


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive de-collapse of a scan whose FILE LAYOUT yields
    fewer tasks than the cluster has cores (optimization guide §2.5
    "input skew": one huge unsplittable file → repartition immediately
    after the read).

    The comparison fixtures are single-file single-row-group parquet
    (BASELINE.md caveat), so EVERY scan is one task and everything
    pipelined on top of it — explodes, md5 folds, decimal partial
    aggregates — runs serially no matter the core count. A production
    layout has many splits and gets that parallelism for free; this
    helper only restores it where the layout denies it:

      - the spread fires only in the DEFICIT regime — when the scan's
        estimated split count (on-disk bytes over
        ``spark.sql.files.maxPartitionBytes``, the same quantity the
        scan's file-split math uses) is below the cluster width — so
        a production multi-split layout makes it a no-op;
      - the width is SIZE-AWARE (r15): one task per
        :data:`_SPREAD_TASK_BYTES` of input, floored at 8 and capped
        at the cluster width, so a small input is not fanned into
        sub-useful tasks (the r14 driver's c8/c32 scaling showed full
        cluster width anti-scaling on sub-MB inputs) and the width
        grows with the input until the layout takes over;
      - the re-spread is a deterministic HASH repartition on caller-
        chosen high-cardinality ``keys`` — never round-robin, so no
        sort-before-repartition pass and no SPARK-38388 retry hazard
        (zero keys is therefore a refused call, not a silent
        degradation);
      - a frame with no local file input (checkpointed / in-memory
        lineage, or a non-local URI) is returned untouched: its layout
        is whatever produced it, and measuring it (``.rdd``) would
        finalize an AQE plan and run the upstream shuffle at
        construction time;
      - keyed on the downstream window/groupBy key where one exists,
        the added exchange REPLACES the one EnsureRequirements would
        insert later (same total shuffle count, but it now carries the
        narrow pre-explode rows and everything above it parallelizes).

    Values are partition-independent by the registry's determinism
    rules (per-row math, order-free aggregates), so results are
    bit-identical with and without the spread at any width.
    """
    if not keys:
        raise ValueError(
            "spread_scan requires at least one hash key; keyless "
            "repartition is round-robin (sort-before-repartition cost "
            "and the SPARK-38388 retry hazard this helper avoids)"
        )
    spark = df.sparkSession
    nbytes = input_bytes(df)
    if nbytes is None:
        return df
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if -(-nbytes // max_split) >= fanout_width(spark):
        return df
    return df.repartition(_sized_width(spark, nbytes), *keys)


def get_spark(
    app_name: str = "mcp-rag-server-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession used by every operator.

    Scale notes (100 TB design):
      - AQE on: runtime coalescing of shuffle partitions, skew-join
        splitting, and dynamic join-strategy switching.
      - Arrow on: all pandas_udf boundaries (embedding, PDF extract,
        multimodal decode) move data in columnar batches, not rows.
      - Broadcast threshold raised: dimension tables (region/nation/
        supplier at TPC-H shape) must broadcast, never shuffle.
      - Session timezone pinned to UTC so timestamp semantics are
        engine-independent (parquet NTZ data compares bit-equal against
        the DuckDB oracle).
    """
    cpus = str(cpus or _DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in REQUIRED_RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
