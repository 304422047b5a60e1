"""Table catalog over the driver-provided parquet fixtures.

Tables (TESTDATA.md / FIXTURES.md): TPC-H-ish star schema plus the
RAG-domain tables (documents / embeddings / events). At 100 TB these
would be partitioned external tables; locally they are single parquet
files, so readers below go straight through the DataFrame reader and
rely on Catalyst for column pruning + predicate pushdown.
"""

from __future__ import annotations

import os
import stat
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Tables that stay constant-size regardless of scale factor (TPC-H
#: region/nation are fixed at 5/25 rows) and are therefore always safe to
#: broadcast-hint. customer/supplier/part scale linearly with SF, so their
#: join strategy is left to AQE + autoBroadcastJoinThreshold at runtime.
BROADCAST_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def file_signature(path: str) -> tuple | None:
    """``((path, size, mtime_ns), ...)`` of the data files behind a local
    path or ``file:`` URI: one ``os.stat`` for a file; for a directory
    table, its data files in sorted order, skipping ``_``/``.`` entries
    (``_SUCCESS``, ``.crc`` sidecars) the way Spark's listing does.
    None for a non-local URI or a missing path. Local ``os.stat`` only:
    a Hadoop-FileSystem listing through the JVM gateway costs
    milliseconds per call, and this sits on every :func:`load_table`."""
    if path.startswith("file:"):
        path = unquote(urlparse(path).path)
    elif "://" in path:
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((path, st.st_size, st.st_mtime_ns),)
        out = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if d[0] not in "_."]
            for f in files:
                if f[0] not in "_.":
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    out.append((fp, st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))
    except OSError:
        return None


def input_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the files feeding ``df``'s scans, or None
    when its lineage has no file input or any input is not a local
    file. Pure listing — no Spark job runs."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    sigs = [file_signature(uri) for uri in files]
    if not sigs or None in sigs:
        return None
    return sum(size for sig in sigs for _, size, _ in sig)


@dataclass
class _Table:
    signature: tuple
    relation: DataFrame
    rows: int | None = None


def _resolve(spark: SparkSession, sf_dir: str, name: str):
    """(relation, memo entry or None) for one fixture table."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    sig = file_signature(path)
    memo = getattr(spark, "_graft_tables", None)
    if memo is None:
        memo = spark._graft_tables = {}
    entry = memo.get(path)
    if entry is not None and entry.signature == sig:
        return entry.relation, entry
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    if sig is None:  # non-local / vanished path: fall through uncached
        memo.pop(path, None)
        return df, None
    entry = memo[path] = _Table(sig, df)
    return df, entry


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Column pruning / filter pushdown happen
    automatically because this is a plain parquet scan.

    The resolved relation is memoized PER SESSION, keyed on the table
    path and holding the file signature (:func:`file_signature`):
    ``spark.read.parquet`` pays ~100-160 ms of driver-side work per
    call (directory listing + parquet footer schema read + relation
    resolution — r15 measurement), and the operator suite re-reads the
    same handful of fixtures many times per query construction. This
    is METADATA caching only — the exact thing a catalog table gives
    you in production (guide §6: session file-listing caches exist
    precisely to avoid repeated listings of an unchanged table) —
    every action still scans the parquet bytes; no row, aggregate, or
    query result is ever stored. A table rewritten in place (any data
    file's size or mtime moved, or a file added or removed) misses the
    memo and REPLACES its entry, so the memo holds at most one
    relation per table; it dies with the session object itself.

    Caveats:

    - Invalidation is only as fine as the filesystem's mtime: on a
      filesystem with coarse (e.g. 1 s) timestamps, a same-size
      rewrite within one tick keeps the old signature and is served
      the stale relation.
    - The returned handle is SHARED by every caller in the session.
      Never ``persist()``/``unpersist()`` it — that would turn the
      metadata memo into data caching for everyone; persist a derived
      frame instead.
    """
    return _resolve(spark, sf_dir, name)[0]


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a fixture table: one ``count()`` job per file
    signature, kept on the table's memo entry, so repeated plan builds
    over an unchanged table pay it once and a rewrite pays it again.
    A non-local table is counted on every call."""
    df, entry = _resolve(spark, sf_dir, name)
    if entry is None:
        return df.count()
    if entry.rows is None:
        entry.rows = df.count()
    return entry.rows


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Make ``events.ts`` a session-tz TIMESTAMP regardless of how the
    fixture vintage encoded it. Two encodings exist across driver
    generations:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so the
      session-level nanosAsLong conf (session.REQUIRED_RUNTIME_CONFS)
      reads it as a BIGINT of nanoseconds; truncate to microseconds with
      integer division — exactly what DuckDB does when it narrows
      TIMESTAMP_NS, so both engines see identical event times.
    - TIMESTAMP(MICROS) without UTC-adjustment: Spark infers
      TIMESTAMP_NTZ; cast to TIMESTAMP (session tz is pinned to UTC, so
      the wall-clock value is unchanged and matches DuckDB's naive
      TIMESTAMP read bit-for-bit).
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
