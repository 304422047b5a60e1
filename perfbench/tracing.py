"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark process only: around the calls the
benchmark makes, and around the package's public functions, which
:func:`instrument` wraps in place. Nothing in the package is edited.
Spans stay in memory and are written out when the run ends.

Stage and task metrics come from Spark's event log, written to a local
``file:`` directory and read back after the session stops. Every Spark
job carries the id of the innermost open span in a local property, so a
job is charged to the span that started it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """In-memory span recorder. Disabled, every method is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.request = None
        self.sc = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "request": self.request,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self._tag(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self._tag(self.stack[-1] if self.stack else None)

    def note_action(self, rec, df, rows: int) -> None:
        """Attach Catalyst phase times and the row count to a collect span."""
        if self.enabled:
            rec["rows"] = rows
            rec["phases"] = catalyst_phases(df)

    def _tag(self, sid) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, None if sid is None else str(sid))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def _wrap(tracer: Tracer, name: str, fn, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            out = fn(*args, **kwargs)
        if after is not None:
            after(rec, args, out)
        return out

    return wrapper


def _rebind(module, attr: str, wrapper) -> None:
    """Replace ``module.attr`` and every other module's import of it.

    Operators bind names such as ``load_table`` at import time, so
    patching the defining module alone would miss their calls."""
    orig = getattr(module, attr)
    for m in list(sys.modules.values()):
        if getattr(m, attr, None) is orig:
            setattr(m, attr, wrapper)


#: (module, attribute, span name) of every public function wrapped.
WRAPPED = (
    ("mcp_rag_server_spark.session", "spread_scan", "session.spread_scan"),
    ("mcp_rag_server_spark.session", "spread_width", "session.spread_scan"),
    ("mcp_rag_server_spark.catalog", "load_table", "catalog.load_table"),
    ("mcp_rag_server_spark.functions.embedding", "with_embedding", "functions.embedding.with_embedding"),
    ("mcp_rag_server_spark.functions.embedding", "hash_embed_query_vec", "functions.embedding.query_embed"),
    ("mcp_rag_server_spark.functions.vector", "cosine_score", "functions.vector.cosine_score"),
    ("mcp_rag_server_spark.functions.ids", "dense_chunk_ids", "functions.ids.dense_chunk_ids"),
    ("mcp_rag_server_spark.functions.text", "chunk_array", "functions.text.chunk_array"),
    ("mcp_rag_server_spark.sources.files", "discover_files", "sources.files.discover"),
    ("mcp_rag_server_spark.sources.files", "decode_text", "sources.files.decode_text"),
    ("mcp_rag_server_spark.sources.ingest", "build", "sources.ingest.build"),
    ("mcp_rag_server_spark.sources.ingest", "load_store", "sources.ingest.load_store"),
    ("mcp_rag_server_spark.sources.ingest", "cold_build", "sources.ingest.cold_construct"),
    ("mcp_rag_server_spark.sources.ingest", "incremental_update", "sources.ingest.update_construct"),
    ("mcp_rag_server_spark.sources.ingest", "save_store", "sources.ingest.write"),
    ("mcp_rag_server_spark.operators.embed", "rag_query_corpus", "operators.embed.rag_query_corpus"),
    ("mcp_rag_server_spark.operators.fileops", "read_file", "operators.fileops.read_file"),
    ("mcp_rag_server_spark.operators.fileops", "list_files", "operators.fileops.list_files"),
    ("mcp_rag_server_spark.operators.fileops", "file_catalog", "operators.fileops.file_catalog"),
    ("mcp_rag_server_spark.operators.fileops", "file_texts", "operators.fileops.file_texts"),
)


def instrument(tracer: Tracer) -> None:
    """Wrap the package's public functions (and the parquet writer the
    refresh path calls inline) with spans."""
    import importlib

    from pyspark.sql.readwriter import DataFrameWriter

    last: dict = {}

    def catalog_hit(rec, args, out):
        # A hit: the same object as last time for the same table path.
        key = tuple(args[1:3])
        rec["hit"] = last.get(key) is out
        last[key] = out

    for mod_name, attr, span in WRAPPED:
        mod = importlib.import_module(mod_name)
        after = catalog_hit if attr == "load_table" else None
        _rebind(mod, attr, _wrap(tracer, span, getattr(mod, attr), after))

    parquet = DataFrameWriter.parquet

    @functools.wraps(parquet)
    def traced_parquet(self, *args, **kwargs):
        inside_build = any(
            tracer.spans[s]["name"] == "sources.ingest.build" for s in tracer.stack
        )
        if not inside_build or any(
            tracer.spans[s]["name"] == "sources.ingest.write" for s in tracer.stack
        ):
            return parquet(self, *args, **kwargs)
        with tracer.span("sources.ingest.write"):
            return parquet(self, *args, **kwargs)

    DataFrameWriter.parquet = traced_parquet


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) of the last action on ``df``."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


# --- event log --------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the event log files under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    span = props.get(SPAN_PROPERTY)
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "span": int(span) if span is not None else None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                    for s in ev.get("Stage IDs", []):
                        stage_job[s] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    duration = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    run = m.get("Executor Run Time", 0) / 1000.0
                    overhead = (
                        m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                    ) / 1000.0 + info.get("Getting Result Time", 0) / 1000.0
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "run_s": run,
                            "scheduler_delay_s": max(0.0, duration - run - overhead),
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "records_written": (m.get("Output Metrics") or {}).get(
                                "Records Written", 0
                            ),
                        }
                    )
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks}
