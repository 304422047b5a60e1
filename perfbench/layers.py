"""End-to-end metrics from the timing samples, and per-layer metrics from
the traced run's spans and Spark event log."""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from stats import percentile, tail_percentile
from workloads import ANALYTICS_QUERIES

HASH_DIM = 16
#: Sample kind of each workload's measured operation.
OP_KIND = {"analytics": "analytics_pass", "ingest": "refresh"}
#: Per-kind latencies, reported with the traced run's per-layer metrics.
KIND_METRICS = (
    "refresh_build",
    "rag_after_refresh",
    "read_after_refresh",
    "list_after_refresh",
)


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(bench, workload: str) -> dict:
    ops = bench.samples[OP_KIND[workload]]
    return {
        "setup_s": _m(median(bench.samples["setup"]), "s"),
        "op_p50_s": _m(median(ops), "s"),
    }


def summary(bench) -> dict:
    """Sample count, median and tail percentile of every kind measured."""
    out = {}
    for kind, vals in sorted(bench.samples.items()):
        if vals:
            p, v = tail_percentile(vals)
            out[kind] = {"n": len(vals), "p50": percentile(vals, 50), "tail": [p, v]}
    return out


def jvm_heap_used_mb(spark) -> float:
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


LAYERS = (
    "bench",
    "operators",
    "collect",
    "session",
    "catalog",
    "functions.embedding",
    "functions.vector",
    "functions.ids",
    "functions.text",
    "sources.files",
    "sources.ingest",
    "exec",
)


def _layer(name: str) -> str:
    """The layer a span's self time is charged to."""
    if name == "bench.construct":
        return "operators"
    if name == "bench.collect":
        return "collect"
    if name.startswith("bench."):
        return "bench"
    if name.startswith(("functions.", "sources.")):
        return ".".join(name.split(".")[:2])
    return name.split(".")[0]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Trace:
    """Spans and jobs of one traced run, indexed for the metrics below."""

    def __init__(self, spans: list[dict], events: dict) -> None:
        self.spans = spans
        self.children = defaultdict(list)
        for sp in spans:
            if sp["parent"] is not None:
                self.children[sp["parent"]].append(sp["id"])
        self.jobs = events["jobs"]
        self.jobs_of = defaultdict(list)
        for jid, job in self.jobs.items():
            if job["span"] is not None and job["end"] is not None:
                self.jobs_of[job["span"]].append(jid)
        self.tasks_of = defaultdict(list)
        for t in events["tasks"]:
            self.tasks_of[t["job"]].append(t)

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children[s])
        return out

    def jobs_under(self, sids) -> list[int]:
        return [j for s in sids for j in self.jobs_of[s]]

    def dur(self, sid: int) -> float:
        sp = self.spans[sid]
        return sp["end"] - sp["start"]

    def self_time(self, sid: int) -> float:
        sp = self.spans[sid]
        kids = [(self.spans[c]["start"], self.spans[c]["end"]) for c in self.children[sid]]
        kids += [(self.jobs[j]["start"], self.jobs[j]["end"]) for j in self.jobs_of[sid]]
        clipped = [(max(a, sp["start"]), min(b, sp["end"])) for a, b in kids]
        return self.dur(sid) - _union([c for c in clipped if c[1] > c[0]])

    def job_wall(self, jids) -> float:
        return _union([(self.jobs[j]["start"], self.jobs[j]["end"]) for j in jids])


def per_layer(bench, tracer, events: dict, heap_mb: float, rss_mb: float) -> dict:
    """Per-layer metrics over the measured operations, each per operation
    (per analytics pass or per refresh round) unless it is a ratio.
    A layer the workload does not reach reads 0."""
    tr = Trace(tracer.spans, events)
    lo, hi = bench.window
    roots = [
        sp["id"] for sp in tr.spans
        if sp["parent"] is None and lo <= sp["start"] and sp["end"] <= hi
    ]
    ops = [r for r in roots if tr.spans[r]["name"] in ("bench.analytics_pass", "bench.refresh")]
    n = max(1, len(ops))
    sids = [s for r in ops for s in tr.subtree(r)]

    def named(*names):
        return [s for s in sids if tr.spans[s]["name"] in names]

    def kind(k):
        return [s for s in sids if tr.spans[s].get("kind") == k]

    def total(spans):
        return sum(tr.dur(s) for s in spans)

    def jobs_in(spans):
        return tr.jobs_under({c for s in spans for c in tr.subtree(s)})

    out: dict[str, dict] = {}
    for name in ("session.spread_scan", "catalog.load_table"):
        spans = named(name)
        out[f"{name}.calls"] = _m(len(spans) / n, "count")
        out[f"{name}.s"] = _m(total(spans) / n, "s")
    loads = named("catalog.load_table")
    hits = sum(1 for s in loads if tr.spans[s].get("hit"))
    out["catalog.load_table.hit_ratio"] = _m(hits / max(1, len(loads)), "ratio")

    cons = named("bench.construct")
    out["operators.construct_s"] = _m(total(cons) / n, "s")
    out["operators.construct_jobs"] = _m(len(jobs_in(cons)) / n, "count")
    for name in ANALYTICS_QUERIES:
        out[f"operators.{name}.s"] = _m(median(bench.samples.get(f"q.{name}") or [0.0]), "s")

    collects = named("bench.collect")
    for phase in ("analysis", "optimization", "planning"):
        t = sum(tr.spans[s].get("phases", {}).get(phase, 0.0) for s in collects)
        out[f"catalyst.{phase}_s"] = _m(t / n, "s")

    jobs = tr.jobs_under(sids)
    tasks = [t for j in jobs for t in tr.tasks_of[j]]
    task_s = sum(t["run_s"] for t in tasks)
    job_wall = tr.job_wall(jobs)
    out["exec.jobs"] = _m(len(jobs) / n, "count")
    out["exec.stages"] = _m(len({t["stage"] for t in tasks}) / n, "count")
    out["exec.tasks"] = _m(len(tasks) / n, "count")
    out["exec.task_s"] = _m(task_s / n, "s")
    out["exec.job_wall_s"] = _m(job_wall / n, "s")
    out["exec.scheduler_delay_s"] = _m(sum(t["scheduler_delay_s"] for t in tasks) / n, "s")
    out["exec.parallelism"] = _m(task_s / job_wall if job_wall else 0.0, "ratio")
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"exec.{key}"] = _m(sum(t[key] for t in tasks) / n, "bytes")
    out["exec.gc_s"] = _m(sum(t["gc_s"] for t in tasks) / n, "s")

    transfer = sum(max(0.0, tr.dur(s) - tr.job_wall(jobs_in([s]))) for s in collects)
    out["transfer.s"] = _m(transfer / n, "s")
    out["transfer.rows"] = _m(sum(tr.spans[s].get("rows", 0) for s in collects) / n, "count")

    # The rag job's task time per (chunk x dimension); it includes the
    # embedding UDF, which runs in the same stage.
    rag_tasks = sum(t["run_s"] for j in jobs_in(kind("rag_after_refresh")) for t in tr.tasks_of[j])
    elements = sum(st["rows_written"] for st in bench.refresh_stats) * HASH_DIM
    out["functions.vector.ns_per_element"] = _m(1e9 * rag_tasks / max(1, elements), "ns")
    out["functions.embedding.query_embed_s"] = _m(
        total(named("functions.embedding.query_embed")) / n, "s"
    )
    written = [st["rows_written"] for st in bench.refresh_stats]
    out["functions.embedding.rows"] = _m(median(written) if written else 0.0, "count")

    discover = named("sources.files.discover")
    out["sources.files.discover_s"] = _m(total(discover) / n, "s")
    out["sources.files.listing_jobs"] = _m(len(jobs_in(discover)) / n, "count")
    for name in ("load_store", "update_construct", "write"):
        out[f"sources.ingest.{name}_s"] = _m(total(named(f"sources.ingest.{name}")) / n, "s")
    useful = sum(st["useful_rows"] for st in bench.refresh_stats)
    out["sources.ingest.rows_written"] = _m(sum(written) / n, "count")
    out["sources.ingest.useful_write_ratio"] = _m(useful / max(1, sum(written)), "ratio")
    for op, names in (
        ("read_file", ("operators.fileops.read_file", "operators.fileops.file_texts")),
        ("list_files", ("operators.fileops.list_files", "operators.fileops.file_catalog")),
    ):
        out[f"operators.fileops.{op}.s"] = _m(total(named(*names)) / n, "s")
    for k in KIND_METRICS:
        out[f"op.{k}.p50_s"] = _m(percentile(bench.samples.get(k) or [0.0], 50), "s")

    # Self time per layer; Spark jobs count as the "exec" layer.
    selfs: dict[str, float] = defaultdict(float)
    for s in sids:
        selfs[_layer(tr.spans[s]["name"])] += tr.self_time(s)
    selfs["exec"] += job_wall
    op_wall = total(ops)
    for layer in LAYERS:
        out[f"self.{layer}_s"] = _m(selfs[layer] / n, "s")
    # Share of the operations' wall time charged to a named layer: time no
    # wrapper or Spark job accounts for stays in the benchmark's own spans.
    out["trace.coverage"] = _m(1 - selfs["bench"] / op_wall if op_wall else 0.0, "ratio")
    out["split.exec_share"] = _m(job_wall / max(1e-9, op_wall), "ratio")
    requests = kind("rag_after_refresh") + kind("read_after_refresh") + kind("list_after_refresh")
    req_wall = total(requests)
    out["split.request_non_exec_share"] = _m(
        1 - tr.job_wall(jobs_in(requests)) / req_wall if req_wall else 0.0, "ratio"
    )
    top_sources = [
        s for s in sids
        if tr.spans[s]["name"].startswith("sources.")
        and not tr.spans[tr.spans[s]["parent"]]["name"].startswith("sources.")
    ]
    out["split.sources_share"] = _m(total(top_sources) / max(1e-9, op_wall), "ratio")
    out["jvm.heap_used_mb"] = _m(heap_mb, "MB")
    out["peak_rss_mb"] = _m(rss_mb, "MB")
    out["failed_frac"] = _m(bench.failed / max(1, bench.attempted), "ratio")
    return out
