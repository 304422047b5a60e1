"""The two workloads: what each sets up, and the operation it measures.

- ``analytics``: passes over :data:`ANALYTICS_QUERIES` in a seeded order,
  each query constructed and collected. Set-up: open the ten tables
  through the catalog in a fresh session.
- ``ingest``: refresh rounds against a chunk store. Each round edits, adds
  and deletes a seeded ~5% of the corpus, calls ``build`` again, then
  answers the first requests over the refreshed store, as the reference's
  MCP server does for the one agent that waits on it: a rag_query over
  ``with_embedding`` of the refreshed chunks, a read_file and a
  list_files. Set-up: a cold ``build`` of the corpus.

Every answer is checked outside the timed region (see checks.py); a
wrong answer or an exception counts as a failed operation.
"""

from __future__ import annotations

import itertools
import os
import random
import sys
import time
from collections import defaultdict

import pyarrow.parquet as pq

import checks
import corpus
import tables

# Package modules are reached through their module objects, so the
# traced run's wrappers (tracing.instrument) see every call.
from mcp_rag_server_spark import catalog, registry
from mcp_rag_server_spark.functions import embedding
from mcp_rag_server_spark.operators import embed, fileops
from mcp_rag_server_spark.sources import files, ingest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from test_oracle_parity import canon_rows  # noqa: E402

#: Indexable files in the seeded corpus (plus the entries discovery skips).
CORPUS_FILES = 80
#: Analytics tables scale (lineitem ~ 6,000,000 x scale rows).
ANALYTICS_SCALE = 0.05
#: Five of the 37 ``bench=True`` registry queries: an aggregate over a
#: spread scan, a 50k-row result, the Arrow embedding UDF, a dedup with
#: construction-time jobs, and a vector fold. A full 37-query pass takes
#: ~25 s warm on 4 cores at any scale, too long for one benchmark run.
ANALYTICS_QUERIES = (
    "tpch_q1",
    "ev_scd2_intervals",
    "emb_hash_embed",
    "dd_minhash_lsh",
    "sim_ann_topk",
)
REFRESH_FRACTION = 0.05
#: Set-ups per run; ``setup_s`` is their median, which leaves out the cold
#: first one. An analytics set-up takes ~1 s warm, an ingest one ~3.5 s.
SETUP_REPEATS = {"analytics": 5, "ingest": 3}
#: A run measures at least this many operations, even past its seconds, so
#: a slow stretch of the machine still leaves a median of several.
MIN_OPS = {"analytics": 3, "ingest": 2}
#: Only the corpus's two text extensions are indexed. Discovery plans one
#: listing per allowed extension, and on 4 cores a refresh round costs
#: ~2 s more per extension: the default 30-extension list takes ~68 s a
#: round, which does not fit the benchmark's per-run time budget.
PARAMS = ingest.IngestParams(allowed_ext=corpus.EXTS)
CHUNK_COLS = ["rel_path", "chunk", "text", "file_size", "line_count"]


class Bench:
    def __init__(self, spark, tracer, work: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failures: list[str] = []
        self.refresh_stats: list[dict] = []
        self.window = (0.0, 0.0)

    # --- bookkeeping --------------------------------------------------------

    def op(self, kind: str, fn) -> None:
        """Run one checked operation; ``fn`` returns (seconds, error)."""
        self.attempted += 1
        self.tracer.request = self.attempted
        try:
            seconds, error = fn()
        except Exception as e:  # a raised operation is a failed one
            self.failures.append(f"{kind}: {type(e).__name__}: {e}"[:300])
            return
        self.samples[kind].append(seconds)
        if error:
            self.failures.append(f"{kind}: {error}"[:300])

    def timed(self, name: str, fn, **attrs):
        """(result, seconds) of ``fn()`` inside a span."""
        with self.tracer.span(name, **attrs):
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0

    def collect(self, df) -> list:
        with self.tracer.span("bench.collect") as rec:
            rows = df.collect()
            self.tracer.note_action(rec, df, len(rows))
        return rows

    @property
    def failed(self) -> int:
        return len(self.failures)

    # --- analytics ----------------------------------------------------------

    def setup_analytics(self) -> None:
        """A fresh session (its relation memo is empty) with every table
        resolved through the catalog."""
        t0 = time.perf_counter()
        with self.tracer.span("bench.setup"):
            session = self.spark.newSession()
            with self.tracer.span("bench.construct"):
                for name in catalog.TABLES:
                    catalog.load_table(session, self.table_dir, name)
        self.samples["setup"].append(time.perf_counter() - t0)
        self.session = session

    def oracle_rows(self) -> dict[str, list[str]]:
        """Each query's DuckDB oracle answer, canonicalized. For this query
        set, DuckDB's ``fetchall`` and Spark's ``collect`` canonicalize
        alike, so the collected rows are compared with them directly."""
        import duckdb

        con = duckdb.connect()
        for t in catalog.TABLES:
            path = os.path.join(self.table_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in ANALYTICS_QUERIES:
            cur = con.execute(self.registry[name].oracle)
            out[name] = canon_rows([c[0] for c in cur.description], cur.fetchall())
        con.close()
        return out

    def analytics_pass(self) -> None:
        """All queries once, in a seeded order."""
        order = list(ANALYTICS_QUERIES)
        self.rng.shuffle(order)
        results = {}

        def run_pass():
            for name in order:
                spec = self.registry[name]

                def one():
                    with self.tracer.span("bench.construct"):
                        df = spec.spark_fn(self.session, self.table_dir)
                    return df.columns, self.collect(df)

                results[name], seconds = self.timed("bench.query", one, query=name)
                self.samples[f"q.{name}"].append(seconds)

        def op():
            _, seconds = self.timed("bench.analytics_pass", run_pass)
            with self.tracer.span("bench.check"):
                wrong = [
                    name
                    for name, (cols, rows) in results.items()
                    if canon_rows(list(cols), [tuple(r) for r in rows]) != self.oracle[name]
                ]
            return seconds, wrong and f"differs from the DuckDB oracle: {wrong}"

        self.op("analytics_pass", op)

    # --- ingest -------------------------------------------------------------

    def setup_ingest(self, i: int) -> None:
        """A cold ``build`` of the corpus into a fresh store."""
        self.store = os.path.join(self.work, f"store{i}")
        t0 = time.perf_counter()
        with self.tracer.span("bench.setup"):
            with self.tracer.span("bench.construct"):
                ingest.build(self.spark, self.root, self.store, PARAMS)
        self.samples["setup"].append(time.perf_counter() - t0)

    def store_table(self):
        return pq.read_table(os.path.join(self.store, "chunks"))

    def refresh_round(self) -> None:
        """Edit the corpus, refresh the store, then answer the first rag_query,
        read_file and list_files over it. The round is one operation; its
        parts are also sampled on their own."""
        before = {p: os.path.getsize(os.path.join(self.root, p)) for p in self.paths}
        self.paths = corpus.mutate(self.root, self.paths, self.rng, REFRESH_FRACTION)
        changed = [
            p for p in self.paths if before.get(p) != os.path.getsize(os.path.join(self.root, p))
        ]
        parts = [
            ("refresh_build", self.build_request()),
            ("rag_after_refresh", self.rag_request()),
            ("read_after_refresh", self.read_request(self.rng.choice(changed or self.paths))),
            ("list_after_refresh", self.list_request()),
        ]

        def call():
            checks_ = []
            for kind, fn in parts:
                check, seconds = self.timed("bench.request", fn, kind=kind)
                self.samples[kind].append(seconds)
                checks_.append(check)
            return checks_

        def op():
            pending, seconds = self.timed("bench.refresh", call)
            with self.tracer.span("bench.check"):
                table = self.store_table()
                errors = [self.check_store(table, changed)] + [c(table) for c in pending if c]
            return seconds, "; ".join(e for e in errors if e)

        self.op("refresh", op)

    def build_request(self):
        def call():
            with self.tracer.span("bench.construct"):
                self.chunks = ingest.build(self.spark, self.root, self.store, PARAMS)

        return call

    def rag_request(self):
        words = [self.rng.choice(corpus.WORDS) for _ in range(self.rng.randint(2, 5))]
        query, k = " ".join(words), self.rng.choice((3, 5, 10))

        def call():
            with self.tracer.span("bench.construct"):
                df = embed.rag_query_corpus(embedding.with_embedding(self.chunks), query, k=k)
            got = [(r["id"], r["score"], r["snippet"]) for r in self.collect(df)]

            def check(table):
                ids = table.column("id").to_numpy()
                texts = table.column("text").to_pylist()
                expected = checks.rag_topk(ids, checks.hash_embed(texts), query, k)
                error = checks.check_rag([g[:2] for g in got], expected)
                text = dict(zip(ids.tolist(), texts))
                if not error and any(snippet != text[i] for i, _, snippet in got):
                    error = "rag snippet differs from the chunk text"
                return error

            return check

        return call

    def read_request(self, path: str):
        if self.rng.random() < 0.4:
            start = end = None
        else:
            start = self.rng.randint(-2, 40)
            end = self.rng.choice((None, start + self.rng.randint(-3, 60)))

        def call():
            with self.tracer.span("bench.construct"):
                texts = fileops.file_texts(self.chunks, PARAMS.chunk_size, PARAMS.chunk_overlap)
                df = fileops.read_file(texts, path, start, end)
            got = [tuple(r) for r in self.collect(df)]
            return lambda _: checks.check_read(got, checks.read_file(self.root, path, start, end))

        return call

    def list_request(self):
        base = self.rng.choice(("", "src", "src/core", "docs", "lib", "tests"))
        recursive = self.rng.random() < 0.5
        max_depth = self.rng.choice((None, 1, 2)) if recursive else None
        exts = self.rng.choice((None, None, ["md"], [".TXT", "py"]))
        limit = self.rng.choice((500, 500, 20))

        def call():
            with self.tracer.span("bench.construct"):
                listing = files.discover_files(
                    self.spark, self.root, PARAMS.allowed_ext, PARAMS.excluded_folders
                )
                df = fileops.list_files(
                    fileops.file_catalog(listing), base, recursive, max_depth, exts, limit
                )
            got = [tuple(r) for r in self.collect(df)]

            def check(_):
                found = checks.indexable_files(
                    self.root, PARAMS.allowed_ext, PARAMS.excluded_folders
                )
                expected = checks.list_files(found, base, recursive, max_depth, exts, limit)
                return checks.check_list(got, expected)

            return check

        return call

    def check_store(self, table, changed: list[str]) -> str | None:
        """The refreshed store holds exactly the corpus's chunks, with
        unique ids; also record how much of the rewrite was useful."""
        stored = sorted(zip(*(table.column(c).to_pylist() for c in CHUNK_COLS)))
        now = checks.indexable_files(self.root, PARAMS.allowed_ext, PARAMS.excluded_folders)
        expected = checks.chunk_rows(self.root, now)
        changed_set = set(changed)
        self.refresh_stats.append(
            {
                "rows_written": table.num_rows,
                "useful_rows": sum(1 for r in expected if r[0] in changed_set),
            }
        )
        ids = table.column("id").to_pylist()
        if len(set(ids)) != len(ids):
            return "refreshed store has duplicate ids"
        if stored != expected:
            return "refreshed store differs from the corpus"
        return None

    def final_store_check(self) -> None:
        """After the last refresh the store equals a cold build of the
        final tree (as a multiset of chunk rows)."""
        with self.tracer.span("bench.check"):
            cold = ingest.cold_build(self.spark, self.root, PARAMS)
            want = sorted(tuple(r) for r in cold.select(*CHUNK_COLS).collect())
            table = self.store_table()
            have = sorted(zip(*(table.column(c).to_pylist() for c in CHUNK_COLS)))
        self.attempted += 1
        if have != want:
            self.failures.append("ingest: final store differs from a cold build")


def _progress(t0: float, what: str) -> None:
    print(f"perfbench: {time.perf_counter() - t0:6.1f}s {what}", flush=True)


def run(bench: Bench, workload: str, seed: int, seconds: float) -> float:
    """Set up several times, warm up, then run the workload's operation in
    a closed loop for ``seconds``; return the measured wall time."""
    start = time.perf_counter()
    bench.rng = random.Random(seed)
    if workload == "analytics":
        bench.registry = registry.load_all()
        bench.table_dir = os.path.join(bench.work, "tables")
        tables.generate(bench.table_dir, seed, ANALYTICS_SCALE)
        bench.oracle = bench.oracle_rows()
        _progress(start, "inputs generated")
        for _ in range(SETUP_REPEATS[workload]):
            bench.setup_analytics()
        step = bench.analytics_pass
    else:
        bench.root = os.path.join(bench.work, "corpus")
        bench.paths = corpus.generate(bench.root, seed, CORPUS_FILES)
        _progress(start, "inputs generated")
        for i in range(SETUP_REPEATS[workload]):
            bench.setup_ingest(i)
        step = bench.refresh_round
    _progress(start, "set up in " + " ".join(f"{t:.3f}" for t in bench.samples["setup"]))
    # One unmeasured operation first: it is the first run of most code
    # paths (every analytics query; on ingest the incremental update, the
    # embedding UDF and the three requests, as set-up only cold-builds).
    step()
    for kind in list(bench.samples):
        if kind != "setup":
            bench.samples[kind].clear()
    bench.refresh_stats.clear()
    _progress(start, "warmed up")
    t0 = time.time()
    deadline = time.perf_counter() + seconds
    for n in itertools.count():
        if n >= MIN_OPS[workload] and time.perf_counter() >= deadline:
            break
        step()
    bench.window = (t0, time.time())
    _progress(start, "measured")
    if workload == "ingest":
        bench.final_store_check()
        _progress(start, "final store checked")
    return bench.window[1] - bench.window[0]
