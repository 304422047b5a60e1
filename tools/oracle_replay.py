"""Replay the registry against its DuckDB oracles under one condition.

Every registered query runs through ``__spark_entry__.queries()`` on a
plain session this tool builds (``local[N]``, N shuffle partitions, UI
off, plus any ``--conf``), so ``ensure_session_confs`` is exercised on a
session the package did not build. Both sides go through pandas and are
compared with tests/test_oracle_parity.py's ``canon_rows`` (sorted
column names plus order-insensitive canonical rows). The left side is
Spark and the right DuckDB, except under --twice and --jitter below.
Each query lands in one class:

    MATCH       both sides ran, identical columns and canonical rows
    MISMATCH    both ran, results differ (the diverging rows are printed
                and kept in the --json dump)
    SPARK_ERR   only the left side raised
    ORACLE_ERR  only the right side raised
    BOTH_ERR    both raised (the documented loud contracts, e.g. the
                cell_probes quartet on the dirty fixture)

The condition is a set of flags:

    --sf DIR | dirty   fixture dir (default sf0.01); ``dirty`` builds
                       tools/dirty_fixture.py's variant of sf0.001
    --cpus N           local[N] and N shuffle partitions (default 8)
    --conf k=v         extra Spark conf, repeatable (e.g. the no-codegen
                       pair spark.sql.codegen.wholeStage=false and
                       spark.sql.codegen.factoryMode=NO_CODEGEN)
    --twice            Spark vs Spark: run each query twice in one
                       session (default: the side-effect modules, whose
                       queries rewrite on-disk corpora); an empty first
                       result counts as SPARK_ERR
    --jitter REPS      DuckDB only: threads=1 (left) vs REPS
                       default-thread draws (right), every draw must
                       equal threads=1; no Spark session
    --json OUT         dump every query's class, row counts, errors and
                       mismatch forensics
    name ...           only these queries (default: all)

Exit 1 on any MISMATCH, SPARK_ERR or ORACLE_ERR (which covers a jitter
flag and a --twice divergence); BOTH_ERR is counted but does not fail.
Do not run two replays of side-effect queries at the same sf at once:
their temp corpora are keyed by the sf dir and would collide.

Usage:
    python tools/oracle_replay.py [--sf DIR|dirty] [--cpus N]
        [--conf k=v ...] [--twice | --jitter REPS] [--json OUT] [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
from collections.abc import Callable

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from conftest import SF0001, SF001  # noqa: E402
from test_oracle_parity import canon_rows  # noqa: E402

from mcp_rag_server_spark.catalog import TABLES  # noqa: E402
from mcp_rag_server_spark.registry import load_all  # noqa: E402

CLASSES = ("MATCH", "MISMATCH", "SPARK_ERR", "ORACLE_ERR", "BOTH_ERR")
FAILING = frozenset({"MISMATCH", "SPARK_ERR", "ORACLE_ERR"})

#: Modules whose queries rebuild an on-disk corpus under the temp dir
#: before reading it; --twice replays these by default.
SIDE_EFFECT_MODULES = (
    "ingest_query",
    "cdc_stream",
    "events_stream",
    "rollup_stream",
    "stateful",
)

#: A result: (sorted column names, canonical rows).
Result = tuple[list[str], list[str]]


def _canon(pdf) -> Result:
    cols = list(pdf.columns)
    rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    return sorted(cols), canon_rows(cols, rows)


def duck_rows(sql: str, sf_dir: str, threads: int | None = None) -> Result:
    """Run ``sql`` on a fresh DuckDB connection with every fixture table
    of ``sf_dir`` as a view; ``threads`` pins DuckDB's thread count."""
    con = duckdb.connect()
    try:
        if threads is not None:
            con.execute(f"SET threads={threads}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        return _canon(con.execute(sql).fetchdf())
    finally:
        con.close()


def build_session(cpus: int, confs: list[str]):
    """A plain session, as an external caller builds it, plus ``k=v``
    confs."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for kv in confs:
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def classify(
    left: Callable[[], Result], right: Callable[[], Result]
) -> dict:
    """Run both sides (left first) and classify the pair; a MISMATCH
    carries the rows only one side produced."""
    out: dict = {"left_err": None, "right_err": None}
    got = []
    for side, fn in (("left", left), ("right", right)):
        try:
            got.append(fn())
        except Exception as e:  # noqa: BLE001 — classify, keep sweeping
            out[f"{side}_err"] = f"{type(e).__name__}: {str(e)[:300]}"
            got.append(None)
    lres, rres = got
    out["left_rows"] = len(lres[1]) if lres is not None else None
    out["right_rows"] = len(rres[1]) if rres is not None else None
    if lres is None and rres is None:
        out["class"] = "BOTH_ERR"
    elif lres is None:
        out["class"] = "SPARK_ERR"
    elif rres is None:
        out["class"] = "ORACLE_ERR"
    elif lres == rres:
        out["class"] = "MATCH"
    else:
        out["class"] = "MISMATCH"
        # Canonical rows are pipe-joined strings in sorted-column
        # order, so a set diff names the exact cells that moved.
        lset, rset = set(lres[1]), set(rres[1])
        out["mismatch_dump"] = {
            "left_columns": lres[0],
            "right_columns": rres[0],
            "left_only": [r for r in lres[1] if r not in rset][:50],
            "right_only": [r for r in rres[1] if r not in lset][:50],
            "left_canon": lres[1][:200],
            "right_canon": rres[1][:200],
        }
    return out


def census(results: dict[str, dict]) -> dict[str, list[str]]:
    by_cls: dict[str, list[str]] = {c: [] for c in CLASSES}
    for name, r in results.items():
        by_cls[r["class"]].append(name)
    return by_cls


def exit_status(results: dict[str, dict]) -> int:
    return 1 if any(r["class"] in FAILING for r in results.values()) else 0


def print_result(name: str, r: dict) -> None:
    dump = r.get("mismatch_dump")
    if dump:
        print(f"  -- MISMATCH {name}: columns {dump['left_columns']}"
              f" vs {dump['right_columns']}")
        for row in dump["left_only"][:6]:
            print(f"     left_only : {row}")
        for row in dump["right_only"][:6]:
            print(f"     right_only: {row}")
    print(f"{r['class']:10s} {name}", flush=True)


def print_census(results: dict[str, dict], label: str) -> None:
    print(f"\n=== census: {label} ===")
    for cls, members in census(results).items():
        print(f"{cls}: {len(members)}")
        if cls != "MATCH":
            for m in members:
                r = results[m]
                detail = r["left_err"] or r["right_err"] or (
                    f"rows {r['left_rows']} vs {r['right_rows']}"
                )
                print(f"  {m}: {detail}")


def _nonempty(res: Result) -> Result:
    if not res[1]:
        raise AssertionError("first run returned no rows to compare")
    return res


def _jitter_sides(sql: str, sf_dir: str, reps: int):
    ref: list[Result] = []

    def threads1() -> Result:
        ref.append(duck_rows(sql, sf_dir, threads=1))
        return ref[0]

    def draws() -> Result:
        """The first draw that differs from threads=1, else the first."""
        runs = [duck_rows(sql, sf_dir) for _ in range(reps)]
        return next((r for r in runs if r not in ref), runs[0])

    return threads1, draws


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ap.add_argument("--sf", default=SF001)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--conf", action="append", default=[])
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--twice", action="store_true")
    mode.add_argument("--jitter", type=int, metavar="REPS")
    ap.add_argument("--json")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args(argv)

    reg = load_all()
    unknown = [n for n in args.names if n not in reg]
    if unknown:
        ap.error(f"not registered: {unknown}")
    if args.jitter is not None and args.jitter < 1:
        ap.error("--jitter needs at least one draw")
    if args.twice:
        names = args.names or [
            n for n, s in reg.items()
            if s.spark_fn.__module__.rsplit(".", 1)[-1] in SIDE_EFFECT_MODULES
        ]
    else:
        names = args.names or list(reg)

    sf_dir = args.sf
    if sf_dir == "dirty":
        from tools.dirty_fixture import build_dirty

        sf_dir = build_dirty(
            SF0001, os.path.join(tempfile.gettempdir(), "spark_graft_dirty_sf")
        )

    import __spark_entry__ as entry

    osql = entry.oracle_sql()
    if args.jitter is not None:
        label = f"jitter threads=1 vs {args.jitter} draws at {sf_dir}"
        pairs = {n: _jitter_sides(osql.get(n), sf_dir, args.jitter)
                 for n in names}
    else:
        spark = build_session(args.cpus, args.conf)
        qs = entry.queries()
        label = (f"{'twice' if args.twice else 'replay'} local[{args.cpus}]"
                 f" {args.conf} at {sf_dir}")

        def run(n: str) -> Result:
            return _canon(qs[n](spark, sf_dir).toPandas())

        if args.twice:
            pairs = {n: (lambda n=n: _nonempty(run(n)), lambda n=n: run(n))
                     for n in names}
        else:
            pairs = {n: (lambda n=n: run(n),
                         lambda n=n: duck_rows(osql[n], sf_dir))
                     for n in names}
    print(label, flush=True)

    results: dict[str, dict] = {}
    for n in names:
        results[n] = classify(*pairs[n])
        print_result(n, results[n])
    print_census(results, label)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
        print(f"wrote {args.json}")
    return exit_status(results)


if __name__ == "__main__":
    raise SystemExit(main())
