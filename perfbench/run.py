"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: ``analytics`` and ``ingest``
(see README.md in this directory). The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics;
with ``--trace 1`` they are the per-layer metrics of a traced run.

The run's files live under ``.perfbench_work/`` in the repository root
and are removed when it ends; a traced run also writes its spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop Spark, end the JVM and wait until it and the Python workers it
    started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    kids, pids, todo = _children(), [], [proc.pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            pids.append(c)
            todo.append(c)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _session(work: str, workload: str, trace: bool):
    from mcp_rag_server_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file:" + os.path.join(work, "events")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app_name=f"perfbench-{workload}", cpus=_cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("analytics", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mcp_rag_server_spark")):
        print(f"perfbench: no mcp_rag_server_spark package in {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the package (with_embedding's UDF), so
    # it goes on their path; temporary files stay inside the work dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # A fixed driver heap, whatever the caller's environment says, so that
    # GC time does not vary with it. The heap in use at the end of a run is
    # under 1.5 GB; 4g, half the package default, keeps the driver small on
    # a machine whose memory is shared.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    sys.path[:0] = [ROOT, HERE]
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    spark = None
    try:
        import layers
        import tracing
        import workloads

        tracer = tracing.Tracer(enabled=bool(args.trace))
        spark = _session(work, args.workload, bool(args.trace))
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        if args.trace:
            tracing.instrument(tracer)
            tracer.sc = spark.sparkContext
        bench = workloads.Bench(spark, tracer, work)
        wall = workloads.run(bench, args.workload, args.seed, args.seconds)
        jvm_heap_mb = layers.jvm_heap_used_mb(spark)
        rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        _stop(spark)
        spark = None
        print(f"perfbench: {args.workload} seed={args.seed} measured {wall:.1f}s")
        print("perfbench: samples " + json.dumps(layers.summary(bench)))
        for failure in bench.failures[:20]:
            print(f"perfbench: FAILED {failure}")
        end_to_end = layers.end_to_end(bench, args.workload)
        if args.trace:
            events = tracing.read_event_log(os.path.join(work, "events"))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
            metrics = layers.per_layer(bench, tracer, events, jvm_heap_mb, rss_mb)
            print("perfbench: end-to-end (traced) " + json.dumps(
                {k: v["value"] for k, v in end_to_end.items()}))
        else:
            metrics = end_to_end
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
