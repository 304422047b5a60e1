"""Pins of tools/oracle_replay.py: its classifier and exit status
(Spark-free), and one real replay in a fresh local[3] process.

A replay that cannot fail is no gate: every failing class (MISMATCH,
SPARK_ERR, ORACLE_ERR — which is also how a jitter flag and a --twice
divergence land) must make the tool exit 1, while BOTH_ERR (the
documented loud contracts) is counted and exits 0.
"""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from tools import oracle_replay
from tools.oracle_replay import classify, census, exit_status

from conftest import SF0001


def _rows(*rows):
    return lambda: (["a", "b"], sorted(rows))


def _raise(msg):
    def fn():
        raise RuntimeError(msg)

    return fn


def test_classify_match():
    r = classify(_rows("i:1|s:x", "i:2|s:y"), _rows("i:2|s:y", "i:1|s:x"))
    assert r["class"] == "MATCH"
    assert (r["left_rows"], r["right_rows"]) == (2, 2)
    assert "mismatch_dump" not in r


def test_classify_fabricated_mismatch_carries_forensics():
    r = classify(_rows("i:1|s:x", "i:2|s:y"), _rows("i:1|s:x", "i:3|s:y"))
    assert r["class"] == "MISMATCH"
    dump = r["mismatch_dump"]
    assert dump["left_only"] == ["i:2|s:y"]
    assert dump["right_only"] == ["i:3|s:y"]
    assert dump["left_columns"] == dump["right_columns"] == ["a", "b"]


def test_classify_column_difference_is_a_mismatch():
    r = classify(_rows("i:1"), lambda: (["a", "c"], ["i:1"]))
    assert r["class"] == "MISMATCH"
    assert r["mismatch_dump"]["left_only"] == []


@pytest.mark.parametrize(
    "left, right, cls",
    [
        (_raise("spark boom"), _rows("i:1"), "SPARK_ERR"),
        (_rows("i:1"), _raise("oracle boom"), "ORACLE_ERR"),
        (_raise("spark boom"), _raise("oracle boom"), "BOTH_ERR"),
    ],
    ids=["spark_err", "oracle_err", "both_err"],
)
def test_classify_errors(left, right, cls):
    r = classify(left, right)
    assert r["class"] == cls
    errs = (r["left_err"], r["right_err"])
    assert [e is not None for e in errs] == [
        cls in ("SPARK_ERR", "BOTH_ERR"),
        cls in ("ORACLE_ERR", "BOTH_ERR"),
    ]
    assert all("RuntimeError" in e for e in errs if e)


def test_exit_status():
    ok = {"m": {"class": "MATCH"}, "loud": {"class": "BOTH_ERR"}}
    assert exit_status(ok) == 0
    assert census(ok)["BOTH_ERR"] == ["loud"]
    for cls in ("MISMATCH", "SPARK_ERR", "ORACLE_ERR"):
        assert exit_status({**ok, "bad": {"class": cls}}) == 1, cls


def test_main_exits_1_on_a_jitter_flag(monkeypatch, tmp_path):
    """End to end through main() in --jitter mode (DuckDB only): a
    default-thread draw that differs from threads=1 fails the run."""
    draws = iter([(["a"], ["i:1"]), (["a"], ["i:2"])])

    def fake(sql, sf_dir, threads=None):
        return (["a"], ["i:1"]) if threads == 1 else next(draws)

    monkeypatch.setattr(oracle_replay, "duck_rows", fake)
    out = tmp_path / "r.json"
    rc = oracle_replay.main(
        ["--jitter", "2", "--json", str(out), "tpch_q6"]
    )
    assert rc == 1
    assert json.loads(out.read_text())["tpch_q6"]["class"] == "MISMATCH"

    monkeypatch.setattr(
        oracle_replay, "duck_rows", lambda sql, sf, threads=None: (["a"], [])
    )
    assert oracle_replay.main(["--jitter", "2", "tpch_q6"]) == 0


def test_replay_on_three_cores():
    """The odd-layout modality end to end, in its own local[3] process
    (one SparkContext per process). ingest_compacted's store is smaller
    on fewer cores, and its former fixed 96 KB compaction target left
    one file there, which the query refuses."""
    r = subprocess.run(
        [sys.executable, oracle_replay.__file__, "--cpus", "3", "--sf", SF0001,
         "ingest_compacted", "tpch_q6"],
        capture_output=True, text=True, timeout=900,
    )
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
    assert "MATCH: 2" in r.stdout
