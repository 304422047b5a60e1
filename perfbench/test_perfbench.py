"""Self-tests for the benchmark's generators, answer checks and statistics.

    python3 -m pytest perfbench -q -p no:cacheprovider

None of these start Spark.
"""

from __future__ import annotations

import os
import random
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import corpus  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

ALLOWED = corpus.EXTS
EXCLUDED = ("node_modules", ".cache")


def _tree(root) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def test_corpus_is_deterministic_per_seed(tmp_path):
    a = corpus.generate(str(tmp_path / "a"), 7, 30)
    b = corpus.generate(str(tmp_path / "b"), 7, 30)
    c = corpus.generate(str(tmp_path / "c"), 8, 30)
    assert a == b
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    assert _tree(tmp_path / "a") != _tree(tmp_path / "c")
    # Mutation is deterministic too, given the same random state.
    pa = corpus.mutate(str(tmp_path / "a"), a, random.Random(1), 0.1)
    pb = corpus.mutate(str(tmp_path / "b"), b, random.Random(1), 0.1)
    assert pa == pb and _tree(tmp_path / "a") == _tree(tmp_path / "b")


def test_corpus_has_the_entries_discovery_skips(tmp_path):
    paths = corpus.generate(str(tmp_path), 3, 40)
    found = checks.indexable_files(str(tmp_path), ALLOWED, EXCLUDED)
    assert sorted(found) == paths
    everything = _tree(tmp_path)
    assert "node_modules/pkg/index.ts" in everything
    assert ".env.md" in everything and "docs/empty.md" in everything
    assert any(p.endswith((".bin", ".py")) for p in everything)
    # Many files span more than one 800-char chunk.
    assert sum(size > 800 for size in found.values()) >= 5


def test_mutation_changes_the_size_of_every_edited_file(tmp_path):
    paths = corpus.generate(str(tmp_path), 5, 60)
    sizes = checks.indexable_files(str(tmp_path), ALLOWED, EXCLUDED)
    new = corpus.mutate(str(tmp_path), paths, random.Random(2), 0.05)
    after = checks.indexable_files(str(tmp_path), ALLOWED, EXCLUDED)
    assert sorted(after) == new
    kept = set(paths) & set(new)
    edited = [p for p in kept if after[p] != sizes[p]]
    assert len(edited) >= 1
    assert len(set(paths) - set(new)) == 3 and len(set(new) - set(paths)) == 3


def test_tables_are_deterministic_per_seed(tmp_path):
    rows = tables.generate(str(tmp_path / "a"), 4, 0.001)
    tables.generate(str(tmp_path / "b"), 4, 0.001)
    tables.generate(str(tmp_path / "c"), 5, 0.001)
    assert rows["lineitem"] == 6000 and rows["region"] == 5
    for name in rows:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        assert ta.equals(tb), name
    tc = pq.read_table(tmp_path / "c" / "lineitem.parquet")
    assert not tc.equals(pq.read_table(tmp_path / "a" / "lineitem.parquet"))


def test_rag_check_rejects_a_swapped_row():
    texts = ["spark vector chunk", "vector index", "store refresh", "spark spark", "line"]
    ids = np.arange(len(texts))
    expected = checks.rag_topk(ids, checks.hash_embed(texts), "spark vector", 3)
    assert checks.check_rag(list(expected), expected) is None
    swapped = [expected[1], expected[0], expected[2]]
    assert checks.check_rag(swapped, expected) is not None
    # Ties on the rounded score are broken by ascending id.
    scores = [s for _, s in expected]
    assert scores == sorted(scores, reverse=True)


def test_round4_is_half_up_on_the_decimal_form():
    assert checks.round4(0.12345) == 0.1235
    assert checks.round4(0.00005) == 0.0001
    assert checks.round4(-0.12345) == -0.1235


def test_read_check_rejects_an_off_by_one_range(tmp_path):
    (tmp_path / "f.md").write_text("l1\nl2\nl3\nl4\n")
    right = checks.read_file(str(tmp_path), "f.md", 2, 3)
    assert right == ("f.md", "l2\nl3", 5)
    assert checks.check_read([right], right) is None
    off = checks.read_file(str(tmp_path), "f.md", 3, 4)
    assert checks.check_read([off], right) is not None
    # Clamped and inverted ranges follow the reference.
    assert checks.read_file(str(tmp_path), "f.md", -2, 1)[1] == "l1"
    assert checks.read_file(str(tmp_path), "f.md", 3, 2)[1] == ""


def test_list_check_rejects_a_missing_entry():
    files = {"a.md": 3, "src/b.txt": 4, "src/core/c.md": 5}
    top = checks.list_files(files, "", False)
    assert top == [("src", "dir", None), ("a.md", "file", 3)]
    assert checks.check_list(top, top) is None
    assert checks.check_list(top[1:], top) is not None
    deep = checks.list_files(files, "src", True, None, ["MD"])
    assert deep == [("src/core/c.md", "file", 5)]


def test_percentile_reports_the_highest_with_ten_beyond():
    values = [float(i) for i in range(1, 101)]
    assert stats.percentile(values, 50) == 50.0
    assert stats.tail_percentile(values) == (90, 90.0)
    assert stats.tail_percentile([float(i) for i in range(1000)]) == (99, 989.0)
    assert stats.tail_percentile([1.0] * 11)[0] is None
    assert stats.tail_percentile([float(i) for i in range(20)]) == (50, 9.0)


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q", "-p", "no:cacheprovider"]))
