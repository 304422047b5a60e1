"""Corpus ingest pipeline tests: discovery (S1), decode (S2/S3), chunk
build parity with the reference's splitChunks, store compat (S5/S6),
incremental refresh delta semantics (J1/J2), and the read_file /
list_files query surface.

The expected values come from a pure-Python re-implementation of the
reference algorithms (src/indexer.ts:201-215 splitChunks;
src/indexer.ts:413-511 delta rules), evaluated driver-side on the same
corpus — an in-test oracle, same pattern as the DuckDB oracle for the
fixture queries.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from mcp_rag_server_spark.operators.fileops import (
    file_catalog,
    file_texts,
    list_files,
    read_file,
)
from mcp_rag_server_spark.plans.inspect import tree_section
from mcp_rag_server_spark.sources.files import (
    DEFAULT_ALLOWED_EXT,
    discover_files,
    ensure_within_root,
    normalize_rel_path,
)
from mcp_rag_server_spark.sources.ingest import (
    IngestParams,
    build,
    cold_build,
    incremental_update,
    load_store,
    save_store,
)


def ref_split_chunks(text: str, size: int = 800, overlap: int = 120) -> list[str]:
    """Reference splitChunks (src/indexer.ts:201-215), verbatim logic."""
    out, i = [], 0
    while i < len(text):
        out.append(text[i : i + size])
        i += max(1, size - overlap)
    return out


CORPUS = {
    "readme.md": "# Title\n" + "lorem ipsum dolor sit amet " * 40,
    "src/main.py": "def main():\n" + "\n".join(f"    x{i} = {i}" for i in range(50)),
    "src/util/helpers.py": "helper " * 10,
    "notes.txt": "line1\r\nline2\r\nline3\nline4",
    "data/config.yaml": "key: value\n" * 30,
    # Excluded by folder rules (src/config.ts:92-104):
    "node_modules/pkg/index.js": "should be excluded",
    "dist/bundle.js": "excluded too",
    # Dotdir / dotfile (fast-glob dot:false):
    ".git/objects/x.txt": "excluded",
    ".hidden.md": "excluded dotfile",
    # Extension not in the allow-list:
    "image.bin": "not allowed ext",
}

TEST_EXTS = ("md", "py", "txt", "yaml", "js", "pdf")
PARAMS = IngestParams(chunk_size=120, chunk_overlap=30, allowed_ext=TEST_EXTS)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("corpus")
    for rel, text in CORPUS.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text, encoding="utf-8")
    (root / "empty.txt").write_text("")  # size-0 skip (indexer.ts:374)
    return str(root)


def expected_files() -> dict[str, str]:
    return {
        rel: text
        for rel, text in CORPUS.items()
        if not any(
            seg.startswith(".") or seg in ("node_modules", "dist")
            for seg in rel.split("/")
        )
        and rel.rsplit(".", 1)[-1] in ("md", "py", "txt", "yaml")
    }


def test_discovery_filters(spark, corpus_dir):
    got = {
        r["rel_path"]: r["file_size"]
        for r in discover_files(spark, corpus_dir, allowed_ext=TEST_EXTS).collect()
    }
    exp = {
        rel: len(text.encode()) for rel, text in expected_files().items()
    }
    assert got == exp


def test_discovery_is_one_globbed_scan(spark, tmp_path):
    """The whole allow-list is one ``binaryFile`` scan, and it lists the
    same rows as a union of one scan per distinct extension — overlapping
    extensions (ts/tsx, yml/yaml), a duplicated extension and case
    included."""
    names = [
        "a.ts", "b.tsx", "c.yml", "d.yaml", "e.md", "f.py", "g.txt",
        "h.TS", "sub/i.ts", "sub/j.tsx.bak", "k.json", "l.pdf",
    ]
    for name in names:
        p = tmp_path / name
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text("x" * (len(name) + 1))
    root = str(tmp_path)

    def rows(exts):
        return sorted(map(tuple, discover_files(spark, root, allowed_ext=exts).collect()))

    def union(exts):
        return sorted(row for ext in dict.fromkeys(exts) for row in rows((ext,)))

    six = ("ts", "tsx", "yml", "yaml", "md", "py")
    for exts in (("md",), six, DEFAULT_ALLOWED_EXT):
        plan = tree_section(discover_files(spark, root, allowed_ext=exts))
        assert plan.count("Scan binaryFile") == 1, plan
    assert rows(six) == union(six)
    assert rows(DEFAULT_ALLOWED_EXT) == union(DEFAULT_ALLOWED_EXT)
    assert [r[0] for r in rows(("md", "py", "md"))] == ["e.md", "f.py"]
    assert rows(("md", "py", "md")) == union(("md", "py", "md"))
    assert [r[0] for r in rows(("ts",))] == ["a.ts", "sub/i.ts"]


def test_cold_build_matches_reference_chunker(spark, corpus_dir):
    chunks = cold_build(spark, corpus_dir, PARAMS).collect()
    by_path: dict[str, list] = {}
    for r in chunks:
        by_path.setdefault(r["rel_path"], []).append(r)
    exp = expected_files()
    assert set(by_path) == set(exp)
    for rel, text in exp.items():
        rows = sorted(by_path[rel], key=lambda r: r["chunk"])
        assert [r["text"] for r in rows] == ref_split_chunks(
            text, PARAMS.chunk_size, PARAMS.chunk_overlap
        )
        assert [r["chunk"] for r in rows] == list(range(len(rows)))
        assert all(r["file_size"] == len(text.encode()) for r in rows)
        # line_count = split(/\r?\n/).length (indexer.ts:272)
        assert all(
            r["line_count"] == len(text.replace("\r\n", "\n").split("\n"))
            for r in rows
        )
    # Deterministic dense ids ordered by (rel_path, chunk).
    ordered = sorted(chunks, key=lambda r: (r["rel_path"], r["chunk"]))
    assert [r["id"] for r in ordered] == list(range(len(chunks)))


def test_store_roundtrip_and_meta_compat(spark, corpus_dir, tmp_path):
    store = str(tmp_path / "store")
    chunks = cold_build(spark, corpus_dir, PARAMS)
    save_store(chunks, store, PARAMS)
    loaded = load_store(spark, store, PARAMS)
    assert loaded is not None and loaded.count() == chunks.count()
    # Param mismatch → None → cold rebuild (persistence.ts:91-100).
    assert load_store(spark, store, IngestParams(chunk_size=999)) is None
    meta = json.load(open(os.path.join(store, "_meta.json")))
    assert meta["version"] == 1 and meta["chunk_size"] == 120


def mutate_corpus(root: str) -> None:
    # size-change edit (caught by the size heuristic, indexer.ts:453-454)
    with open(os.path.join(root, "notes.txt"), "w") as f:
        f.write("completely new notes content, much longer than before!")
    # same-size edit (MISSED by the reference heuristic, indexer.ts:410-411)
    helpers = os.path.join(root, "src/util/helpers.py")
    old = open(helpers).read()
    with open(helpers, "w") as f:
        f.write("HELPER " * 10 if old.startswith("helper") else "helper " * 10)
    # new file
    with open(os.path.join(root, "added.md"), "w") as f:
        f.write("brand new file " * 20)
    # deleted file
    os.remove(os.path.join(root, "data/config.yaml"))


def test_incremental_update_delta_semantics(spark, corpus_dir, tmp_path):
    root = str(tmp_path / "inc")
    import shutil

    shutil.copytree(corpus_dir, root)
    # Decouple `old` from corpus lineage (in real use it comes from the
    # parquet store, see build()): a rescan of the mutated root would
    # otherwise recompute it against deleted files.
    built = cold_build(spark, root, PARAMS)
    old_rows = built.collect()
    old = spark.createDataFrame(old_rows, built.schema)
    mutate_corpus(root)
    new = incremental_update(spark, old, root, PARAMS).collect()
    by_path: dict[str, list] = {}
    for r in new:
        by_path.setdefault(r["rel_path"], []).append(r)

    # J1: deleted file's chunks gone.
    assert "data/config.yaml" not in by_path
    # J2: new + size-changed files re-ingested with reference chunking.
    new_text = open(os.path.join(root, "notes.txt")).read()
    assert [
        r["text"] for r in sorted(by_path["notes.txt"], key=lambda r: r["chunk"])
    ] == ref_split_chunks(new_text, PARAMS.chunk_size, PARAMS.chunk_overlap)
    assert "added.md" in by_path
    # Same-size edit missed (documented reference limitation).
    old_helper = [r for r in old_rows if r["rel_path"] == "src/util/helpers.py"]
    got_helper = by_path["src/util/helpers.py"]
    assert sorted(r["text"] for r in got_helper) == sorted(
        r["text"] for r in old_helper
    )
    # Unchanged files keep their ids; new ids continue past max(old id).
    old_ids = {(r["rel_path"], r["chunk"]): r["id"] for r in old_rows}
    max_old = max(r["id"] for r in old_rows)
    for r in new:
        if r["rel_path"] in ("readme.md", "src/main.py", "src/util/helpers.py"):
            assert r["id"] == old_ids[(r["rel_path"], r["chunk"])]
        if r["rel_path"] in ("added.md", "notes.txt"):
            assert r["id"] > max_old


def test_content_hash_catches_same_size_edit(spark, corpus_dir, tmp_path):
    root = str(tmp_path / "inc_hash")
    import shutil

    shutil.copytree(corpus_dir, root)
    params = IngestParams(
        chunk_size=120, chunk_overlap=30, content_hash=True
    )
    built = cold_build(spark, root, params)
    old = spark.createDataFrame(built.collect(), built.schema)
    mutate_corpus(root)
    new = incremental_update(spark, old, root, params).collect()
    helper = [r for r in new if r["rel_path"] == "src/util/helpers.py"]
    text = "".join(
        r["text"] if r["chunk"] == 0 else r["text"][30:]
        for r in sorted(helper, key=lambda r: r["chunk"])
    )
    assert text == open(os.path.join(root, "src/util/helpers.py")).read()


def test_build_warm_path_end_to_end(spark, corpus_dir, tmp_path):
    root = str(tmp_path / "warm")
    store = str(tmp_path / "warm_store")
    import shutil

    shutil.copytree(corpus_dir, root)
    first = build(spark, root, store, PARAMS)
    first_paths = {r["rel_path"] for r in first.select("rel_path").distinct().collect()}
    assert "data/config.yaml" in first_paths
    mutate_corpus(root)
    second = build(spark, root, store, PARAMS)
    paths = {r["rel_path"] for r in second.select("rel_path").distinct().collect()}
    assert "data/config.yaml" not in paths and "added.md" in paths


def test_pdf_plumbing_with_injected_extractor(spark, tmp_path):
    root = tmp_path / "pdfs"
    root.mkdir()
    (root / "doc.pdf").write_bytes(b"%PDF-fake nonsense bytes here")
    (root / "plain.txt").write_text("plain text")

    def fake_extractor(blobs: pd.Series) -> pd.Series:
        return blobs.map(lambda b: f"PDFTEXT({len(b)} bytes)")

    chunks = cold_build(
        spark, str(root), PARAMS, pdf_extractor=fake_extractor
    ).collect()
    by_path = {r["rel_path"]: r for r in chunks}
    assert by_path["doc.pdf"]["text"] == "PDFTEXT(29 bytes)"
    assert by_path["plain.txt"]["text"] == "plain text"


def test_cold_build_without_pdf_ext_plans_no_python(spark, corpus_dir):
    """An allow-list that cannot admit a ``.pdf`` file plans no PDF
    extractor branch, so the cold build starts no Python worker."""
    md_only = IngestParams(chunk_size=120, chunk_overlap=30, allowed_ext=("md",))
    plan = tree_section(cold_build(spark, corpus_dir, md_only))
    assert "MapInPandas" not in plan and "Python" not in plan, plan
    assert "MapInPandas" in tree_section(cold_build(spark, corpus_dir, PARAMS))


def _store_files(store: str) -> dict[str, int]:
    data_dir = os.path.join(store, "chunks")
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(data_dir)
        for f in fs
    }


def test_no_change_refresh_writes_nothing(spark, corpus_dir, tmp_path):
    import shutil

    root = str(tmp_path / "same")
    store = str(tmp_path / "same_store")
    shutil.copytree(corpus_dir, root)
    first = sorted(map(tuple, build(spark, root, store, PARAMS).collect()))
    before = _store_files(store)
    second = sorted(map(tuple, build(spark, root, store, PARAMS).collect()))
    assert _store_files(store) == before
    assert second == first


def _logging_extractor(log_path: str):
    """A PDF extractor that appends every blob it is handed to a log."""

    def extract(blobs: pd.Series) -> pd.Series:
        with open(log_path, "a", encoding="utf-8") as log:
            for b in blobs:
                log.write(bytes(b).decode() + "\n")
        return blobs.map(lambda b: "TEXT " + bytes(b).decode())

    return extract


def test_refresh_extracts_only_the_delta(spark, tmp_path):
    """After editing one of N PDFs, the refresh hands only that file's
    body to the extractor — no other body is read. (The write plans the
    delta texts twice, for the id offsets and for the chunk rows, so the
    one body may be extracted more than once.)"""
    root = tmp_path / "pdfs"
    root.mkdir()
    n = 5
    for i in range(n):
        (root / f"doc{i}.pdf").write_bytes(f"%PDF doc {i}".encode())
    log = tmp_path / "extracted.log"
    extractor = _logging_extractor(str(log))
    store = str(tmp_path / "pdf_store")
    build(spark, str(root), store, PARAMS, pdf_extractor=extractor)
    assert sorted(set(log.read_text().splitlines())) == [
        f"%PDF doc {i}" for i in range(n)
    ]

    log.write_text("")
    (root / "doc2.pdf").write_bytes(b"%PDF doc 2, edited")
    out = build(spark, str(root), store, PARAMS, pdf_extractor=extractor)
    assert set(log.read_text().splitlines()) == {"%PDF doc 2, edited"}
    texts = {r["rel_path"]: r["text"] for r in out.collect()}
    assert texts == {
        f"doc{i}.pdf": "TEXT %PDF doc " + ("2, edited" if i == 2 else str(i))
        for i in range(n)
    }


def test_refresh_with_odd_file_names(spark, tmp_path):
    """Names holding glob metacharacters, ``:``, ``%20``, ``#``, ``,`` and
    spaces survive listing → delta → body read: edit one, add one,
    delete one, and the refreshed store equals a cold build."""
    root = tmp_path / "odd"
    names = [
        "a[1].md", "b{x,y}.md", "c*.md", "d?.md", "e:f.md", "g%20h.md",
        "i j.md", "k#l.md", "sub dir/[z].md",
    ]
    for name in names:
        p = root / name
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(f"body of {name}\n" * 3)
    store = str(tmp_path / "odd_store")
    build(spark, str(root), store, PARAMS)

    (root / "b{x,y}.md").write_text("edited " * 30)
    (root / "new [*?] 50%20.md").write_text("added file")
    (root / "e:f.md").unlink()
    out = build(spark, str(root), store, PARAMS)

    cols = ["rel_path", "chunk", "text", "file_size", "line_count"]
    got = sorted(map(tuple, out.select(*cols).collect()))
    want = sorted(map(tuple, cold_build(spark, str(root), PARAMS).select(*cols).collect()))
    assert got == want
    paths = {r[0] for r in got}
    assert "new [*?] 50%20.md" in paths and "e:f.md" not in paths
    assert [r[2] for r in got if r[0] == "b{x,y}.md"][0].startswith("edited")
    ids = [r["id"] for r in out.collect()]
    assert len(ids) == len(set(ids))


def test_read_file_line_ranges(spark, corpus_dir):
    chunks = cold_build(spark, corpus_dir, PARAMS)
    texts = file_texts(chunks, PARAMS.chunk_size, PARAMS.chunk_overlap)
    # Reassembly round-trip for every file.
    got = {r["rel_path"]: r["text"] for r in texts.collect()}
    assert got == expected_files()
    # CRLF-tolerant line slicing, 1-based inclusive, clamped
    # (src/index.ts:307-312).
    row = read_file(texts, "notes.txt", 2, 3).first()
    assert row["text"] == "line2\nline3" and row["total_lines"] == 4
    assert read_file(texts, "notes.txt", 3, 99).first()["text"] == "line3\nline4"
    assert read_file(texts, "notes.txt", -5, 1).first()["text"] == "line1"
    assert read_file(texts, "./notes.txt").first()["text"] == CORPUS["notes.txt"]


def test_list_files_semantics(spark, corpus_dir):
    files = discover_files(spark, corpus_dir, allowed_ext=TEST_EXTS)
    cat = file_catalog(files)
    # Root, non-recursive: direct children, dirs first then alpha.
    rows = [(r["path"], r["type"]) for r in list_files(cat).collect()]
    assert rows == [
        ("data", "dir"),
        ("src", "dir"),
        ("notes.txt", "file"),
        ("readme.md", "file"),
    ]
    # Recursive with depth bound.
    rows = [
        r["path"] for r in list_files(cat, "src", recursive=True, max_depth=1).collect()
    ]
    assert rows == ["src/util", "src/main.py"]
    rows = [
        r["path"] for r in list_files(cat, "src", recursive=True).collect()
    ]
    assert rows == ["src/util", "src/main.py", "src/util/helpers.py"]
    # Extension filter suppresses dir rows (src/index.ts:377-388).
    rows = [
        (r["path"], r["type"])
        for r in list_files(cat, recursive=True, include_extensions=[".MD"]).collect()
    ]
    assert rows == [("readme.md", "file")]
    # Limit applied after sort (deliberate divergence).
    rows = [r["path"] for r in list_files(cat, recursive=True, limit=2).collect()]
    assert rows == ["data", "src"]


def test_path_guards():
    assert ensure_within_root("/a/b", "x/y.txt") == "/a/b/x/y.txt"
    assert ensure_within_root("/a/b", ".") == "/a/b"
    with pytest.raises(ValueError):
        ensure_within_root("/a/b", "../escape.txt")
    with pytest.raises(ValueError):
        ensure_within_root("/a/b", "x/../../escape.txt")
    assert normalize_rel_path("./src") == "src"
    assert normalize_rel_path("/src") == "src"
    assert normalize_rel_path(".") == ""
    assert normalize_rel_path(".git") == ".git"


def test_partitioned_store_delta_bucket_refresh(spark, corpus_dir, tmp_path):
    """n_buckets > 0: refresh rewrites only the partition dirs whose
    paths changed; untouched bucket dirs keep their exact files (mtime +
    inode-level identity), and the logical table matches the flat-store
    refresh result."""
    import shutil

    root = str(tmp_path / "pbroot")
    shutil.copytree(corpus_dir, root)
    store = str(tmp_path / "pbstore")
    params = IngestParams(
        chunk_size=120, chunk_overlap=30, allowed_ext=TEST_EXTS, n_buckets=4
    )
    first = build(spark, root, store, params)
    flat = cold_build(spark, root, PARAMS)
    # Snapshot BEFORE mutating the corpus: re-collecting `flat` later
    # would re-scan the mutated root (its lineage reads the source files).
    flat_rows = flat.collect()
    assert sorted(map(tuple, first.collect())) == sorted(map(tuple, flat_rows))

    chunks_dir = os.path.join(store, "chunks")
    before = {}
    for b in os.listdir(chunks_dir):
        if b.startswith("bucket="):
            d = os.path.join(chunks_dir, b)
            before[b] = {f: os.stat(os.path.join(d, f)).st_mtime_ns
                         for f in os.listdir(d)}

    mutate_corpus(root)
    second = build(spark, root, store, params)

    # Logical result matches the flat incremental path on the same delta.
    flat_old = spark.createDataFrame(flat_rows, flat.schema)
    expected = incremental_update(spark, flat_old, root, PARAMS)
    assert sorted(map(tuple, second.collect())) == sorted(
        map(tuple, expected.collect())
    )

    # Buckets of the touched paths (changed notes.txt, added added.md,
    # deleted data/config.yaml) were rewritten; all other bucket dirs are
    # byte-identical (same files, same mtimes).
    from pyspark.sql import functions as F

    touched = {"notes.txt", "added.md", "data/config.yaml"}
    tb = {
        r["b"]
        for r in spark.createDataFrame([(p,) for p in touched], "rel_path string")
        .select(F.pmod(F.hash("rel_path"), F.lit(4)).alias("b"))
        .collect()
    }
    untouched_checked = 0
    for b, files in before.items():
        bucket_id = int(b.split("=")[1])
        d = os.path.join(chunks_dir, b)
        if bucket_id not in tb:
            after = {f: os.stat(os.path.join(d, f)).st_mtime_ns
                     for f in os.listdir(d)}
            assert after == files, f"untouched {b} was rewritten"
            untouched_checked += 1
    assert untouched_checked >= 1  # the fixture spreads across buckets


def test_compact_store_layout(spark, corpus_dir, tmp_path):
    """compact_store: same rows, fewer files, disjoint per-file id ranges
    (parquet min/max stats become file-skipping ranges), meta preserved."""
    import pyarrow.parquet as pq

    from mcp_rag_server_spark.sources.ingest import compact_store

    params = IngestParams()
    store = str(tmp_path / "store")
    chunks = cold_build(spark, str(corpus_dir), params)
    # Fragment the store: 16 tiny files, the post-refresh worst case.
    save_store(chunks.repartition(16), store, params)
    data_dir = os.path.join(store, "chunks")
    frag_files = [
        f for f in os.listdir(data_dir) if f.endswith(".parquet")
    ]
    assert len(frag_files) > 4
    before = sorted(
        tuple(r) for r in spark.read.parquet(data_dir).collect()
    )

    # Tiny target size → a handful of range-laid-out files.
    n_written = compact_store(spark, store, target_file_bytes=16 * 1024)
    after_files = [
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    ]
    assert len(after_files) == n_written < len(frag_files)

    after = sorted(tuple(r) for r in spark.read.parquet(data_dir).collect())
    assert after == before

    # Disjoint id ranges: sort files by their min(id) stat; each file's
    # max must be < the next file's min.
    ranges = []
    for path in after_files:
        md = pq.ParquetFile(path).metadata
        idx = [md.schema.column(i).name for i in range(md.num_columns)].index("id")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b, ranges

    # The meta sidecar survived and still round-trips through load_store.
    assert load_store(spark, store, params) is not None


def test_dense_chunk_ids_equals_global_row_number(spark):
    """Property: for any per-file chunk counts, dense_chunk_ids equals
    row_number() over (order by file, chunk) - 1 + start_id — the oracle
    semantics it replaces without the global chunk-row sort."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mcp_rag_server_spark.functions.ids import dense_chunk_ids

    # Adversarial shape: uneven counts, names that sort differently than
    # insertion order, a 1-chunk file, a large file.
    counts = {"z/last.txt": 3, "a only.md": 1, "m/mid.py": 7, "a/b.txt": 5,
              "zz.txt": 2, "m/mid2.py": 1}
    rows = [
        (path, chunk)
        for path, n in counts.items()
        for chunk in range(n)
    ]
    chunks = spark.createDataFrame(rows, "rel_path string, chunk int")
    for start in (0, 1, 1000):
        got = dense_chunk_ids(chunks, "rel_path", start_id=start)
        w = Window.orderBy("rel_path", "chunk")
        want = chunks.withColumn(
            "id", (F.row_number().over(w) - 1 + F.lit(start)).cast("long")
        )
        assert sorted(map(tuple, got.select("rel_path", "chunk", "id").collect())) == \
            sorted(map(tuple, want.select("rel_path", "chunk", "id").collect()))


def test_within_root_col_matches_ensure_within_root(spark):
    """The column form of the traversal guard (P5 at scale: a codegen
    predicate over a DataFrame of requests) must agree with the Python
    ensure_within_root on every path shape — allowed iff the Python
    guard doesn't raise, and the normalized path must equal what the
    Python guard resolves (root-relative)."""
    import pyspark.sql.functions as F

    from mcp_rag_server_spark.sources.files import within_root_col

    root = "/a/b"
    cases = [
        "x/y.txt", ".", "./", "", "./x.txt", "x/../y.txt", "x/./y.txt",
        "x//y.txt", "..", "../escape.txt", "x/../../escape.txt",
        "/abs.txt", "/a/b/inside.txt", "a/b/../../..", "x/y/../..",
        "...", "..hidden", "x/...txt",
        # POSIX double-slash root: exactly two leading slashes are a
        # DISTINCT root (normpath preserves them), three or more are not
        "//a/b/x.txt", "//x.txt", "///a/b/x.txt",
    ]
    expected = []
    for p in cases:
        try:
            abs_path = ensure_within_root(root, p)
            norm = abs_path[len(root):].lstrip("/")
            expected.append((p, True, norm))
        except ValueError:
            expected.append((p, False, None))

    df = spark.createDataFrame([(p,) for p in cases], "req string")
    got = {
        r["req"]: (r["v"]["allowed"], r["v"]["norm"])
        for r in df.select(
            "req", within_root_col(F.col("req"), root=root).alias("v")
        ).collect()
    }
    for p, allowed, norm in expected:
        assert got[p] == (allowed, norm), (p, got[p], (allowed, norm))


def test_within_root_col_property_parity(spark):
    """Property parity for the column traversal guard: on arbitrary
    '/'-joined segment sequences (names, '', '.', '..', dot-names,
    optionally absolute), within_root_col's (allowed, norm) must equal
    ensure_within_root's outcome. One Spark job for all generated
    cases (per-case jobs would swamp the property test)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    import pyspark.sql.functions as F

    from mcp_rag_server_spark.sources.files import within_root_col

    root = "/a/b"
    cases = []
    seg = st.sampled_from(
        # "a" and "b" spell the root itself, so //a/b/... shapes appear
        ["x", "y", "doc.txt", "", ".", "..", "...", "..hidden", "a b",
         "a", "b"]
    )

    @settings(
        max_examples=120,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        segs=st.lists(seg, min_size=0, max_size=6),
        prefix=st.sampled_from(["", "/", "//", "///"]),
    )
    def collect(segs, prefix):
        cases.append(prefix + "/".join(segs))

    collect()
    expected = {}
    for p in set(cases):
        try:
            abs_path = ensure_within_root(root, p)
            expected[p] = (True, abs_path[len(root):].lstrip("/"))
        except ValueError:
            expected[p] = (False, None)

    df = spark.createDataFrame([(p,) for p in expected], "req string")
    got = {
        r["req"]: (r["v"]["allowed"], r["v"]["norm"])
        for r in df.select(
            "req", within_root_col(F.col("req"), root=root).alias("v")
        ).collect()
    }
    for p, want in expected.items():
        assert got[p] == want, (p, got[p], want)


def test_csv_malformed_reinvocation_safe(spark):
    """Re-running ingest_csv_malformed in ONE session must keep
    matching itself: the op rebuilds its side-effect dir and re-caches
    a read of the SAME path, and without the refreshByPath guard
    CacheManager dedupes the new .cache() onto the stale
    InMemoryRelation whose part files the rmtree deleted (caught by a
    suite-order interaction in r7)."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    fn = load_all()["ingest_csv_malformed"].spark_fn
    first = sorted(map(tuple, fn(spark, sf).collect()))
    second = sorted(map(tuple, fn(spark, sf).collect()))
    assert first == second and len(first) > 0
