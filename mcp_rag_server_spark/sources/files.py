"""File discovery + content sources (reference S1/S2/S3).

Reference parity:
  - glob discovery with extension allow-list, excluded-folder pruning,
    dotfile exclusion, and size-0 skip — ``discoverFiles``
    (reference src/indexer.ts:350-387); defaults from
    src/config.ts:53-87 (extensions) and src/config.ts:90-104 (folders).
  - UTF-8 text read with invalid bytes replaced by U+FFFD — Node's
    ``fs.readFile(p, "utf8")`` (src/indexer.ts:181) and Java charset
    decoding share the replacement-character convention, so the decoded
    text is byte-identical across the two engines.
  - PDF detection is case-insensitive on the ``.pdf`` suffix
    (src/pdf-extractor.ts:218-220); extraction itself is pluggable here
    (pypdf when available, an injected extractor in tests) because this
    container ships no PDF library — the Spark-side plumbing (binary
    column in, text column out, Arrow-batched) is real either way.

Scale shape: discovery is Spark's distributed file listing (one
``binaryFile`` read whose ``pathGlobFilter`` is ``*.{ext1,ext2,…}``, so
the whole allow-list is one listing and one scan). Metadata-only scans
prune the ``content`` column at ReadSchema level, so "list 100 TB" reads
no file bodies; the content pass happens once, after every path-level
predicate is applied to the listing. Excluded-folder and dotfile
predicates are path regexes — evaluated per file entry, never requiring
IO. A refresh re-reads only the changed files: :func:`read_bodies` loads
an explicit list of listing URIs (sources/ingest.py).
"""

from __future__ import annotations

import posixpath
import re
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

#: Reference src/config.ts:54-87.
DEFAULT_ALLOWED_EXT: tuple[str, ...] = (
    "ts", "tsx", "js", "jsx", "py", "cs", "java", "kt", "kts", "go", "rs",
    "cpp", "c", "h", "hpp", "rb", "php", "swift", "scala", "md", "txt",
    "gradle", "groovy", "json", "yaml", "yml", "xml", "proto", "properties",
    "pdf",
)

#: Reference src/config.ts:92-104.
DEFAULT_EXCLUDED_FOLDERS: tuple[str, ...] = (
    "node_modules", "dist", "build", ".git", "target", "bin", "obj",
    ".cache", "coverage", ".nyc_output",
)


def _glob_to_regex(pattern: str) -> str:
    """Translate the reference's folder globs to a path regex. Exact
    folder names become ``**/name/**`` (src/indexer.ts:354-360); patterns
    already containing ``*``/``?`` are used as-is."""
    if "*" not in pattern and "?" not in pattern:
        return rf"(^|/){re.escape(pattern)}/"
    out = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "*":
            if pattern[i : i + 2] == "**":
                out.append(".*")
                i += 2
                continue
            out.append("[^/]*")
        elif ch == "?":
            out.append("[^/]")
        else:
            out.append(re.escape(ch))
        i += 1
    return "".join(out)


def _glob_escape(text: str) -> str:
    """Backslash-escape the Hadoop glob metacharacters in ``text`` so a
    glob (``pathGlobFilter`` or a ``load()`` path) matches it literally."""
    return re.sub(r"([\\{}\[\]*?,])", r"\\\1", text)


def rel_path_col(root: str) -> F.Column:
    """``file:`` URI → path relative to ``root`` (POSIX separators)."""
    root = root.rstrip("/")
    return F.regexp_replace(
        F.regexp_replace("path", "^file:", ""), "^" + re.escape(root) + "/", ""
    )


def _binary_reader(spark: SparkSession, with_content: bool):
    """A ``binaryFile`` reader. One that reads bodies opens each file
    without Hadoop's local checksum layer: corpus files have no ``.crc``
    sidecar to verify, and the layer's sidecar lookup cannot parse a file
    name holding ``:`` (it fails the read). The layer is configured when
    a file system is created, so this read gets uncached instances."""
    reader = spark.read.format("binaryFile")
    if with_content:
        reader = reader.option("fs.file.checksum.verify", "false").option(
            "fs.file.impl.disable.cache", "true"
        )
    return reader


def discover_files(
    spark: SparkSession,
    root: str,
    allowed_ext: tuple[str, ...] = DEFAULT_ALLOWED_EXT,
    excluded_folders: tuple[str, ...] = DEFAULT_EXCLUDED_FOLDERS,
    with_content: bool = False,
    with_uri: bool = False,
) -> DataFrame:
    """Reference ``discoverFiles`` (src/indexer.ts:350-387) as a Spark
    listing job → DataFrame(rel_path, file_size[, content][, uri]).

    One ``binaryFile`` read with ``pathGlobFilter`` ``*.{ext1,ext2,…}``
    over the deduplicated, glob-escaped allow-list (applied during
    listing, the Spark analog of fast-glob's pattern expansion), then:
      - dotfile/dot-dir exclusion (fast-glob ``dot: false``),
      - excluded-folder regexes (src/indexer.ts:354-360),
      - size-0 skip (src/indexer.ts:374).
    With ``with_content=False`` the ``content`` column is pruned from
    ReadSchema, so discovery never reads file bodies. ``uri`` is the
    listing's file URI, the key :func:`read_bodies` loads a file by.
    """
    exts = list(dict.fromkeys(allowed_ext))
    if not exts:
        raise ValueError("allowed_ext is empty")
    # A (re)scan must observe the current filesystem: Spark's
    # FileStatusCache would otherwise serve a stale listing for a root we
    # listed earlier in the session (the refresh path relies on seeing
    # adds/deletes — the reference re-walks the tree per build,
    # src/indexer.ts:415).
    spark.catalog.refreshByPath(root)
    df = (
        _binary_reader(spark, with_content)
        .option("pathGlobFilter", "*.{" + ",".join(map(_glob_escape, exts)) + "}")
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    df = df.select(
        rel_path_col(root).alias("rel_path"),
        F.col("length").alias("file_size"),
        *(["content"] if with_content else []),
        *([F.col("path").alias("uri")] if with_uri else []),
    )
    # fast-glob dot:false — no path segment may start with ".".
    df = df.filter(~F.col("rel_path").rlike(r"(^|/)\.[^/]"))
    for folder in excluded_folders:
        df = df.filter(~F.col("rel_path").rlike(_glob_to_regex(folder)))
    return df.filter(F.col("file_size") > 0)


def read_bodies(spark: SparkSession, root: str, uris: Iterable[str]) -> DataFrame:
    """(rel_path, file_size, content) of exactly the files at ``uris``
    (listing URIs from :func:`discover_files`): one ``binaryFile`` load
    of the explicit paths, each glob-escaped so names holding ``[``,
    ``{``, ``*`` or ``?`` are read literally. No directory is listed."""
    return (
        _binary_reader(spark, with_content=True)
        .load([_glob_escape(u) for u in uris])
        .select(
            rel_path_col(root).alias("rel_path"),
            F.col("length").alias("file_size"),
            "content",
        )
    )


def lists_pdf(allowed_ext: Iterable[str]) -> bool:
    """Whether an allow-list can admit a file with a ``.pdf`` suffix
    (case-insensitive, the test of :func:`is_pdf_col`)."""
    return any(("." + ext).lower().endswith(".pdf") for ext in allowed_ext)


def is_pdf_col(path_col: str = "rel_path") -> F.Column:
    """Case-insensitive ``.pdf`` suffix test (src/pdf-extractor.ts:218-220)."""
    return F.lower(F.col(path_col)).endswith(".pdf")


def _default_pdf_extractor(blobs: pd.Series) -> pd.Series:
    """Extract text from PDF bytes with pypdf. The library is not in this
    container, so absent pypdf this raises NotImplementedError — callers
    (tests) inject a deterministic extractor instead. The mapInPandas
    plumbing around it (binary in, string out, Arrow batches) is real."""
    try:
        import io

        from pypdf import PdfReader
    except ImportError as e:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "pypdf is not installed; inject pdf_extractor= to read PDFs"
        ) from e
    return blobs.map(
        lambda b: "\n".join(p.extract_text() or "" for p in PdfReader(io.BytesIO(b)).pages)
    )


def decode_text(
    files: DataFrame,
    pdf_extractor: Callable[[pd.Series], pd.Series] | None = None,
    with_pdf: bool = True,
) -> DataFrame:
    """(rel_path, file_size, content, *extra) → (rel_path, file_size,
    *extra, text).

    Text files: UTF-8 decode JVM-side (replacement-char convention
    matches Node, see module docstring). PDFs: routed through an
    Arrow-batched ``mapInPandas`` extractor; extraction failures and
    empty extractions null the row out, matching ``readFileContent``'s
    swallow-and-skip contract (src/indexer.ts:165-188). Rows with null
    text are dropped (src/indexer.ts:267-269). ``with_pdf=False`` is for
    inputs that hold no ``.pdf`` path: the extractor branch, and the
    Python workers it starts, are then not planned at all."""
    text_part = (
        files.filter(~is_pdf_col())
        .withColumn("text", F.decode("content", "UTF-8"))
        .drop("content")
    )
    if with_pdf:
        text_part = text_part.unionByName(_extract_pdfs(files, pdf_extractor))
    return text_part.filter(F.col("text").isNotNull() & (F.length("text") > 0))


def _extract_pdfs(
    files: DataFrame, pdf_extractor: Callable[[pd.Series], pd.Series] | None
) -> DataFrame:
    extractor = pdf_extractor or _default_pdf_extractor
    out_schema = StructType(
        [f for f in files.schema.fields if f.name != "content"]
        + [StructField("text", StringType())]
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            try:
                texts = extractor(pdf["content"])
            except Exception:
                texts = pd.Series([None] * len(pdf), dtype=object)
            yield pdf.drop(columns="content").assign(text=texts)

    return files.filter(is_pdf_col()).mapInPandas(extract, schema=out_schema)


def ensure_within_root(root: str, rel_path: str) -> str:
    """Path-traversal guard (reference ``ensureWithinRoot``,
    src/indexer.ts:320-338): resolve against root, reject anything that
    escapes; the root itself is allowed. Returns the absolute path."""
    root_abs = posixpath.normpath(posixpath.abspath(root))
    abs_path = posixpath.normpath(posixpath.join(root_abs, rel_path))
    if abs_path != root_abs and not abs_path.startswith(root_abs + "/"):
        raise ValueError("Path outside ROOT")
    return abs_path


def within_root_col(path_col: F.Column, root: str = "/corpus") -> F.Column:
    """The traversal guard as a COLUMN — :func:`ensure_within_root`'s
    decision vectorized for a DataFrame of requested paths (batch
    admission control: at scale, path validation is a column predicate
    over millions of requests, not a per-row Python call).

    Same resolution as the Python form (reference ensureWithinRoot,
    src/indexer.ts:320-338): the request is joined to ``root`` (an
    absolute request replaces it, posixpath.join semantics), normalized
    with a segment fold (``.``/empty dropped, ``..`` pops, pops past
    ``/`` clamp there exactly like ``normpath``), and admitted iff the
    resolved absolute path is the root or sits under it.

    Returns ``struct(allowed boolean, norm string)``: ``norm`` is the
    ROOT-RELATIVE normalized path (``''`` = the root itself) when
    allowed, NULL otherwise. Pure JVM HOF fold inside whole-stage
    codegen — no Python, no shuffle."""
    root_abs = posixpath.normpath(posixpath.abspath(root))
    full = F.when(path_col.startswith("/"), path_col).otherwise(
        F.concat(F.lit(root_abs + "/"), path_col)
    )
    init = F.array().cast("array<string>")

    def step(acc: F.Column, x: F.Column) -> F.Column:
        is_pop = x == ".."
        is_noop = (x == ".") | (x == "")
        return (
            F.when(
                is_pop,
                F.slice(
                    acc, F.lit(1), F.greatest(F.size(acc) - 1, F.lit(0))
                ),
            )
            .when(is_noop, acc)
            .otherwise(F.concat(acc, F.array(x)))
        )

    folded = F.aggregate(F.split(full, "/"), init, step)
    resolved = F.concat(F.lit("/"), F.array_join(folded, "/"))
    # POSIX preserves EXACTLY two leading slashes as a distinct root
    # (posixpath.normpath("//x") == "//x", while "/x" and "///x" both
    # live under "/"): a "//"-rooted request can never resolve inside a
    # single-slash root, and the segment fold above would silently
    # collapse the distinction — reject it explicitly so the column
    # guard matches ensure_within_root on this class too.
    posix_double_root = path_col.startswith("//") & ~path_col.startswith(
        "///"
    )
    allowed = (
        (resolved == root_abs) | resolved.startswith(root_abs + "/")
    ) & ~posix_double_root
    norm = F.regexp_replace(
        F.substring(resolved, len(root_abs) + 1, 0x7FFFFFFF), "^/", ""
    )
    return F.struct(
        allowed.alias("allowed"),
        F.when(allowed, norm).alias("norm"),
    )


def normalize_rel_path(p: str | None) -> str:
    """list_files dir normalization (reference src/index.ts:330-341):
    ``"."``/``"./"``/empty → root (""); strip a leading ``./`` or a
    single leading slash; dot-names like ``.git`` survive."""
    if p is None:
        return ""
    p = p.strip()
    if p in (".", "./", ""):
        return ""
    if p.startswith("./"):
        p = p[2:]
    elif p.startswith("/"):
        p = p[1:]
    return p
