"""Answer checks that do not use Spark.

Each check returns ``None`` when the answer is right and a short reason
when it is wrong; the benchmark counts a wrong answer as a failed
operation.
"""

from __future__ import annotations

import hashlib
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

HASH_DIM = 16
COSINE_EPSILON = 1e-10
LIST_FILES_MAX_LIMIT = 5000


# --- rag_query_corpus -------------------------------------------------------


def hash_embed(texts: list[str]) -> np.ndarray:
    """The package's bag-of-hashed-words embedding, as float32 rows."""
    out = np.zeros((len(texts), HASH_DIM), dtype=np.float64)
    for i, text in enumerate(texts):
        for tok in (text or "").split():
            out[i, int(hashlib.md5(tok.encode()).hexdigest()[0], 16)] += 1.0
    norms = np.sqrt((out * out).sum(axis=1))
    nz = norms > 0
    out[nz] /= norms[nz, None]
    return out.astype(np.float32)


def _fold(products: np.ndarray) -> np.ndarray:
    """Row sums taken left to right, as the SQL ``aggregate`` fold does."""
    acc = np.zeros(products.shape[0], dtype=np.float64)
    for j in range(products.shape[1]):
        acc += products[:, j]
    return acc


def round4(x: float) -> float:
    """Spark's ``round(double, 4)``: HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def rag_topk(ids: np.ndarray, vecs: np.ndarray, query: str, k: int) -> list[tuple[int, float]]:
    """Brute-force cosine top-k ordered by (rounded score desc, id asc)."""
    q = hash_embed([query])[0].astype(np.float64)[None, :]
    v = vecs.astype(np.float64)
    num = _fold(v * q)
    den = np.sqrt(_fold(v * v)) * np.sqrt(_fold(q * q)[0]) + COSINE_EPSILON
    raw = num / den
    # Round only the candidates near the cut; rounding every row is slow.
    cut = np.partition(-raw, min(k, len(raw) - 1))[min(k, len(raw) - 1)]
    cand = np.flatnonzero(-raw <= cut + 1e-3)
    scored = sorted((-round4(raw[i]), int(ids[i])) for i in cand)[:k]
    return [(i, -s) for s, i in scored]


def check_rag(got: list[tuple[int, float]], expected: list[tuple[int, float]]) -> str | None:
    if got != expected:
        return f"rag top-k {got} != {expected}"
    return None


# --- read_file --------------------------------------------------------------


def read_file(root: str, rel: str, start: int | None, end: int | None) -> tuple[str, str, int]:
    """(rel_path, text, total_lines) sliced from the file on disk."""
    with open(os.path.join(root, rel), encoding="utf-8", newline="") as f:
        text = f.read()
    lines = re.split(r"\r?\n", text)
    total = len(lines)
    if start is None and end is None:
        return rel, text, total
    s = max(start or 1, 1)
    e = min(end if end is not None else total, total)
    n = max(e - s + 1, 0)
    return rel, "\n".join(lines[s - 1 : s - 1 + n]), total


def check_read(got: list[tuple], expected: tuple) -> str | None:
    if got != [expected]:
        return f"read_file {expected[0]} mismatch"
    return None


# --- list_files -------------------------------------------------------------


def indexable_files(root: str, allowed_ext, excluded_folders) -> dict[str, int]:
    """os.walk with the reference's discovery filters: allowed extension,
    no dot segment, no excluded folder, non-empty. Returns rel_path → size."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            rel = os.path.relpath(os.path.join(dirpath, name), root).replace(os.sep, "/")
            parts = rel.split("/")
            if any(p.startswith(".") for p in parts):
                continue
            if any(p in excluded_folders for p in parts[:-1]):
                continue
            if not any(name.endswith("." + e) for e in allowed_ext):
                continue
            size = os.path.getsize(os.path.join(dirpath, name))
            if size > 0:
                out[rel] = size
    return out


def list_files(
    files: dict[str, int],
    dir: str = "",
    recursive: bool = False,
    max_depth: int | None = None,
    include_extensions: list[str] | None = None,
    limit: int = 500,
) -> list[tuple[str, str, int | None]]:
    """The reference's list_files over a discovered file set."""
    entries = {p: ("file", s) for p, s in files.items()}
    for p in files:
        parts = p.split("/")
        for i in range(1, len(parts)):
            entries.setdefault("/".join(parts[:i]), ("dir", None))
    base = dir.strip().strip("/")
    base_depth = len(base.split("/")) if base else 0
    exts = [e.lower().lstrip(".") for e in include_extensions or []]
    rows = []
    for path, (kind, size) in entries.items():
        if base and not path.startswith(base + "/"):
            continue
        rel_depth = len(path.split("/")) - base_depth
        if not recursive and rel_depth != 1:
            continue
        if recursive and max_depth is not None and rel_depth > max_depth:
            continue
        if exts:
            m = re.search(r"\.([^.]+)$", path)
            if kind != "file" or (m.group(1).lower() if m else "") not in exts:
                continue
        rows.append((kind, path, size))
    rows.sort()
    limit = max(1, min(LIST_FILES_MAX_LIMIT, limit))
    return [(p, k, s) for k, p, s in rows[:limit]]


def check_list(got: list[tuple], expected: list[tuple]) -> str | None:
    if got != expected:
        missing = sorted(set(expected) - set(got))[:3]
        extra = sorted(set(got) - set(expected))[:3]
        return f"list_files mismatch: missing {missing} extra {extra}"
    return None


# --- chunk store ------------------------------------------------------------


def chunk_rows(root: str, files: dict[str, int], size: int = 800, overlap: int = 120):
    """(rel_path, chunk, text, file_size, line_count) for every chunk the
    reference's splitChunks produces over the discovered files."""
    stride = max(1, size - overlap)
    rows = []
    for rel in sorted(files):
        with open(os.path.join(root, rel), encoding="utf-8", newline="") as f:
            text = f.read()
        line_count = len(re.split(r"\r?\n", text))
        for c, start in enumerate(range(0, len(text), stride)):
            rows.append((rel, c, text[start : start + size], files[rel], line_count))
    return rows
