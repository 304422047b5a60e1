"""Seeded source-tree corpus for the ingest and serve workloads.

The tree has nested directories, a mix of one-chunk and many-chunk files,
and the entries the reference's discovery skips: an excluded folder
(``node_modules``), a dotfile, a dot-directory, files with extensions
outside :data:`EXTS` and an empty file. All text is ASCII, so character and byte offsets agree.
"""

from __future__ import annotations

import os
import random

WORDS = (
    "spark vector chunk query index embed cosine store refresh catalog file"
    " line table scan join shuffle stage task driver worker arrow parquet"
    " batch stream window merge delta schema path token score rank limit"
).split()
EXTS = ("md", "txt")
DIRS = ("src", "src/core", "src/core/util", "docs", "docs/guide", "lib", "tests", "")


def _text(rng: random.Random, n_chars: int) -> str:
    lines, size = [], 0
    while size < n_chars:
        line = " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 14)))
        lines.append(line)
        size += len(line) + 1
    return "\n".join(lines) + "\n"


def _size(rng: random.Random) -> int:
    # Two thirds fit one 800-char chunk; the rest span 2-8 chunks.
    return rng.randint(120, 700) if rng.random() < 0.66 else rng.randint(900, 5000)


def _write(root: str, rel: str, text: str) -> None:
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="ascii", newline="") as f:
        f.write(text)


def generate(root: str, seed: int, n_files: int) -> list[str]:
    """Write ``n_files`` indexable files plus the skipped entries under
    ``root``; return the indexable relative paths, sorted."""
    rng = random.Random(seed)
    paths = []
    for i in range(n_files):
        d = rng.choice(DIRS)
        rel = f"{d}/f{i:04d}.{rng.choice(EXTS)}" if d else f"f{i:04d}.{rng.choice(EXTS)}"
        _write(root, rel, _text(rng, _size(rng)))
        paths.append(rel)
    for rel in (
        "node_modules/pkg/index.ts",
        ".env.md",
        ".cache/cached.md",
        "src/core/blob.bin",
        "tools/build.py",
    ):
        _write(root, rel, _text(rng, 300))
    _write(root, "docs/empty.md", "")
    return sorted(paths)


def mutate(root: str, paths: list[str], rng: random.Random, frac: float) -> list[str]:
    """Edit, add and delete about ``frac`` of the files each; return the
    new sorted path list. Every edit changes the file's size, because the
    default change detection compares sizes (as the reference does)."""
    k = max(1, round(len(paths) * frac))
    current = list(paths)
    for rel in rng.sample(current, k):
        with open(os.path.join(root, rel), "a", encoding="ascii", newline="") as f:
            f.write(_text(rng, rng.randint(40, 900)))
    for rel in rng.sample(current, k):
        os.remove(os.path.join(root, rel))
        current.remove(rel)
    for _ in range(k):
        while True:
            rel = f"{rng.choice(DIRS[:-1])}/n{rng.randrange(10**6):06d}.{rng.choice(EXTS)}"
            if rel not in current and not os.path.exists(os.path.join(root, rel)):
                break
        _write(root, rel, _text(rng, _size(rng)))
        current.append(rel)
    return sorted(current)
