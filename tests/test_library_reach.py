"""Reach guard: every top-level library name must be used by the
library itself, the driver entry, a benchmark or a tool.

A name counts as reached when its identifier appears in the non-test
corpus outside its own definition (a call, an import, or a mention in
another definition's docstring). Names that only tests reach are
either deleted with their tests or listed in KEEP with the reason
they stay.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
LIBRARY = ROOT / "ocr_compare_spark"
CORPUS = (
    LIBRARY,
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ROOT / "loopbench",
    ROOT / "tools",
)
IDENT = re.compile(r"[A-Za-z_]\w*")

KEEP = {
    "run_with_checkpoints": "the north_rule resume seam (per-bucket output + manifest)",
    "read_output": "reads back what run_with_checkpoints wrote (the resume seam)",
    "table_raw_text": "the reference's raw_text table variant",
    "scan_document": "the reference document-scan pipeline (scan/document_scanner.py:155-188)",
    "load_bloom": "reads back the file the live save_bloom writes",
    "metadata_field": "reads back the live jsonl writer's metadata packing",
}


def _files(paths):
    for p in paths:
        if p.is_dir():
            yield from sorted(p.rglob("*.py"))
        elif p.exists():
            yield p


def _top_level_names(node):
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return [
            n.id
            for t in targets
            for n in ast.walk(t)
            if isinstance(n, ast.Name) and n.id.isupper()
        ]
    return []


def _unreached_names():
    """{name: [file:line, ...]} for library names whose identifier
    occurs in the corpus only inside their own definitions."""
    corpus = Counter()
    for f in _files(CORPUS):
        corpus.update(IDENT.findall(f.read_text(encoding="utf-8")))
    own = Counter()
    where: dict[str, list[str]] = {}
    for f in _files([LIBRARY]):
        src = f.read_text(encoding="utf-8")
        lines = src.splitlines()
        for node in ast.parse(src).body:
            names = _top_level_names(node)
            if not names:
                continue
            body = Counter(IDENT.findall("\n".join(lines[node.lineno - 1:node.end_lineno])))
            for name in names:
                own[name] += body[name]
                where.setdefault(name, []).append(f"{f.relative_to(ROOT)}:{node.lineno}")
    return {n: w for n, w in where.items() if corpus[n] <= own[n]}


def test_every_library_name_is_reached():
    unreached = _unreached_names()
    dead = {n: w for n, w in unreached.items() if n not in KEEP}
    if dead:
        pytest.fail(
            "library names only tests reach (delete them or add to KEEP):\n"
            + "\n".join(f"  {n}  {', '.join(w)}" for n, w in sorted(dead.items()))
        )
    # an exemption for a name that is gone or now reached is stale
    assert sorted(KEEP) == sorted(n for n in unreached if n in KEEP)
