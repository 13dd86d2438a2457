"""Reach guard: every top-level library name must be called, directly or
transitively, from the driver entry, a benchmark or a tool.

Roots are the code identifiers of the non-test corpus (``__spark_entry__.py``,
``bench.py``, ``bench_extra.py``, ``loopbench/``, ``tools/``) plus those of
the library's module-level statements that are neither definitions nor
imports. Edges run from each top-level library definition to the
identifiers in its body. Identifiers are ``Name`` ids, ``Attribute`` attrs,
import aliases and identifier-shaped string constants; docstrings and
comments are not code, so a name a docstring mentions is not reached by it.

Names resolve by identifier, not by module: a live definition keeps any
same-named definition elsewhere alive, never the reverse, so the guard
can miss dead code but never flags live code. Names only tests reach are
deleted with their tests, or listed in KEEP with the reason they stay.
DEFERRED lists unreached names that still stand with their tests; they
are the next deletions, and the guard keeps the list from going stale.
"""

from __future__ import annotations

import ast
import re
import warnings
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
LIBRARY = ROOT / "ocr_compare_spark"
TRAFFIC = (
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
    "metadata_field": "reads back the live jsonl writer's metadata packing",
    "read_documents": "reads back what the live write_documents writes (curate's Dolma export)",
}

DEFERRED = {
    "cms_merge": "CMS shard fold, pinned equal to a build over the union",
    "dd_merge": "DDSketch shard fold, pinned equal to a build over the union",
    "save_sketch": "crash-safe sketch persistence for the cross-crawl fold",
    "load_sketch": "reads back what save_sketch writes",
    "windowed_event_counts": "tumbling event-time windows over the events table",
    "sessionize_stream": "gap-based session windows over the events table",
    "dedup_stream": "streaming content-hash dedup, pinned equal to the batch dedup",
    "detect_edges": "the reference's Canny edge pass, which scan_documents does not run",
    "postings": "the (term, id, tf) inverted-index table",
}


def _parse(path):
    with warnings.catch_warnings():  # invalid escapes in frozen files
        warnings.simplefilter("ignore")
        return ast.parse(path.read_text(encoding="utf-8"))


def _files(paths):
    for p in paths:
        if p.is_dir():
            yield from sorted(p.rglob("*.py"))
        elif p.exists():
            yield p


def _docstrings(tree):
    """ids of the string nodes that are docstrings, not code."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) \
                    and isinstance(body[0].value.value, str):
                out.add(id(body[0].value))
    return out


def _identifiers(node, docstrings):
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docstrings \
                and IDENT.fullmatch(n.value):
            out.add(n.value)
    return out


def _defined_names(node):
    """Top-level names a statement defines: defs, classes and assignment
    targets (dunders such as ``__all__`` are module protocol, not API)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return [
            n.id
            for t in targets
            for n in ast.walk(t)
            if isinstance(n, ast.Name) and not n.id.startswith("__")
        ]
    return []


def _closure(start, edges):
    seen, stack = set(), [n for n in start if n in edges]
    while stack:
        name = stack.pop()
        if name not in seen:
            seen.add(name)
            stack.extend(n for n in edges[name] if n in edges)
    return seen


def _unreached_names():
    """(unreached, stale): unreached maps each top-level library name
    no root reaches to its file:line sites; stale holds the KEEP and
    DEFERRED names that are gone or that a root reaches without the
    exemption."""
    roots: set[str] = set()
    for f in _files(TRAFFIC):
        tree = _parse(f)
        roots |= _identifiers(tree, _docstrings(tree))
    edges: dict[str, set[str]] = {}
    where: dict[str, list[str]] = {}
    for f in _files([LIBRARY]):
        tree = _parse(f)
        docs = _docstrings(tree)
        for node in tree.body:
            names = _defined_names(node)
            if not names:
                if not isinstance(node, (ast.Import, ast.ImportFrom)):
                    roots |= _identifiers(node, docs)
                continue
            body = _identifiers(node, docs)
            for name in names:
                edges.setdefault(name, set()).update(body)
                where.setdefault(name, []).append(f"{f.relative_to(ROOT)}:{node.lineno}")
    exempt = set(KEEP) | set(DEFERRED)
    reached = _closure(roots | exempt, edges)
    unreached = {n: w for n, w in where.items() if n not in reached}
    # an exempt name some root reaches without the exemption is stale
    kept_alone = _closure(roots, edges)
    return unreached, {n for n in exempt if n in kept_alone or n not in edges}


def test_every_library_name_is_reached():
    unreached, stale = _unreached_names()
    if unreached:
        pytest.fail(
            "library names no query, benchmark or tool reaches (delete them or add to KEEP):\n"
            + "\n".join(f"  {n}  {', '.join(w)}" for n, w in sorted(unreached.items()))
        )
    assert not stale, f"stale KEEP/DEFERRED entries (gone, or reached without them): {sorted(stale)}"
