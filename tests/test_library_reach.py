"""Reach guard: every top-level library name must be called, directly or
transitively, from the driver entry, a benchmark or a tool; every
branch-selecting parameter must be turned by one of those callers, and
its default must be taken by one of them when the branch asks only
whether it was given; and no library module imports a name it never
uses.

Roots are the code identifiers of the non-test corpus (``__spark_entry__.py``,
``bench.py``, ``bench_extra.py``, ``loopbench/``, ``tools/``) plus those of
the library's module-level statements that are neither definitions nor
imports. A library module's ``if __name__ == "__main__":`` block is a root
only when the module is listed in ENTRY_POINTS with the reason it runs
as a program. Edges run from each top-level library definition to the
identifiers in its body. Identifiers are ``Name`` ids, ``Attribute`` attrs,
import aliases and identifier-shaped string constants; docstrings and
comments are not code, so a name a docstring mentions is not reached by it.

Names resolve by module where the source says which module: ``n`` after
``from m import n``, ``m.n`` after ``import m`` (or ``from pkg import m``),
and a bare ``n`` that the file defines at top level each reach only module
``m``'s (or the file's own) ``n``. Every other identifier falls back to its
spelling and reaches each library definition of that name: an attribute
on anything but a module, a name two imports bind differently, a local
name, a string, a module outside the corpus, or a name the module does
not define itself (a re-export). So a live definition no longer keeps a
same-named definition in another module alive when every use of the name
is resolved, and where resolution is ambiguous the guard still never
flags live code. The spelling ``main``, which every script uses, reaches
nothing: a library ``def main`` is reached only through its own module's
``__main__`` block. Names only tests reach are deleted with their tests,
or listed in KEEP with the reason they stay.

The parameter rule looks inside every top-level library ``def``: a
defaulted parameter read by the test of an ``if``/``elif``/ternary/
``while`` in its body selects a code path. It counts as set when some
root or library call (resolved by bare name) passes it a
value other than its default, by keyword or by position; any
non-literal argument counts as set, and so does a call with ``*args``
or ``**kwargs``. A test that only does ``isinstance(p, ...)``
normalizes a type and selects nothing. A parameter no caller sets
selects a path no caller takes: the parameter goes, with that path,
or it is listed in KNOB_KEEP with the reason it stays.

The default-side rule checks the mirror case. A given-or-not
parameter has a default of None, False or empty, and a branch test
asks only whether it was given (``p``, ``not p``, ``p is None``,
``p is not None``, alone or under ``and``/``or``). It is flagged when
some root or library call passes it and every such call passes a
literal other than the default or an UPPER_CASE constant: then the
default's branch serves nobody. A call that omits the parameter,
passes the default, forwards a name, attribute or expression, or
uses ``*args``/``**kwargs`` may hand it the default and clears it.
There is no exemption list: the fix is to delete the default's branch
and make the parameter keyword-only without a default.

The duplicate rule compares every pair of top-level library ``def``s:
two with the same arguments and the same body (docstring aside)
compute one thing under two names. One of them goes, and its module
imports the other.
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
    "table_raw_text": "the reference's raw_text table variant",
}

ENTRY_POINTS = {
    "ocr_compare_spark/plans/job.py": "the north_rule's spark-submit job (checkpoint, lineage, "
    "metrics); loopbench flagship copies its shape",
    "ocr_compare_spark/worker_daemon.py": "Spark runs it with `python -m` through "
    "spark.python.daemon.module (session.get_spark): the Python workers' daemon",
}

KNOB_KEEP = {
    "extract_links.with_anchor_text": "the driver entry passes False; True raises ValueError",
    "asof_join.direction": "the driver entry passes 'backward'; any other value raises ValueError",
    "pairwise_compare.num_partitions": "bench.py passes None; whether compare takes a width "
    "setting is open on the core-loop performance work",
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


def _labelled(paths):
    return [(str(f.relative_to(ROOT)), _parse(f)) for f in _files(paths)]


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


def _module_name(label):
    """Dotted module of a file label: ``a/b.py`` -> ``a.b``, ``a/__init__.py`` -> ``a``."""
    parts = label[: -len(".py")].split("/")
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


class _Resolver:
    """Resolves one file's identifiers to references: ``(label, name)``
    for a top-level definition of a known module, or the bare spelling
    ``name`` when the module cannot be told. ``modules`` maps dotted
    module names to labels and ``defs`` maps labels to their top-level
    names, over the library and traffic files alike."""

    def __init__(self, label, tree, modules, defs):
        self.label, self.modules, self.defs = label, modules, defs
        bound: dict[str, object] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    target = a.name if a.asname else a.name.split(".")[0]
                    self._bind(bound, a.asname or target, self.modules.get(target))
            elif isinstance(node, ast.ImportFrom):
                for a in node.names:
                    self._bind(bound, a.asname or a.name, self._from(node, a.name))
        # a name the file both imports and defines could mean either
        self.bound = {k: None if k in defs[label] else v for k, v in bound.items()}

    @staticmethod
    def _bind(bound, local, target):
        """A local bound two ways resolves to nothing (None)."""
        bound[local] = target if bound.get(local, target) == target else None

    def _from(self, node, name):
        """What ``from node.module import name`` binds: a module label,
        a (label, name) pair, or None when the module is unknown."""
        mod = self.modules.get(node.module) if node.module and not node.level else None
        if mod is None:
            return None
        return self.modules.get(f"{node.module}.{name}") or (mod, name)

    def _member(self, mod, name):
        """Module ``mod``'s ``name``: its definition, a submodule
        (no reference) or, for a re-export, the spelling."""
        if name in self.defs[mod]:
            return {(mod, name)}
        return set() if f"{_module_name(mod)}.{name}" in self.modules else {name}

    def _module(self, expr):
        """The label of the module ``expr`` names, or None."""
        if isinstance(expr, ast.Name):
            b = self.bound.get(expr.id)
            return b if isinstance(b, str) else None
        if isinstance(expr, ast.Attribute):
            base = self._module(expr.value)
            if base is not None:
                return self.modules.get(f"{_module_name(base)}.{expr.attr}")
        return None

    def references(self, node, docstrings):
        out: set = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                b = self.bound.get(n.id, False)
                if isinstance(b, tuple):
                    out |= self._member(*b)
                elif b is False and n.id in self.defs[self.label]:
                    out.add((self.label, n.id))
                elif not isinstance(b, str):
                    out.add(n.id)
            elif isinstance(n, ast.Attribute):
                mod = self._module(n.value)
                out |= {n.attr} if mod is None else self._member(mod, n.attr)
            elif isinstance(n, ast.ImportFrom):
                for a in n.names:
                    b = self._from(n, a.name)
                    if b is None:
                        out.add(a.name)
                    elif isinstance(b, tuple):
                        out |= self._member(*b)
            elif isinstance(n, ast.Import):
                for a in n.names:
                    if a.name not in self.modules:
                        out.update(a.name.split("."))
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                    and id(n) not in docstrings and IDENT.fullmatch(n.value):
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


def _closure(start, edges, by_name):
    """Definitions reached from the references ``start``; a spelling
    reaches every definition of that name except ``main``."""
    def expand(refs):
        for r in refs:
            if isinstance(r, tuple):
                if r in edges:
                    yield r
            elif r != "main":
                yield from by_name.get(r, ())

    seen, stack = set(), list(expand(start))
    while stack:
        key = stack.pop()
        if key not in seen:
            seen.add(key)
            stack.extend(expand(edges[key]))
    return seen


def _is_main_block(node):
    """``if __name__ == "__main__":`` (either operand order)."""
    if not (isinstance(node, ast.If) and isinstance(node.test, ast.Compare)):
        return False
    sides = [node.test.left, *node.test.comparators]
    return len(sides) == 2 and {
        s.id if isinstance(s, ast.Name) else s.value if isinstance(s, ast.Constant) else None
        for s in sides
    } == {"__name__", "__main__"}


def _reach(traffic, library, keep, entry_points):
    """(unreached, stale_keep, stale_entry) over lists of (label, parsed
    module). unreached maps each top-level library name that has a
    definition no root reaches to those definitions' label:line sites;
    stale_keep holds the ``keep`` names that are gone or whose every
    definition a root reaches without the exemption; stale_entry holds
    the ``entry_points`` labels that are not a library module with a
    ``__main__`` block."""
    files = traffic + library
    modules = {_module_name(label): label for label, _ in files}
    defs = {
        label: {n for node in tree.body for n in _defined_names(node)} for label, tree in files
    }
    roots: set = set()
    for label, tree in traffic:
        roots |= _Resolver(label, tree, modules, defs).references(tree, _docstrings(tree))
    edges: dict[tuple, set] = {}
    where: dict[tuple, list[str]] = {}
    entries = set()
    for label, tree in library:
        docs, resolver = _docstrings(tree), _Resolver(label, tree, modules, defs)
        for node in tree.body:
            if _is_main_block(node):
                if label in entry_points:
                    entries.add(label)
                    roots |= resolver.references(node, docs)
                continue
            names = _defined_names(node)
            if not names:
                if not isinstance(node, (ast.Import, ast.ImportFrom)):
                    roots |= resolver.references(node, docs)
                continue
            body = resolver.references(node, docs)
            for name in names:
                edges.setdefault((label, name), set()).update(body)
                where.setdefault((label, name), []).append(f"{label}:{node.lineno}")
    by_name: dict[str, list[tuple]] = {}
    for key in edges:
        by_name.setdefault(key[1], []).append(key)
    reached = _closure(roots | set(keep), edges, by_name)
    unreached: dict[str, list[str]] = {}
    for key, sites in sorted(where.items()):
        if key not in reached:
            unreached.setdefault(key[1], []).extend(sites)
    # an exempt name every definition of which a root reaches alone is stale
    kept_alone = _closure(roots, edges, by_name)
    stale_keep = {n for n in keep if not set(by_name.get(n, ())) - kept_alone}
    return unreached, stale_keep, set(entry_points) - entries


def test_every_library_name_is_reached():
    unreached, stale_keep, stale_entry = _reach(
        _labelled(TRAFFIC), _labelled([LIBRARY]), KEEP, ENTRY_POINTS
    )
    if unreached:
        pytest.fail(
            "library names no query, benchmark, tool or entry point reaches "
            "(delete them or add to KEEP):\n"
            + "\n".join(f"  {n}  {', '.join(w)}" for n, w in sorted(unreached.items()))
        )
    assert not stale_keep, f"stale KEEP entries (gone, or reached alone): {sorted(stale_keep)}"
    assert not stale_entry, f"stale ENTRY_POINTS (gone, or no __main__): {sorted(stale_entry)}"


_CLI_LIB = """
BLOCK_TAGS = ("div", "main", "p")


def helper():
    return 1


def main():
    return helper()


if __name__ == "__main__":
    main()
"""

_CLI_TRAFFIC = """
from lib.cli import BLOCK_TAGS


def main():
    return len(BLOCK_TAGS)


if __name__ == "__main__":
    main()
"""


def _cli_reach(entry_points):
    traffic = [("bench.py", ast.parse(_CLI_TRAFFIC))]
    return _reach(traffic, [("lib/cli.py", ast.parse(_CLI_LIB))], {}, entry_points)


def test_reach_rule_flags_a_cli_module_whose_main_only_collides():
    unreached, _, stale_entry = _cli_reach({})
    assert set(unreached) == {"main", "helper"} and not stale_entry


def test_reach_rule_roots_a_declared_entry_point():
    unreached, _, stale_entry = _cli_reach({"lib/cli.py": "the CLI"})
    assert not unreached and not stale_entry


def test_reach_rule_fails_a_stale_entry_point():
    _, _, stale = _cli_reach({"lib/cli.py": "the CLI", "lib/gone.py": "deleted"})
    assert stale == {"lib/gone.py"}
    lib = [("lib/plain.py", ast.parse("def f():\n    return 1\n"))]
    _, _, stale = _reach([], lib, {}, {"lib/plain.py": "no __main__ block"})
    assert stale == {"lib/plain.py"}


_TWIN_LIB = {
    "lib/__init__.py": "",
    "lib/a.py": "def helper():\n    return 1\n",
    "lib/b.py": "def helper():\n    return 2\n\n\ndef other():\n    return helper()\n",
}


def _twin_reach(traffic_src):
    library = [(label, ast.parse(src)) for label, src in _TWIN_LIB.items()]
    return _reach([("bench.py", ast.parse(traffic_src))], library, {}, {})[0]


def test_reach_rule_flags_a_dead_twin_of_a_live_name():
    used = "from lib import b\nfrom lib.a import helper\n\nhelper()\n"
    assert _twin_reach(used + "b.other\n") == {}
    assert _twin_reach(used) == {"helper": ["lib/b.py:1"], "other": ["lib/b.py:5"]}
    # an attribute on a non-module or a string cannot name the module:
    # the spelling reaches every helper
    assert _twin_reach("obj.helper()\n") == {"other": ["lib/b.py:5"]}
    assert _twin_reach('import lib.b\n\nlib.b.other\ngetattr(m, "helper")\n') == {}


# ------------------------------------------------------------ parameters

_NOT_LITERAL = object()


def _literal(node):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return _NOT_LITERAL


def _is_default(value, default):
    if ast.dump(value) == ast.dump(default):
        return True
    lit = _literal(value)
    return lit is not _NOT_LITERAL and lit == _literal(default)


def _knobs(fn):
    """{param: (default node, positional index or None)} for each
    defaulted parameter of ``fn`` that a branch test in its body reads
    other than as the first argument of ``isinstance``."""
    a = fn.args
    pos = a.posonlyargs + a.args
    defaults = dict(zip([p.arg for p in pos[len(pos) - len(a.defaults):]], a.defaults))
    defaults.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    tested = set()
    for node in ast.walk(fn):
        if isinstance(node, (ast.If, ast.IfExp, ast.While)):
            typed = {
                id(c.args[0])
                for c in ast.walk(node.test)
                if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
                and c.func.id == "isinstance" and c.args
            }
            tested |= {
                n.id for n in ast.walk(node.test)
                if isinstance(n, ast.Name) and n.id in defaults and id(n) not in typed
            }
    index = {p.arg: i for i, p in enumerate(pos)}
    return {p: (defaults[p], index.get(p)) for p in tested}


def _unset_knobs(library, callers):
    """{"def.param": [where, ...]} for every knob of a top-level def in
    ``library`` that no call in ``callers`` sets. Both are lists of
    (label, parsed module)."""
    knobs: dict[str, list] = {}
    for label, tree in library:
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                k = _knobs(node)
                if k:
                    knobs.setdefault(node.name, []).append((f"{label}:{node.lineno}", k))
    set_: set[tuple[str, str]] = set()
    for _, tree in callers:
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            if name not in knobs:
                continue
            star = any(isinstance(x, ast.Starred) for x in call.args) or any(
                k.arg is None for k in call.keywords
            )
            for _, k in knobs[name]:
                for param, (default, idx) in k.items():
                    passed = [kw.value for kw in call.keywords if kw.arg == param]
                    if idx is not None and idx < len(call.args):
                        passed.append(call.args[idx])
                    if star or any(not _is_default(v, default) for v in passed):
                        set_.add((name, param))
    return {
        f"{name}.{param}": [where]
        for name, defs in knobs.items()
        for where, k in defs
        for param in k
        if (name, param) not in set_
    }


def _knob_findings(library, callers, keep):
    """(flagged, stale): flagged maps each unset knob outside ``keep``
    to its sites; stale holds the ``keep`` entries that are not unset
    knobs (set by a caller, no longer a branch test, or gone)."""
    unset = _unset_knobs(library, callers)
    return {k: w for k, w in unset.items() if k not in keep}, sorted(set(keep) - set(unset))


def test_every_knob_is_turned():
    library = _labelled([LIBRARY])
    flagged, stale = _knob_findings(library, _labelled(TRAFFIC) + library, KNOB_KEEP)
    if flagged:
        pytest.fail(
            "library parameters that select a branch no query, benchmark or tool takes "
            "(delete them with their branch or add to KNOB_KEEP):\n"
            + "\n".join(f"  {k}  {', '.join(w)}" for k, w in sorted(flagged.items()))
        )
    assert not stale, f"stale KNOB_KEEP entries (set by a caller, or not a knob): {stale}"


_KNOB_LIB = """
def f(x, mode="a"):
    if mode == "b":
        return 1
    return 0


def g(on=None):
    if isinstance(on, str):
        on = [on]
    return on
"""


def _findings(callers, keep=()):
    return _knob_findings(
        [("lib", ast.parse(_KNOB_LIB))], [("caller", ast.parse(callers))], dict.fromkeys(keep, "")
    )


def test_knob_rule_flags_an_unset_branch_parameter():
    flagged, stale = _findings("f(1)\nf(2, mode='a')\nf(3, 'a')\ng()\n")
    assert set(flagged) == {"f.mode"} and not stale


def test_knob_rule_skips_isinstance_normalization():
    flagged, _ = _findings("g()\nf(1, mode='b')\n")
    assert "g.on" not in flagged and not flagged


@pytest.mark.parametrize(
    "call",
    ["f(1, mode=m)", "f(1, m)", "f(1, 'b')", "f(*args)", "f(1, **kw)"],
    ids=["keyword-name", "positional-name", "positional-literal", "star-args", "star-kwargs"],
)
def test_knob_rule_counts_a_non_default_argument_as_set(call):
    flagged, _ = _findings(call + "\n")
    assert not flagged


def test_knob_rule_fails_a_stale_keep_entry():
    _, stale = _findings("f(1, mode='b')\n", keep=["f.mode", "h.gone"])
    assert stale == ["f.mode", "h.gone"]
    _, stale = _findings("f(1)\n", keep=["f.mode"])
    assert not stale


# ------------------------------------------------------- default side

CONSTANT = re.compile(r"[A-Z][A-Z0-9_]*")


def _asks_given(test, param):
    """Whether ``test`` is ``p``, ``not p``, ``p is None`` or
    ``p is not None`` (alone or as an operand of ``and``/``or``)."""
    if isinstance(test, ast.BoolOp):
        return any(_asks_given(v, param) for v in test.values)
    if isinstance(test, ast.UnaryOp) and isinstance(test.op, ast.Not):
        test = test.operand
    if isinstance(test, ast.Compare) and len(test.ops) == 1 \
            and isinstance(test.ops[0], (ast.Is, ast.IsNot)):
        sides = [test.left, test.comparators[0]]
        return any(isinstance(s, ast.Name) and s.id == param for s in sides) and any(
            isinstance(s, ast.Constant) and s.value is None for s in sides
        )
    return isinstance(test, ast.Name) and test.id == param


def _given_or_not(fn):
    """{param: (default node, positional index or None)} for each
    parameter of ``fn`` whose default is None, False or empty and that
    a branch test in its body asks only whether it was given."""
    out = {}
    for param, (default, idx) in _knobs(fn).items():
        lit = _literal(default)
        if not (lit is None or lit is False or lit in ("", (), [], {})):
            continue
        if any(
            isinstance(node, (ast.If, ast.IfExp, ast.While)) and _asks_given(node.test, param)
            for node in ast.walk(fn)
        ):
            out[param] = (default, idx)
    return out


def _constant_arg(value):
    """A literal or a module-level UPPER_CASE constant: a value that
    can never be the default a caller forwards."""
    if isinstance(value, ast.Attribute):
        return bool(CONSTANT.fullmatch(value.attr))
    if isinstance(value, ast.Name):
        return bool(CONSTANT.fullmatch(value.id))
    return _literal(value) is not _NOT_LITERAL


def _ungiven_defaults(library, callers):
    """{"def.param": [where, ...]} for every given-or-not parameter of a
    top-level def in ``library`` that some call in ``callers`` passes
    and every such call passes a constant other than its default. A
    call that omits the parameter, passes the default, forwards a name,
    attribute or expression, or uses ``*args``/``**kwargs`` may leave it
    at the default and clears it. Both are lists of (label, parsed
    module); calls resolve by bare name, as for the knob rule."""
    params: dict[str, list] = {}
    for label, tree in library:
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                g = _given_or_not(node)
                if g:
                    params.setdefault(node.name, []).append((f"{label}:{node.lineno}", g))
    always: dict[tuple[str, str], bool] = {}
    for _, tree in callers:
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            if name not in params:
                continue
            star = any(isinstance(x, ast.Starred) for x in call.args) or any(
                k.arg is None for k in call.keywords
            )
            for _, g in params[name]:
                for param, (default, idx) in g.items():
                    passed = [kw.value for kw in call.keywords if kw.arg == param]
                    if idx is not None and idx < len(call.args):
                        passed.append(call.args[idx])
                    given = not star and bool(passed) and all(
                        _constant_arg(v) and not _is_default(v, default) for v in passed
                    )
                    key = (name, param)
                    always[key] = always.get(key, True) and given
    return {
        f"{name}.{param}": [where]
        for name, defs in params.items()
        for where, g in defs
        for param in g
        if always.get((name, param), False)
    }


def test_every_default_is_taken():
    library = _labelled([LIBRARY])
    ungiven = _ungiven_defaults(library, _labelled(TRAFFIC) + library)
    assert not ungiven, (
        "library parameters whose default no query, benchmark or tool takes "
        "(delete the default's branch):\n"
        + "\n".join(f"  {k}  {', '.join(w)}" for k, w in sorted(ungiven.items()))
    )


_DEFAULT_LIB = """
LIMIT = 3


def f(x, size=None, keys=()):
    if len(keys) < 1:
        raise ValueError("no keys")
    if size is None:
        size = len(x)
    return x[:size]
"""


def _ungiven(callers):
    return set(
        _ungiven_defaults([("lib", ast.parse(_DEFAULT_LIB))], [("caller", ast.parse(callers))])
    )


def test_default_rule_flags_a_default_no_call_takes():
    calls = "f(a, size=4, keys=('k',))\nf(b, LIMIT, ('k',))\nf(c, size=m.LIMIT, keys=KEYS)\n"
    assert _ungiven(calls) == {"f.size"}


def test_default_rule_clears_a_call_that_omits_it():
    assert not _ungiven("f(a, size=4, keys=('k',))\nf(b, keys=('k',))\n")


def test_default_rule_clears_a_forwarded_parameter():
    assert not _ungiven(
        "def g(x, size=None):\n    return f(x, size=size, keys=('k',))\n\nf(a, size=4, keys=('k',))\n"
    )


def test_default_rule_skips_a_range_check():
    # every call passes keys a non-default literal, but len(keys) < 1
    # asks for a size, not whether keys was given
    assert not _ungiven("f(a, keys=('k',))\nf(b, size=None, keys=('k', 'j'))\n")


# ------------------------------------------------------------ duplicates


def _body_key(fn):
    """``ast.dump`` of a def's arguments and of its body without the
    docstring: equal keys are one function under two names."""
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) \
            and isinstance(body[0].value.value, str):
        body = body[1:]
    return ast.dump(fn.args) + "".join(ast.dump(stmt) for stmt in body)


def _duplicate_bodies(library):
    """Sorted groups of "label:line name" for the top-level defs of
    ``library`` (a list of (label, parsed module)) that share a body."""
    groups: dict[str, list[str]] = {}
    for label, tree in library:
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                groups.setdefault(_body_key(node), []).append(f"{label}:{node.lineno} {node.name}")
    return sorted(g for g in groups.values() if len(g) > 1)


def test_no_two_library_functions_share_a_body():
    dups = _duplicate_bodies(_labelled([LIBRARY]))
    assert not dups, "library functions with identical bodies (keep one, import it):\n" + "\n".join(
        "  " + " == ".join(g) for g in dups
    )


_DUP_LIB = {
    "lib/a.py": '''
def words(col):
    """Lower-case word tokens."""
    return split(lower(col))


def scaled(x, k=2):
    return x * k
''',
    "lib/b.py": '''
def _words(col):
    return split(lower(col))


def _tokens(text):
    return split(lower(text))


def scaled(x, k=3):
    return x * k
''',
}


def test_duplicate_rule_flags_a_twin_body_and_only_that():
    library = [(label, ast.parse(src)) for label, src in _DUP_LIB.items()]
    assert _duplicate_bodies(library) == [["lib/a.py:2 words", "lib/b.py:2 _words"]]


# --------------------------------------------------------------- imports


def _unused_imports(label, tree, lines):
    """label:line names a module imports and never reads (``__future__``
    and lines marked ``noqa: F401`` — re-exports — aside)."""
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if "noqa: F401" in lines[node.lineno - 1]:
            continue
        for alias in node.names:
            bound = alias.asname or alias.name.split(".")[0]
            if bound not in used:
                out.append(f"{label}:{node.lineno} {bound}")
    return out


def test_library_has_no_unused_imports():
    found = [
        hit
        for f in _files([LIBRARY])
        for hit in _unused_imports(
            str(f.relative_to(ROOT)), _parse(f), f.read_text(encoding="utf-8").splitlines()
        )
    ]
    assert not found, "unused imports:\n" + "\n".join(found)
