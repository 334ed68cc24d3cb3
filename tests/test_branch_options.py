"""Every keyword option a package function branches on is set somewhere.

No Spark: the check reads the source with ``ast``. For every module-level
function in ``web_crawler_spark/``, a parameter with a default is a branch
option when a condition in the body reads it (an ``if`` or ``elif`` test,
a ``while`` test, or the test of a conditional expression). The option is
set when some call site passes it a value whose source text differs from
the default: by keyword, or by position (positional arguments are mapped
to the parameter names). Call sites are searched in the package,
``__spark_entry__.py``, ``bench.py``, ``scripts/``, ``perfbench/`` and
``tests/``, matching calls by function name (``f(...)`` or ``M.f(...)``).
A function named anywhere outside a call (stored in a table, passed as a
callback) may be called with any arguments, so its options count as set.

An option no call site sets has a branch that never runs: delete the
option and its branch, or keep it below with a reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "web_crawler_spark"

# Branch options no call site sets that stay, keyed
# "<module path>::<function>.<parameter>".
KEEP = {
    "functions/zorder.py::z_value.bits":
        "bits per dimension of the Morton code, a numeric algorithm parameter",
    "operators/dedup.py::cdc_chunks.min_size":
        "minimum content-defined chunk length, a numeric algorithm parameter",
    "operators/graph.py::trawl_cores.j":
        "core size j of the (i, j) bipartite cores, a numeric algorithm parameter",
}


def _sources() -> list[Path]:
    return [
        *sorted(PKG.rglob("*.py")),
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *sorted((REPO / "scripts").rglob("*.py")),
        *sorted((REPO / "perfbench").rglob("*.py")),
        *sorted((REPO / "tests").rglob("*.py")),
    ]


def _branch_options():
    """{function name: [(key, positional names, {option: default text})]}
    for every module-level package function with a branch option."""
    out: dict[str, list] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            defaults = dict(zip(positional[len(positional) - len(a.defaults):],
                                a.defaults))
            defaults.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                            if d is not None)
            tested = {
                n.id
                for node in ast.walk(fn)
                if isinstance(node, (ast.If, ast.While, ast.IfExp))
                for n in ast.walk(node.test)
                if isinstance(n, ast.Name)
            }
            options = {p: ast.unparse(d) for p, d in defaults.items() if p in tested}
            if options:
                out.setdefault(fn.name, []).append(
                    (f"{rel}::{fn.name}", positional, options))
    return out


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    return node.attr if isinstance(node, ast.Attribute) else None


def _unset_options() -> set[str]:
    funcs = _branch_options()
    unset = {f"{key}.{p}" for entries in funcs.values()
             for key, _, options in entries for p in options}
    for path in _sources():
        tree = ast.parse(path.read_text())
        calls = [c for c in ast.walk(tree) if isinstance(c, ast.Call)]
        callees = {id(c.func) for c in calls}
        for node in ast.walk(tree):
            if id(node) not in callees and isinstance(
                    getattr(node, "ctx", None), ast.Load):
                for key, _, options in funcs.get(_name(node), ()):
                    unset -= {f"{key}.{p}" for p in options}
        for call in calls:
            for key, positional, options in funcs.get(_name(call.func), ()):
                passed = {kw.arg: kw.value for kw in call.keywords if kw.arg}
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        break
                    if i < len(positional):
                        passed[positional[i]] = arg
                for p, default in options.items():
                    if p in passed and ast.unparse(passed[p]) != default:
                        unset.discard(f"{key}.{p}")
    return unset


def test_every_branch_option_is_set_somewhere():
    unset = sorted(_unset_options() - set(KEEP))
    assert not unset, (
        f"{len(unset)} keyword options select a branch that no call site "
        "reaches (delete the option and its branch, or keep it with a "
        "reason): " + ", ".join(unset)
    )


def test_keep_list_is_current():
    unset = _unset_options()
    stale = sorted(k for k in KEEP if k not in unset)
    assert not stale, f"kept options that are now set or gone: {stale}"
