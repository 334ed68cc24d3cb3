"""Every top-level definition in ``web_crawler_spark/`` is reached from an
entry point, or is on the keep-list below with its reason.

No Spark: the check reads the source with ``ast``. A definition is reached
when its name occurs in reached code (a bare name, an attribute or an
imported name), iterated to a fixpoint from the roots:

* all of ``__spark_entry__.py`` (every registered query builder),
  ``bench.py``, ``scripts/*.py`` and ``perfbench/*.py``;
* ``web_crawler_spark/cli.py``, ``web_crawler_spark/server.py`` (the HTTP
  entry point of the reference) and every package ``__init__.py``;
* the module-level statements of every package module, which run on import.

Matching by name over-approximates (any ``.compact`` reaches every
``compact``), so a definition this test calls unreached is reached by
nothing.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "web_crawler_spark"

# Definitions no root reaches that stay, keyed "<module path>::<name>".
KEEP = {
    # (a) references and audits that tests compare a live operator against
    "functions/text.py::simhash64":
        "pure-Column SimHash that dedup.simhash_stage must match bit for bit",
    "operators/politeness.py::politeness_check":
        "audit of an executed fetch log against the per-host delay",
    "functions/bpe.py::token_count_py":
        "pure-Python BPE count that bpe_count_stage must match",
    "plans/extract.py::text_stage":
        "checks the byte-identical text contract against the golden column",
    # (b) cites a SURVEY row or a reference file:line
    "operators/validate.py::regex_rule": "V3, validator.py:71-82",
    "operators/validate.py::forex_rules": "forex rule table, validator.py:123-145",
    "operators/validate.py::forex_business_rules": "V7, validator.py:255-275",
    "plans/extract.py::extract_simple_rows": "simple_generic.py:114-142",
    "plans/extract.py::coingecko_stage": "S7, simple_generic.py:87-112",
    "plans/pipeline.py::process_forex": "processor.py:296-333",
    "plans/pipeline.py::write_report": "S9/S11 report sinks",
    "plans/report.py::write_forex_csv": "S10 forex CSV sink",
    "plans/report.py::write_raw_checkpoint": "S12 raw snapshot per epoch",
    "plans/report.py::write_commodity_workbook": "S11, excel_writer.py:20-87",
    "plans/dsl.py::compile_field_rule": "X9 field rule (regex + transform)",
    "streaming/events.py::streaming_market_summary": "A1/A2 on a stream",
    # (c) FIXTURES.md generators the (b) tests read
    "sources/records.py::generate_raw_records": "FIXTURES.md F-3 raw_records",
    "sources/records.py::generate_forex_records": "FIXTURES.md F-4 forex_records",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
    return out


def _scan():
    """(root names, {key: (is_checked, names its body uses)})."""
    roots: set[str] = set()
    for path in [REPO / "__spark_entry__.py", REPO / "bench.py",
                 *sorted((REPO / "scripts").glob("*.py")),
                 *sorted((REPO / "perfbench").glob("*.py"))]:
        roots |= _names(ast.parse(path.read_text()))
    defs: dict[str, tuple[bool, set[str]]] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        if rel in ("cli.py", "server.py") or path.name == "__init__.py":
            roots |= _names(tree)
            continue
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{rel}::{st.name}"] = (True, _names(st))
            elif isinstance(st, (ast.Assign, ast.AnnAssign)) and st.value is not None:
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                named = [t.id for t in targets if isinstance(t, ast.Name)]
                for name in named:
                    defs[f"{rel}::{name}"] = (False, _names(st.value))
                if not named:
                    roots |= _names(st)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                roots |= _names(st)
    return roots, defs


def _reached(roots: set[str], defs: dict, extra: set[str]) -> set[str]:
    names = set(roots) | {k.split("::")[1] for k in extra}
    done: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, (_, used) in defs.items():
            if key not in done and key.split("::")[1] in names:
                done.add(key)
                names |= used
                grew = True
    return done


def test_every_definition_is_reached_or_kept():
    roots, defs = _scan()
    reached = _reached(roots, defs, set(KEEP))
    unreached = sorted(k for k, (checked, _) in defs.items()
                       if checked and k not in reached)
    assert not unreached, (
        f"{len(unreached)} package definitions no entry point reaches "
        "(delete them with their tests, or keep one with a reason): "
        + ", ".join(unreached)
    )


def test_keep_list_is_current():
    roots, defs = _scan()
    missing = sorted(k for k in KEEP if k not in defs)
    assert not missing, f"kept definitions that no longer exist: {missing}"
    from_roots = _reached(roots, defs, set())
    stale = sorted(k for k in KEEP if k in from_roots)
    assert not stale, f"kept definitions an entry point now reaches: {stale}"
