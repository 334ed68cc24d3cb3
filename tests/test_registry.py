"""The query registry of ``__spark_entry__``.

Every query is registered once, through ``_register``, with its builder and
its DuckDB oracle (``None`` for a rows-only query). ``queries()`` and
``oracle_sql()`` are both views of that one table.
"""

import ast
import importlib.util
import os
import sys

import pytest

import __spark_entry__ as E

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the queries with no SQL-expressible oracle; a query that loses its oracle
# shows up here instead of passing the gate on a row count
ROWS_ONLY = {
    "ann_bitext_margin_fast", "ann_knn_join_lsh_fast",
    "dd_minhash_lsh_pairs_fast", "dd_dedup_clusters_fast",
    "dd_incremental_dedup_fast", "tx_corpus_mix_bpe", "dd_simhash_pairs",
    "crawl_extract_pipeline", "crawl_epochs_e2e",
}


def test_register_rejects_a_registered_name():
    before = dict(E._REGISTRY)
    name = "tpch_q1_pricing_summary"
    with pytest.raises(ValueError, match=name):
        E._register({"zz_unregistered": (before[name][0], None), name: before[name]})
    assert list(E._REGISTRY.items()) == list(before.items())


def test_oracles_are_a_subset_of_queries():
    qs, oracles = E.queries(), E.oracle_sql()
    assert len(qs) == 374
    assert len(oracles) == 365
    assert oracles.keys() <= qs.keys()


def test_rows_only_set():
    assert E.queries().keys() - E.oracle_sql().keys() == ROWS_ONLY


def _parse(path):
    return ast.parse(open(os.path.join(ROOT, path)).read())


def test_each_name_in_exactly_one_register_entry():
    """A key repeated inside one dict literal would silently replace the
    first, and ``_register`` would only see the last, so count the keys of
    the literals themselves."""
    names = [
        k.value
        for node in ast.walk(_parse("__spark_entry__.py"))
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "_register"
        and isinstance(node.args[0], ast.Dict)
        for k in node.args[0].keys
    ]
    (tpch,) = [
        node.value
        for node in _parse("web_crawler_spark/plans/tpch.py").body
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "REGISTRY"
    ]
    names += [k.value for k in tpch.keys]
    assert len(names) == len(set(names)) == len(E.queries())


def test_bench_headline_names_resolve():
    """Every ``HEADLINE`` leg of bench.py is a registered query; a stale
    name would otherwise raise ``KeyError`` only when the bench reaches it."""
    (headline,) = [
        node.value
        for node in _parse("bench.py").body
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "HEADLINE"
    ]
    missing = [elt.value for elt in headline.elts if elt.value not in E.queries()]
    assert missing == []


def test_check_correctness_rejects_unknown_names(monkeypatch, capsys):
    path = os.path.join(ROOT, "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started for an unknown query name")

    monkeypatch.setattr("web_crawler_spark.session.get_spark", no_spark)
    monkeypatch.setattr(
        sys, "argv", ["check_correctness.py", "tpch_q1_pricing_summary", "no_such_query"]
    )
    assert mod.main() == 2
    assert "['no_such_query']" in capsys.readouterr().err
