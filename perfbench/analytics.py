"""The ``analytics`` workload: a fixed list of registered
``__spark_entry__.queries()`` legs, run one at a time on seeded tables.
It runs the operator layer and never enters the epoch loop.

One timed unit is one pass over every leg; a leg's eager work is the
``toPandas`` of its result. Outputs are checked after the pass, outside
the timed region: a leg with a registered DuckDB oracle must match it on
row count, column names and ``scripts/check_correctness.py``'s
``frame_hash``; a leg without one must repeat its first pass exactly.
"""

from __future__ import annotations

import importlib.util
import os
import time
from contextlib import nullcontext

from . import inputs

LEGS = [
    "gr_host_pagerank",          # operators.graph power iteration
    "url_hreflang_reciprocity",  # operators.hreflang
    "f8_anti_join_seen",         # operators.dedup seen-set anti-join
    "f8_anti_join_seen_cuckoo",  # the same through operators.cuckoo
]
SHAPE = {"n_events": 1000, "n_docs": 500}
SMOKE_SHAPE = {"n_events": 200, "n_docs": 100}


def _root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_module():
    path = os.path.join(_root(), "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_pass(spark, tables: str, tracer=None) -> tuple[list[float], dict]:
    """One pass over every leg: (leg walls, query -> pandas result or the
    exception it raised)."""
    import __spark_entry__ as E

    qs = E.queries()
    walls, outs = [], {}
    for q in LEGS:
        t0 = time.perf_counter()
        with tracer.span("leg", q) if tracer else nullcontext():
            try:
                outs[q] = qs[q](spark, tables).toPandas()
            except Exception as ex:  # counted as a failed leg
                outs[q] = ex
        walls.append(time.perf_counter() - t0)
    return walls, outs


class Checker:
    """Compares a pass's outputs with the DuckDB oracles, or with the first
    pass for a leg that has no oracle."""

    def __init__(self, tables: str):
        import duckdb
        import __spark_entry__ as E

        self.frame_hash = _check_module().frame_hash
        self.oracles = E.oracle_sql()
        self.con = duckdb.connect()
        for t in ("events", "documents"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables, t + '.parquet')}'")
        self.expected: dict[str, tuple] = {}

    def _digest(self, df) -> tuple:
        return (len(df), sorted(df.columns), self.frame_hash(df))

    def check(self, outs: dict) -> dict[str, str]:
        """query -> problem, for every failed leg."""
        bad = {}
        for q in LEGS:
            got = outs[q]
            if isinstance(got, Exception):
                bad[q] = f"raised {type(got).__name__}: {str(got)[:200]}"
                continue
            have = self._digest(got)
            if q not in self.expected:
                self.expected[q] = (self._digest(self.con.execute(self.oracles[q]).fetchdf())
                                    if q in self.oracles else have)
            if have != self.expected[q]:
                bad[q] = f"rows, columns, hash {have} != {self.expected[q]}"
        return bad


# -- the workload as run.py drives it ------------------------------------------
def setup(spark, work: str, seed: int, smoke: bool, i: int, ctx: dict) -> dict:
    """The seeded tables for timed unit ``i``; the first set-up also opens
    the oracle checker the later units share through ``ctx``."""
    tables = inputs.write_analytics_tables(os.path.join(work, "tables"), seed,
                                           **(SMOKE_SHAPE if smoke else SHAPE))
    if "checker" not in ctx:
        ctx["checker"] = Checker(tables)
    return {**ctx, "tables": tables}


def unit(spark, state: dict, tracer=None) -> dict:
    """One timed pass. Steps are legs; items are legs completed."""
    walls, state["outs"] = run_pass(spark, state["tables"], tracer)
    return {"steps": walls, "items": len(walls)}


def check_unit(spark, state: dict) -> dict[int, str]:
    """leg index -> problem, for every leg that raised or failed its check."""
    bad = state["checker"].check(state["outs"])
    return {i: bad[q] for i, q in enumerate(LEGS) if q in bad}


def traced(spark, state: dict, cores: int) -> tuple[dict, dict, dict[int, str]]:
    """One traced pass: (per-layer metrics, report, leg index -> problem).
    Per leg: wall and Spark jobs; for the pass: jobs, wall with no job
    running, core utilisation and tracing overhead."""
    from .crawl import install_tracer
    from .tracer import step_summary

    tracer = install_tracer(spark)
    since_ms = time.time() * 1000
    try:
        u = unit(spark, state, tracer)
    finally:
        tracer.uninstall()
    problems = check_unit(spark, state)
    spans = tracer.spans
    steps = step_summary(spans, tracer.jobs(since_ms),
                         [s.sid for s in spans if s.name == "leg"], cores)
    m: dict[str, float] = {}
    for q, st in zip(LEGS, steps):
        m[f"leg.{q}.s"] = st["wall_s"]
        m[f"leg.{q}.jobs"] = st["jobs"]
    wall = sum(u["steps"])
    m.update({
        "analytics.jobs": sum(s["jobs"] for s in steps),
        "analytics.idle_s": sum(s["driver_gap_s"] for s in steps),
        "analytics.core_util": sum(s["exec_run_s"] for s in steps) / (wall * cores),
        "analytics.trace_overhead_ratio": tracer.overhead_s / wall,
    })
    return m, {"legs": dict(zip(LEGS, u["steps"]))}, problems
