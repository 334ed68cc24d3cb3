"""Self-tests of the benchmark.

    python -m pytest perfbench/tests -q

The span arithmetic runs on synthetic spans; the funnel test runs a tiny
crawl in-process; the smoke tests run ``run.py --smoke`` end to end, one
subprocess (and one Spark JVM) at a time.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import crawl  # noqa: E402
from perfbench.tracer import (  # noqa: E402
    Job, Span, idle_time, self_times, step_summary, union_length,
)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "run_epoch", "t:x", 0.0, 10.0),
        Span(1, "localCheckpoint", "plans.epoch:run_epoch", 1.0, 4.0, parent=0),
        # two commits overlapping in time count once against the parent
        Span(2, "commit_epoch", "t:x", 5.0, 8.0, parent=0, detail="fetched"),
        Span(3, "commit_epoch", "t:x", 6.0, 9.0, parent=0, detail="metrics"),
        Span(4, "write", "sources.catalog:commit_epoch", 5.5, 7.0, parent=2),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 3 - 4)
    assert st[2] == pytest.approx(3 - 1.5)
    assert st[1] == pytest.approx(3)


def test_driver_gap_and_step_summary_from_synthetic_jobs():
    spans = [Span(0, "run_epoch", "t:x", 100.0, 110.0),
             Span(1, "collect", "t:y", 101.0, 103.0, parent=0)]
    jobs = [
        Job(0, sid=1, start=101.0, end=102.0, tasks=4, run_s=2.0),
        Job(1, sid=None, start=102.5, end=104.0, tasks=4, run_s=4.0),  # untagged, inside
        Job(2, sid=None, start=120.0, end=121.0),  # outside every step
    ]
    assert idle_time(100.0, 110.0, [(j.start, j.end) for j in jobs]) == pytest.approx(7.5)
    (row,) = step_summary(spans, jobs, [0], cores=4)
    assert row["jobs"] == 2 and row["tasks"] == 8
    assert row["driver_gap_s"] == pytest.approx(7.5)
    assert row["core_util"] == pytest.approx(6.0 / (10 * 4))


def test_epoch_phases_and_gap_account_for_the_wall():
    spans = [
        Span(0, "run_epoch", "t:x", 0.0, 10.0, detail="0"),
        Span(1, "localCheckpoint", "plans.epoch:run_epoch", 1.0, 3.0, parent=0),
        Span(2, "localCheckpoint", "plans.epoch:run_epoch", 3.5, 5.0, parent=0),
        Span(3, "commit_epoch", "t:c", 5.5, 7.0, parent=0, detail="fetched"),
        Span(4, "collect", "plans.epoch:_counts", 5.5, 6.0, parent=0),
        Span(5, "commit_epoch", "t:c", 7.5, 8.5, parent=0, detail="seen"),
        Span(6, "read", "sources.catalog:read", 0.2, 0.5, parent=0),
        Span(7, "write", "sources.catalog:commit_epoch", 5.6, 6.5, parent=3),
    ]
    ph = crawl.epoch_phases(spans, 0)
    walls = {p: union_length(iv) for p, iv in ph.items()}
    assert walls == pytest.approx(
        {"admit_fetch": 2.3, "extract": 1.5, "data_commit": 1.5, "seen_commit": 1.0})
    gap = 10.0 - union_length([iv for v in ph.values() for iv in v])
    assert sum(walls.values()) + gap == pytest.approx(10.0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import run

    s = run.start_spark(str(tmp_path_factory.mktemp("spark")))
    yield s
    run.stop_spark(s)


def test_funnel_conservation_on_a_tiny_crawl(spark, tmp_path):
    state = crawl.setup(spark, str(tmp_path), 5, True, 0, {})
    u = crawl.unit(spark, state)
    assert crawl.check_unit(spark, state) == {}
    fun = state["funnel"]
    assert u["items"] == sum(s["fetched"] for s in state["stats"]) > 0
    for e, row in fun.items():
        assert row["frontier_in"] == (row["dropped"] + row["robots_denied"]
                                      + row["deferred"] + row["scheduled"]), e
    assert sum(r["dropped"] for r in fun.values()) > 0  # later epochs repeat seeds
    assert sum(r["robots_denied"] for r in fun.values()) > 0
    assert sum(r["deferred"] for r in fun.values()) > 0  # capacity below demand


def _run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=300, check=False)


def _declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("workload", ["crawl_frontier", "analytics"])
def test_smoke_run_prints_every_end_to_end_metric(workload):
    r = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0", "--smoke"])
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().split("\n")[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    units = _declared("end_to_end")
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_smoke_traced_run_prints_every_per_layer_metric():
    r = _run(["--workload", "crawl_frontier", "--seed", "3", "--seconds", "1", "--trace", "1",
              "--smoke"])
    assert r.returncode == 0, r.stderr[-3000:]
    report, out = (json.loads(x) for x in r.stdout.strip().split("\n")[-2:])
    assert out["correct"]
    assert set(out["metrics"]) == set(_declared("per_layer"))
    for row in report["report"]["crawl_frontier"]["epochs"]:
        phases = sum(p["wall_s"] for p in row["phases"].values())
        # phases never overlap, so phases + gap is the epoch wall
        assert phases + row["driver_gap_s"] == pytest.approx(row["wall_s"])
        assert row["outside_busy_s"] <= 0.05 * row["wall_s"]


def test_fails_without_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = _run(["--workload", "analytics", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=tmp_path)
    assert r.returncode == 2
    assert '"correct"' not in r.stdout
