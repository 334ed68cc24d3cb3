#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload crawl_frontier --seed 1 --seconds 20 --trace 0

Workloads (``BENCHMARK.json`` says why each is there):

* ``crawl_frontier`` (crawl.py): robots-gated, capacity-limited crawl
  epochs through ``CrawlEngine.run_epoch``;
* ``analytics`` (analytics.py): registered query legs, one at a time.

A run starts one single-process Spark session on ``local[4]`` and then
repeats "set up inputs from ``--seed``; run one timed unit; check its
outputs" until ``--seconds`` have been spent on timed units (at least one
unit; another starts only if the last one would still fit). There is no
warm-up: like a user's ``cli.py`` crawl, every run starts a cold JVM and
pays its compile costs, and a warm-up pass would not fit the run budget.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of one traced crawl
and one traced analytics pass, whatever the workload (the per-layer
list is the same for every workload). The line before it is a report:
the environment stamp, the wall-clock figures, the raw per-unit figures
and every failed check. The run exits 1 when an output check fails, 2
when the repository beside the benchmark cannot be run and 3 when it
outlives its deadline.

    python -m pytest perfbench/tests -q     # the benchmark's own tests
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time
from statistics import median, quantiles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
MASTER = f"local[{CORES}]"
DEADLINE_S = 170  # a run that is still going then is killed, with exit code 3


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("crawl_frontier", "analytics"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    return ap.parse_args(argv)


# -- environment --------------------------------------------------------------
def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_digest() -> str:
    """sha1 over the package sources and ``__spark_entry__.py``, so a result
    names the code it measured even in a checkout without git."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _sub, names in sorted(os.walk(os.path.join(ROOT, "web_crawler_spark"))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_revision() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True, check=False)
    return r.stdout.strip() or None


def stamp(spark) -> dict:
    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "git_revision": git_revision(),
        "source_sha1": source_digest(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


# -- memory -------------------------------------------------------------------
def process_tree(root_pid: int) -> dict[int, tuple[int, float]]:
    """pid -> (resident KB, CPU seconds incl. reaped children) for
    ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, float]] = {}
    page_kb, tick = os.sysconf("SC_PAGE_SIZE") // 1024, os.sysconf("SC_CLK_TCK")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/statm") as f:
                rss = int(f.read().split()[1]) * page_kb
        except (OSError, IndexError, ValueError):
            continue
        # fields[0] is the state: ppid is field 4 of stat, utime..cstime 14-17
        usage[int(name)] = (rss, sum(int(x) for x in fields[11:15]) / tick)
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in usage:
            out[pid] = usage[pid]
        todo += children.get(pid, [])
    return out


def tree_usage(root_pid: int) -> tuple[int, float]:
    """(resident KB, CPU seconds) summed over ``process_tree``."""
    tree = process_tree(root_pid).values()
    return sum(r for r, _c in tree), sum(c for _r, c in tree)


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


class RssSampler:
    """Resident memory of this process tree (the Python driver, the Spark
    JVM and its Python workers), sampled while ``active`` is set."""

    def __init__(self, period_s: float = 0.1):
        self.samples_kb: list[int] = []
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(period_s,), daemon=True)
        self._thread.start()

    def _loop(self, period_s: float) -> None:
        while not self._stop.wait(period_s):
            if self.active.is_set():
                self.samples_kb.append(tree_usage(os.getpid())[0])

    def p95_mb(self) -> float:
        """The level held for at least 5% of the sampled time; the single
        highest sample moves with the moment a worker starts or a GC runs."""
        return quantiles(self.samples_kb, n=20)[-1] / 1024

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# -- spark --------------------------------------------------------------------
def start_spark(work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every file Spark, the JVMs and the Python workers write stays in work/
    # (-XX:-UsePerfData: no /tmp/hsperfdata_<user> files)
    os.environ.update({
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEM": "2g",
    })
    from web_crawler_spark.session import get_spark

    spark = get_spark(master=MASTER, extra_conf={
        # C1 only: in a Spark driver that lives about a minute, C2 compilation
        # burns a third of the run's CPU time and makes it unsteady; the
        # serial collector keeps the resident set steady between runs
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
            " -XX:ReservedCodeCacheSize=256m -XX:+UseSerialGC"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def start_watchdog(t_start: float) -> threading.Timer:
    """Kill the JVM and leave with exit code 3 if the run outlives
    DEADLINE_S (a JVM that hit a fatal error can leave py4j waiting)."""
    def fire():
        from pyspark import SparkContext

        print(f"perfbench: no result after {DEADLINE_S} s, giving up", file=sys.stderr)
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    timer = threading.Timer(DEADLINE_S - (time.perf_counter() - t_start), fire)
    timer.daemon = True
    timer.start()
    return timer


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it and every process
    it started (the Python workers) have exited."""
    from pyspark import SparkContext

    started = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {p for p in started if _running(p)}
        time.sleep(0.1)
    for pid in started:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)


# -- runs ---------------------------------------------------------------------
def timed_run(spark, wl, work: str, args, sampler: RssSampler) -> list[dict]:
    """Set up, run and check timed units until ``args.seconds`` are spent
    (at least one; another only if the last one would still fit)."""
    from perfbench.tracer import jobs_submitted

    units, ctx, spent = [], {}, 0.0
    while not units or spent + units[-1]["wall_s"] <= args.seconds:
        t = time.perf_counter()
        state = wl.setup(spark, work, args.seed, args.smoke, len(units), ctx)
        setup_s = time.perf_counter() - t
        j0 = jobs_submitted(spark)
        cpu0 = tree_usage(os.getpid())[1]
        sampler.active.set()
        t = time.perf_counter()
        u = wl.unit(spark, state)
        u["wall_s"] = time.perf_counter() - t
        sampler.active.clear()
        u["cpu_s"] = tree_usage(os.getpid())[1] - cpu0
        u["jobs"] = jobs_submitted(spark) - j0
        u["setup_s"] = setup_s
        u["problems"] = wl.check_unit(spark, state)
        units.append(u)
        spent += u["wall_s"]
    return units


def end_to_end(units: list[dict], session_s: float, sampler: RssSampler) -> dict:
    """The metrics BENCHMARK.json bounds. Wall-clock unit times are in the
    report line only: on a host whose vCPUs lose 5-25% of their time to
    steal, they moved by half between runs; CPU seconds are not charged
    while a vCPU is stolen."""
    steps = sum(len(u["steps"]) for u in units)
    return {
        # what a user waits for before the first timed unit can start
        "setup_s": session_s + units[0]["setup_s"],
        "cpu_s": median(u["cpu_s"] for u in units),
        "jobs_per_step": sum(u["jobs"] for u in units) / steps,
        "rss_mb_p95": sampler.p95_mb(),
    }


def wall_figures(units: list[dict], sampler: RssSampler) -> dict:
    steps = [w for u in units for w in u["steps"]]
    return {
        "wall_s": median(u["wall_s"] for u in units),
        "items_per_s": median(u["items"] / u["wall_s"] for u in units),
        "step_s_p50": median(steps),
        "step_s_max": max(steps),
        "rss_mb_max": max(sampler.samples_kb) / 1024,
    }


def declared_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def traced_run(spark, work: str, args) -> tuple[dict, dict, int, int, dict]:
    """A traced crawl, then a traced analytics pass: (per-layer metrics,
    report, attempted, failed, problems)."""
    from perfbench import analytics, crawl

    metrics, report, attempted, failed, problems = {}, {}, 0, 0, {}
    for name, wl in (("crawl_frontier", crawl), ("analytics", analytics)):
        state = wl.setup(spark, os.path.join(work, name), args.seed, args.smoke, 0, {})
        m, rep, bad = wl.traced(spark, state, CORES)
        metrics.update(m)
        report[name] = rep
        attempted += len(rep.get("epochs") or rep.get("legs"))
        failed += len(bad)
        problems.update({f"{name}:{k}": v for k, v in bad.items()})
    return metrics, report, attempted, failed, problems


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse(argv)
    for need in ("web_crawler_spark/__init__.py", "__spark_entry__.py",
                 "scripts/check_correctness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found beside the benchmark", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench import analytics, crawl

    wl = {"crawl_frontier": crawl, "analytics": analytics}[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    load_before, steal_before = loadavg(), cpu_steal()
    spark = start_spark(work)
    session_s = time.perf_counter() - t_start
    watchdog = start_watchdog(t_start)
    sampler = RssSampler()
    try:
        env = stamp(spark)
        if args.trace:
            metrics, report, attempted, failed, problems = traced_run(spark, work, args)
        else:
            units = timed_run(spark, wl, work, args, sampler)
            metrics = end_to_end(units, session_s, sampler)
            attempted = sum(len(u["steps"]) for u in units)
            failed = sum(len(u["problems"]) for u in units)
            problems = {f"unit{i}:{k}": v for i, u in enumerate(units)
                        for k, v in u["problems"].items()}
            report = {"session_s": session_s, **wall_figures(units, sampler),
                      "units": [{k: u[k] for k in ("setup_s", "wall_s", "cpu_s", "steps", "items",
                                                   "jobs")}
                                for u in units]}
    finally:
        sampler.close()
        stop_spark(spark)
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))
    env["loadavg_before"], env["loadavg_after"] = load_before, loadavg()
    steal, total = (a - b for a, b in zip(cpu_steal(), steal_before))
    env["cpu_steal_share"] = steal / max(total, 1)
    print(json.dumps({"env": env, "workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "report": report, "problems": problems}))
    declared = declared_units("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(declared):
        print(f"perfbench: measured metrics differ from BENCHMARK.json: missing "
              f"{sorted(set(declared) - set(metrics))}, undeclared "
              f"{sorted(set(metrics) - set(declared))}", file=sys.stderr)
        return 2
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
