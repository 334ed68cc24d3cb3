"""The ``crawl_frontier`` workload: a robots-gated, capacity-limited crawl
of many small pages through ``CrawlEngine.run_epoch``.

One timed unit is one crawl of ``EPOCHS`` epochs on a fresh catalog root.
Outputs are checked after each crawl, outside the timed region:

* no ``url_hash`` is committed to ``seen`` twice;
* per epoch, ok + error + robots_denied rows equal the fetched count the
  epoch returned;
* per epoch, the admission funnel balances:
  frontier_in = dropped_by_seen + robots_denied + deferred + scheduled;
* per host and epoch, consecutive ``fetch_ts`` are at least that host's
  crawl delay apart.
"""

from __future__ import annotations

import os
import shutil
import time
from statistics import mean

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import inputs
from .tracer import Tracer, self_times, step_summary, union_length

EPOCHS = 2
SHAPE = {"n_pages": 3000, "n_per_host": 40, "capacity": 150}
SMOKE_SHAPE = {"n_pages": 600, "n_per_host": 8, "capacity": 30}
DEFAULT_DELAY = 2.0
PHASES = ("admit_fetch", "extract", "data_commit", "seen_commit")
TABLES = ("fetched", "extracted", "outlinks", "metrics", "deferred", "seen")


def make_engine(spark, root: str, seed: int, shape: dict, n_epochs: int):
    from web_crawler_spark.plans.epoch import CrawlEngine

    shutil.rmtree(root, ignore_errors=True)
    pages, seeds, robots = inputs.crawl_inputs(
        spark, seed, shape["n_pages"], shape["n_per_host"], n_epochs
    )
    engine = CrawlEngine(
        spark, root, pages, delay_seconds=DEFAULT_DELAY, max_depth=1,
        robots_pages=robots, agent=inputs.AGENT,
        epoch_fetch_capacity=shape["capacity"],
    )
    return engine, seeds


def run_crawl(engine, seeds, n_epochs: int) -> tuple[list[float], list[dict]]:
    walls, stats = [], []
    for epoch in range(n_epochs):
        te = time.perf_counter()
        stats.append(engine.run_epoch(seeds, epoch))
        walls.append(time.perf_counter() - te)
    return walls, stats


# -- the workload as run.py drives it ------------------------------------------
def setup(spark, work: str, seed: int, smoke: bool, i: int, ctx: dict) -> dict:
    """Inputs and a CrawlEngine on a fresh catalog root for timed unit ``i``."""
    eng, seeds = make_engine(spark, os.path.join(work, f"crawl{i}"), seed,
                             SMOKE_SHAPE if smoke else SHAPE, EPOCHS)
    return {"engine": eng, "seeds": seeds, "epochs": EPOCHS}


def unit(spark, state: dict) -> dict:
    """One timed crawl. Steps are epochs; items are URLs fetched+deduped
    (``run_epoch``'s ``fetched``, the BASELINE.json throughput count)."""
    walls, stats = run_crawl(state["engine"], state["seeds"], state["epochs"])
    state["stats"] = stats
    return {"steps": walls, "items": sum(s["fetched"] for s in stats)}


def check_unit(spark, state: dict) -> dict[int, str]:
    """epoch -> problem, for every epoch that failed a check."""
    problems, state["funnel"] = check(spark, state["engine"], state["seeds"],
                                      state["stats"], state["epochs"])
    return problems


# -- output checks ------------------------------------------------------------
def funnel(spark, engine, seeds, n_epochs: int) -> dict[int, dict]:
    """Per-epoch admission funnel rebuilt from the committed catalog."""
    cat = engine.catalog
    seen = cat.read(spark, "seen").select(
        "url_hash", F.col("epoch").alias("seen_epoch")
    )
    frontiers = None
    for e in range(n_epochs):
        f = engine._frontier_for(seeds, e).select("url_hash", F.lit(e).alias("epoch"))
        frontiers = f if frontiers is None else frontiers.unionByName(f)
    out = {e: dict.fromkeys(
        ["frontier_in", "dropped", "robots_denied", "deferred", "scheduled",
         "fetched_ok", "fetched_error", "outlinks"], 0) for e in range(n_epochs)}
    for r in (
        frontiers.join(seen, "url_hash", "left")
        .groupBy("epoch")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.when(F.col("seen_epoch") < F.col("epoch"), 1).otherwise(0)).alias("d"))
        .collect()
    ):
        out[r["epoch"]]["frontier_in"] = r["n"]
        out[r["epoch"]]["dropped"] = int(r["d"])
    key = {"ok": "fetched_ok", "error": "fetched_error", "robots_denied": "robots_denied"}
    for r in cat.read(spark, "fetched").groupBy("epoch", "status").count().collect():
        out[r["epoch"]][key.get(r["status"], "bad_status")] = r["count"]
    for table in ("deferred", "outlinks"):
        df = cat.read(spark, table)
        if df is not None:
            for r in df.groupBy("epoch").count().collect():
                out[r["epoch"]][table] = r["count"]
    for row in out.values():
        row["scheduled"] = row["fetched_ok"] + row["fetched_error"]
    return out


def check(spark, engine, seeds, stats: list[dict], n_epochs: int) -> tuple[dict[int, str], dict]:
    """(epoch -> problem for every failed epoch, funnel)."""
    cat = engine.catalog
    problems: dict[int, str] = {}
    fun = funnel(spark, engine, seeds, n_epochs)
    for e, st in enumerate(stats):
        row = fun[e]
        if "bad_status" in row:
            problems[e] = "unexpected fetch status"
        elif row["fetched_ok"] + row["fetched_error"] + row["robots_denied"] != st["fetched"]:
            problems[e] = f"status counts do not add up to {st['fetched']}"
        elif row["frontier_in"] != (row["dropped"] + row["robots_denied"]
                                    + row["deferred"] + row["scheduled"]):
            problems[e] = f"funnel does not balance: {row}"
    seen = cat.read(spark, "seen")
    for r in seen.groupBy("url_hash").agg(
            F.count(F.lit(1)).alias("n"), F.max("epoch").alias("epoch")
    ).filter(F.col("n") > 1).groupBy("epoch").count().collect():
        problems.setdefault(r["epoch"], f"{r['count']} url_hash committed to seen twice")
    fetched = cat.read(spark, "fetched").filter(F.col("fetch_ts").isNotNull())
    w = Window.partitionBy("epoch", "host").orderBy("fetch_ts")
    gaps = (
        fetched.join(F.broadcast(engine.delays), "host", "left")
        .withColumn("gap", F.col("fetch_ts").cast("double")
                    - F.lag(F.col("fetch_ts").cast("double")).over(w))
        .filter(F.col("gap") < F.coalesce("delay_seconds", F.lit(DEFAULT_DELAY)) - 1e-6)
    )
    for r in gaps.groupBy("epoch").count().collect():
        problems.setdefault(r["epoch"], f"{r['count']} fetches closer than the host delay")
    return problems, fun


# -- traced run ---------------------------------------------------------------
def install_tracer(spark) -> Tracer:
    from web_crawler_spark.operators import dedup as D
    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.catalog import EpochCatalog

    tracer = Tracer(spark)
    df = spark.range(1)
    tracer.wrap(CrawlEngine, "run_epoch", "run_epoch", detail_arg=2)
    tracer.wrap(EpochCatalog, "commit_epoch", "commit_epoch", detail_arg=1)
    tracer.wrap(type(df), "localCheckpoint", "localCheckpoint")
    tracer.wrap(type(df), "collect", "collect")
    tracer.wrap(type(df), "toPandas", "toPandas")
    tracer.wrap(type(spark.read), "parquet", "read")
    for sink in ("parquet", "csv", "json", "save"):
        tracer.wrap(type(df.write), sink, "write")
    tracer.wrap(D, "build_bloom", "build_bloom")
    return tracer


def epoch_phases(spans, epoch_sid: int) -> dict[str, list[tuple[float, float]]]:
    """Phase intervals of one run_epoch span, built from the eager calls
    made directly under it. The phases end at run_epoch's first
    ``localCheckpoint`` (``fetched``), at its second (``combined``) and at
    the start of the ``seen`` commit; each call belongs to the phase its
    start falls in."""
    kids = sorted((s for s in spans if s.parent == epoch_sid), key=lambda s: s.start)
    checkpoints = [s.end for s in kids
                   if s.name == "localCheckpoint" and s.caller.endswith(":run_epoch")]
    seen = [s.start for s in kids if s.name == "commit_epoch" and s.detail == "seen"]
    ends = (checkpoints + [float("inf")] * 2)[:2] + (seen or [float("inf")])
    out = {p: [] for p in PHASES}
    for s in kids:
        phase = next((p for p, end in zip(PHASES, ends) if s.start < end), PHASES[-1])
        out[phase].append((s.start, s.end))
    return out


def catalog_files(root: str, table: str) -> dict[int, tuple[int, int]]:
    """epoch -> (data files, bytes) of one catalog table."""
    out = {}
    tdir = os.path.join(root, table)
    if not os.path.isdir(tdir):
        return out
    for name in os.listdir(tdir):
        if not name.startswith("epoch="):
            continue
        files = [os.path.join(tdir, name, f) for f in os.listdir(os.path.join(tdir, name))
                 if f.endswith(".parquet")]
        out[int(name[6:])] = (len(files), sum(os.path.getsize(f) for f in files))
    return out


def timed_noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def seen_probe(frontier, seen, key: str = "url_hash") -> dict:
    """Build the bloom and cuckoo filters over ``seen`` with the public
    build functions and probe ``frontier`` against them. The bloom is
    sized at the engine's design ratio of 10 bits per key (~1.2% fpp), not
    at its 2^23-bit floor, so the observed rate is comparable with the
    design rate at benchmark sizes."""
    from web_crawler_spark.operators import cuckoo as CK
    from web_crawler_spark.operators import dedup as D

    n_seen = seen.count()
    m_bits = max(64, -(-n_seen * 10 // 64) * 64)
    t0 = time.perf_counter()
    bloom = D.build_bloom(seen, key, m_bits=m_bits)
    bloom_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    shards = CK.build_cuckoo_shards(seen.select(key), key=key, expected_keys=n_seen)
    cuckoo_s = time.perf_counter() - t0
    truth = seen.select(key, F.lit(True).alias("__seen"))
    out = {"bloom_build_s": bloom_s, "cuckoo_build_s": cuckoo_s}
    for name, probed in (("bloom", D.bloom_filter_stage(frontier.select(key), bloom, key)),
                         ("cuckoo", CK.cuckoo_filter_stage(frontier.select(key), shards, key))):
        r = (
            probed.join(truth, key, "left")
            .agg(F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0)).alias("unseen"),
                 F.sum(F.when(F.col("__seen").isNull() & F.col("might_be_seen"), 1)
                       .otherwise(0)).alias("fp"))
            .first()
        )
        out[f"{name}_unseen"] = int(r["unseen"] or 0)
        out[f"{name}_fp"] = int(r["fp"] or 0)
    return out


def epoch_rows(tracer: Tracer, engine, fun, since_ms: float, cores: int) -> list[dict]:
    """One row per traced epoch: wall, jobs, phases, catalog and funnel."""
    spans = tracer.spans
    jobs = tracer.jobs(since_ms)
    epochs = [s.sid for s in spans if s.name == "run_epoch"]
    steps = step_summary(spans, jobs, epochs, cores)
    selfs = self_times(spans)
    files = {t: catalog_files(engine.catalog.root, t) for t in TABLES}
    rows = []
    for e, (sid, st) in enumerate(zip(epochs, steps)):
        sp = spans[sid]
        phases = epoch_phases(spans, sid)
        busy_in = {p: [] for p in PHASES}
        outside = []
        for j in jobs:
            if not sp.start <= j.start <= sp.end:
                continue
            hit = next((p for p, iv in phases.items()
                        if any(a <= j.start <= b for a, b in iv)), None)
            (busy_in[hit] if hit else outside).append(j)
        rows.append({
            "epoch": e,
            "wall_s": sp.dur,
            **{k: st[k] for k in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
                                  "gc_s", "shuffle_write_mb", "core_util")},
            # wall with no Spark job running
            "idle_s": st["driver_gap_s"],
            # wall outside every phase span; phases + gap = wall
            "driver_gap_s": sp.dur - union_length([iv for v in phases.values() for iv in v]),
            # Spark work that ran outside every phase span (should be ~0)
            "outside_busy_s": union_length([(j.start, j.end) for j in outside]),
            "phases": {
                p: {
                    "wall_s": union_length(phases[p]),
                    "jobs": len(busy_in[p]),
                    "tasks": sum(j.tasks for j in busy_in[p]),
                    "exec_run_s": sum(j.run_s for j in busy_in[p]),
                    "shuffle_write_mb": sum(j.shuffle_write_b for j in busy_in[p]) / 1e6,
                    "gc_s": sum(j.gc_s for j in busy_in[p]),
                } for p in PHASES
            },
            "self_s": {
                name: sum(selfs[s.sid] for s in spans
                          if s.name == name and sp.start <= s.start <= sp.end)
                for name in ("localCheckpoint", "collect", "write", "read")
            },
            "catalog": {
                "commit_s": {s.detail: s.dur for s in spans
                             if s.name == "commit_epoch" and s.parent == sid},
                "files_written": sum(f.get(e, (0, 0))[0] for f in files.values()),
                "mb_written": sum(f.get(e, (0, 0))[1] for f in files.values()) / 1e6,
                "files_read": sum(n for t in ("seen", "outlinks", "deferred")
                                  for k, (n, _b) in files[t].items() if k < e),
            },
            "funnel": fun[e],
        })
    return rows


def isolated_layers(spark, engine, seeds) -> dict:
    """Public layer functions timed alone, with a ``noop`` write, on inputs
    rebuilt from the committed catalog (epoch 1's frontier)."""
    from web_crawler_spark.functions import urltools as U
    from web_crawler_spark.operators import aggregate as A
    from web_crawler_spark.operators import robots as RB
    from web_crawler_spark.plans import extract as X

    cat = engine.catalog
    f1 = engine._frontier_for(seeds, 1).localCheckpoint()
    out = {"robots.apply_s": timed_noop(RB.apply_robots(f1, engine.robots_rules, inputs.AGENT))}
    salted = f1.withColumn("salt", U.host_salt(F.col("host"), F.lit(1), engine.n_salts))
    out["politeness.schedule_s"] = timed_noop(RB.politeness_schedule_with_delays(
        salted.repartition("host", "salt"), engine._epoch_start(1), engine.delays,
        engine.delay_seconds))
    part = [r["count"] for r in salted.groupBy("host", "salt").count().collect()]
    out["politeness.partition_skew"] = max(part) / mean(part)
    demands = salted.groupBy("host").agg(F.count(F.lit(1)).alias("demand"))
    out["aggregate.waterfill_s"] = timed_noop(
        A.host_budget_waterfill(demands, engine.epoch_fetch_capacity))

    ok = cat.read(spark, "fetched").filter(F.col("status") == "ok").select("canonical_url")
    pages_in = ok.join(engine.pages.select("canonical_url", "html"), "canonical_url").select(
        F.col("canonical_url").alias("url"), "html").localCheckpoint()
    n_pages = pages_in.count()
    extract_s = timed_noop(X.combined_extract_stage(pages_in))
    combined = X.combined_extract_stage(pages_in).localCheckpoint()
    urls = cat.read(spark, "outlinks").select(F.col("resolved_url").alias("url")).localCheckpoint()
    n_urls = urls.count()
    out.update({
        "extract.pages_in": n_pages,
        "extract.rows_out": combined.filter(F.col("name").isNotNull()).count(),
        "extract.links_out": combined.filter(F.col("link").isNotNull()).count(),
        "extract.pages_per_s": n_pages / extract_s,
        "urltools.rows_per_s": n_urls / timed_noop(U.with_url_columns(urls)),
    })
    return out


def per_layer(rows: list[dict], layers: dict, probes: list[dict],
              overhead_ratio: float) -> dict:
    """The crawl's per-layer metrics: per-epoch means, crawl-wide funnel
    counts, seen-set probe rates and the isolated layer figures."""
    m = {}
    for k in ("wall_s", "jobs", "tasks", "exec_run_s", "gc_s", "shuffle_write_mb",
              "idle_s", "driver_gap_s", "core_util"):
        m[f"epoch.{k}"] = mean(r[k] for r in rows)
    for p in PHASES:
        m[f"epoch.{p}_s"] = mean(r["phases"][p]["wall_s"] for r in rows)
        for k in ("jobs", "exec_run_s", "shuffle_write_mb"):
            m[f"epoch.{p}.{k}"] = mean(r["phases"][p][k] for r in rows)
    for t in TABLES:
        m[f"catalog.commit_s.{t}"] = mean(r["catalog"]["commit_s"].get(t, 0.0) for r in rows)
    for k in ("files_written", "mb_written", "files_read"):
        m[f"catalog.{k}"] = mean(r["catalog"][k] for r in rows)
    for name in ("localCheckpoint", "collect", "write", "read"):
        m[f"span.{name}.self_s"] = mean(r["self_s"][name] for r in rows)
    fun = {k: sum(r["funnel"][k] for r in rows) for k in rows[0]["funnel"]}
    m.update({
        "seen.frontier_in": fun["frontier_in"],
        "seen.dropped": fun["dropped"],
        "seen.admit_ratio": (fun["frontier_in"] - fun["dropped"]) / fun["frontier_in"],
        "robots.denied": fun["robots_denied"],
        "funnel.deferred": fun["deferred"],
        "funnel.fetched_ok": fun["fetched_ok"],
        "funnel.fetched_error": fun["fetched_error"],
        "funnel.outlinks": fun["outlinks"],
    })
    bu = sum(p["bloom_unseen"] for p in probes)
    cu = sum(p["cuckoo_unseen"] for p in probes)
    m.update({
        "seen.bloom_build_s": mean(p["bloom_build_s"] for p in probes),
        "seen.bloom_fp_rate": sum(p["bloom_fp"] for p in probes) / bu if bu else 0.0,
        "seen.cuckoo_build_s": mean(p["cuckoo_build_s"] for p in probes),
        "seen.cuckoo_fp_rate": sum(p["cuckoo_fp"] for p in probes) / cu if cu else 0.0,
        "crawl.trace_overhead_ratio": overhead_ratio,
    })
    m.update(layers)
    return m


def traced(spark, state: dict, cores: int) -> tuple[dict, dict, dict[int, str]]:
    """One traced crawl on a set-up state: (per-layer metrics, report,
    epoch -> problem)."""
    tracer = install_tracer(spark)
    since_ms = time.time() * 1000
    t0 = time.perf_counter()
    try:
        unit(spark, state)
    finally:
        tracer.uninstall()
    wall = time.perf_counter() - t0
    problems = check_unit(spark, state)
    eng, seeds = state["engine"], state["seeds"]
    rows = epoch_rows(tracer, eng, state["funnel"], since_ms, cores)
    seen_all = eng.catalog.read(spark, "seen")
    probes = [seen_probe(eng._frontier_for(seeds, e), seen_all.filter(F.col("epoch") < e))
              for e in range(1, state["epochs"])]
    layers = isolated_layers(spark, eng, seeds)
    metrics = per_layer(rows, layers, probes, tracer.overhead_s / wall)
    return metrics, {"epochs": rows, "seen_probes": probes, "wall_s": wall}, problems
