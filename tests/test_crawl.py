"""Crawl-core tests (SURVEY §5.2.3/5/6): canonicalization, crawl-order vs
the sequential oracle, politeness invariant, seen-set properties, bloom
no-false-negatives, epoch resume."""

import shutil
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.functions import urltools as U
from web_crawler_spark.operators import dedup as D
from web_crawler_spark.operators import politeness as P


# -- canonicalization --------------------------------------------------------

CANON_CASES = [
    ("HTTP://Example.COM/path", "http://example.com/path"),
    ("http://example.com:80/path", "http://example.com/path"),
    ("https://example.com:443/", "https://example.com/"),
    ("https://example.com:8443/x", "https://example.com:8443/x"),
    ("https://example.com", "https://example.com/"),
    ("https://example.com/p#frag", "https://example.com/p"),
    ("https://example.com/p?b=2&a=1", "https://example.com/p?a=1&b=2"),
    ("https://EXAMPLE.com:443/p?z=9&a=1#f", "https://example.com/p?a=1&z=9"),
]


def test_canonicalize(spark):
    df = spark.createDataFrame([(u,) for u, _ in CANON_CASES], "url string")
    got = [r["c"] for r in df.select(U.canonicalize_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in CANON_CASES]


def test_url_hash_collapses_variants(spark):
    variants = [
        "https://Example.com/p?b=2&a=1",
        "https://example.com:443/p?a=1&b=2#x",
        "HTTPS://EXAMPLE.COM/p?b=2&a=1#y",
    ]
    df = U.with_url_columns(spark.createDataFrame([(u,) for u in variants], "url string"))
    assert df.select("url_hash").distinct().count() == 1
    assert df.select("host").distinct().collect()[0]["host"] == "example.com"


# -- crawl order vs sequential oracle (base_scraper.py:112-143 semantics) ----


def crawl_order_oracle(seeds):
    """The reference loop: per host, fetch strictly in priority (list) order.
    Returns {host: [url, ...]} in fetch order."""
    by_host = {}
    for url, host, priority in sorted(seeds, key=lambda s: (s[1], s[2], s[0])):
        by_host.setdefault(host, []).append(url)
    return by_host


def test_crawl_order_matches_oracle(spark):
    seeds = [
        (f"https://{h}/p{i}", h, pri)
        for h in ("a.com", "b.com")
        for i, pri in enumerate([3, 1, 2, 5, 4])
    ]
    df = spark.createDataFrame(seeds, "url string, host string, priority int")
    got = (
        P.crawl_order(df)
        .orderBy("host", "seq")
        .select("host", "url")
        .collect()
    )
    oracle = crawl_order_oracle(seeds)
    for host in oracle:
        engine_urls = [r["url"] for r in got if r["host"] == host]
        assert engine_urls == oracle[host], host


def test_politeness_schedule_and_audit(spark):
    seeds = [(f"https://h.com/{i}", "h.com", i) for i in range(5)] + [
        (f"https://g.com/{i}", "g.com", i) for i in range(3)
    ]
    df = spark.createDataFrame(seeds, "url string, host string, priority int")
    start = F.lit("2025-07-22 09:00:00").cast("timestamp")
    # a fractional delay is kept to the millisecond, not truncated
    for delay in (2.0, 1.5):
        sched = P.politeness_schedule(df, start, delay)
        rows = sched.orderBy("host", "seq").collect()
        # seq k fetches at epoch_start + (k-1)*delay
        t0 = rows[0]["scheduled_ts"]
        for r in rows:
            assert (r["scheduled_ts"] - t0).total_seconds() == (r["seq"] - 1) * delay
        # audit operator finds zero violations on its own schedule
        fetched = sched.withColumnRenamed("scheduled_ts", "fetch_ts")
        assert P.politeness_check(fetched, delay).count() == 0
        # and detects an injected violation
        bad = fetched.withColumn(
            "fetch_ts",
            F.when(F.col("seq") == 2, F.timestamp_add("SECOND", F.lit(-1), F.col("fetch_ts"))).otherwise(F.col("fetch_ts")),
        )
        assert P.politeness_check(bad, delay).count() == 2  # both hosts violated


# -- seen-set / bloom properties ---------------------------------------------


def test_anti_join_seen_property(spark):
    """The seen-set bloom (``build_bloom`` + ``bloom_filter_stage``) has no
    false negatives: every seen key probes ``might_be_seen``, for an
    auto-sized bitmap and for one pinned to ``m_bits`` (the probe reads
    the size off the bitmap), and few unseen keys do."""
    import random

    rng = random.Random(1234)
    all_keys = [rng.randrange(10**12) for _ in range(5000)]
    seen_keys = set(rng.sample(all_keys, 2000))
    unseen_keys = set(all_keys) - seen_keys
    frontier = spark.createDataFrame(
        [(k,) for k in all_keys], "url_hash long"
    ).dropDuplicates(["url_hash"])
    seen = spark.createDataFrame([(k,) for k in seen_keys], "url_hash long")

    # auto-sized: 2^23 bits for 2,000 keys; pinned: 2^14 bits, ~2% fpp
    for m_bits, max_fp in ((None, 0.001), (1 << 14, 0.05)):
        bloom = D.build_bloom(seen, "url_hash", m_bits=m_bits)
        assert len(bloom) * 8 == (m_bits or D.bloom_size_bits(len(seen_keys)))
        probed = {
            r["url_hash"]: r["might_be_seen"]
            for r in D.bloom_filter_stage(frontier, bloom, "url_hash").collect()
        }
        assert probed.keys() == set(all_keys)
        assert all(probed[k] for k in seen_keys)
        assert sum(probed[k] for k in unseen_keys) <= max_fp * len(unseen_keys)


def test_keep_latest_dedup(spark):
    rows = [
        ("a", 1, "s1"), ("a", 3, "s2"), ("a", 2, "s3"),
        ("b", 5, "s1"), ("b", 5, "s2"),
    ]
    df = spark.createDataFrame(rows, "k string, ts int, source string")
    got = {r["k"]: (r["ts"], r["source"]) for r in D.keep_latest(df, ["k"], "ts", ["source"]).collect()}
    assert got == {"a": (3, "s2"), "b": (5, "s2")}


def test_merge_duplicates_sources_sorted(spark):
    rows = [("a", 1, "z"), ("a", 2, "m"), ("b", 1, "q")]
    df = spark.createDataFrame(rows, "k string, ts int, source string")
    got = {r["k"]: r["source"] for r in D.merge_duplicates(df, ["k"], "ts", "source").collect()}
    # duplicate keys merge sources sorted (engine determinism vs reference's
    # python-set order); singletons keep their own source
    assert got == {"a": "m,z", "b": "q"}


# -- epoch loop: resume-exactly (SURVEY §5.2.6) -------------------------------


@pytest.fixture()
def catalog_dir():
    d = tempfile.mkdtemp(prefix="wcs_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_epoch_resume_exactly(spark, catalog_dir):
    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import generate_seeds

    pages = generate_pages(spark, 120, seed=42).cache()
    seeds = generate_seeds(spark, n_per_host=3, hot_factor=3, n_epochs=3).cache()

    # full run
    full_dir = catalog_dir + "/full"
    eng1 = CrawlEngine(spark, full_dir, pages, max_depth=1)
    eng1.run(seeds, n_epochs=3)

    # killed-after-epoch-1 run, then resume
    part_dir = catalog_dir + "/part"
    eng2 = CrawlEngine(spark, part_dir, pages, max_depth=1)
    eng2.run_epoch(seeds, 0)
    eng2.run_epoch(seeds, 1)
    # "crash" — new engine instance resumes from the committed manifest
    eng3 = CrawlEngine(spark, part_dir, pages, max_depth=1)
    results = eng3.run(seeds, n_epochs=3)
    assert [r.get("skipped", False) for r in results] == [True, True, False]

    for table in ("fetched", "seen", "extracted"):
        a = eng1.catalog.read(spark, table)
        b = eng3.catalog.read(spark, table)
        cols = sorted(set(a.columns) - {"fetch_ts"})  # ts depends on epoch clock only — keep
        assert a.count() == b.count(), table
        assert (
            a.select(*cols).exceptAll(b.select(*cols)).count() == 0
            and b.select(*cols).exceptAll(a.select(*cols)).count() == 0
        ), f"{table} differs after resume"


def test_epoch_fetch_hits_and_extraction(spark, catalog_dir):
    """Corpus-aligned seeds must produce real fetch HITS through the epoch
    engine — status=ok rows carry html and the extraction stage emits rows.
    (Guards the seed/corpus URL-space alignment: disjoint spaces would make
    every fetch an error and extraction silently empty.)"""
    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import seeds_from_pages

    pages = generate_pages(spark, 240, seed=42).cache()
    seeds = seeds_from_pages(spark, 240, n_per_host=4, hot_factor=5, n_epochs=2)

    eng = CrawlEngine(spark, catalog_dir + "/hits", pages, max_depth=1)
    stats = eng.run(seeds, n_epochs=2)
    assert all(s["ok"] > 0 for s in stats), stats
    # misses exist too (every 6th seed URL points past the corpus): F5
    assert any(s["fetched"] > s["ok"] for s in stats), stats
    extracted = eng.catalog.read(spark, "extracted")
    assert extracted is not None and extracted.count() > 0
    outlinks = eng.catalog.read(spark, "outlinks")
    assert outlinks is not None and outlinks.count() > 0  # links pages hit


def test_per_host_epoch_budget_defers(spark, catalog_dir):
    """max_per_host_per_epoch: a hot host's overflow is deferred to the
    next epoch (bounded per-host state), not dropped."""
    from pyspark.sql import functions as F

    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import seeds_from_pages

    pages = generate_pages(spark, 240, seed=42).cache()
    # hot host gets 30 URLs/epoch, others 6 — budget of 10 forces deferral
    seeds = seeds_from_pages(spark, 240, n_per_host=6, hot_factor=5, n_epochs=2)

    eng = CrawlEngine(
        spark, catalog_dir + "/budget", pages, max_depth=0,
        max_per_host_per_epoch=10,
    )
    eng.run(seeds, n_epochs=2)

    fetched = eng.catalog.read(spark, "fetched")
    per = fetched.groupBy("epoch", "host").count().collect()
    assert all(r["count"] <= 10 for r in per), per

    deferred = eng.catalog.read(spark, "deferred")
    assert deferred is not None
    d0 = deferred.filter(F.col("epoch") == 0)
    assert d0.count() > 0  # hot host overflowed epoch 0's budget
    # ...and the deferred URLs were actually fetched in epoch 1
    refetched = fetched.filter(F.col("epoch") == 1).join(
        d0.select("url_hash"), "url_hash"
    )
    assert refetched.count() > 0
    # the deferred count observed on the admission checkpoint is exact
    _scheduled, _denied, put_off, n_put_off = eng._admit(seeds, 0)
    assert put_off.count() == n_put_off == d0.count()


def _uncommit(root, epoch, tables):
    """Simulate a crash inside ``epoch``'s commit window: ``tables`` lose
    their commit of ``epoch`` (their data dirs stay behind, uncommitted, as
    a killed run leaves them; a table commits its lineage with its epoch)."""
    import json
    import os

    for table in tables:
        mpath = os.path.join(root, table, "_manifest.json")
        with open(mpath) as f:
            m = json.load(f)
        m["epochs"] = [e for e in m["epochs"] if e != epoch]
        m.get("lineage", {}).pop(str(epoch), None)
        with open(mpath, "w") as f:
            json.dump(m, f)


def test_resume_after_mid_epoch_crash(spark, catalog_dir):
    """Crash BETWEEN the fetched commit and the seen commit of an epoch:
    `seen` commits last, so resume must RE-RUN that epoch (per-table commits
    are idempotent) and end with every table complete and identical to
    an uninterrupted run — not skip it."""
    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import generate_seeds

    pages = generate_pages(spark, 120, seed=42).cache()
    seeds = generate_seeds(spark, n_per_host=3, hot_factor=3, n_epochs=2).cache()

    full_dir = catalog_dir + "/full2"
    eng1 = CrawlEngine(spark, full_dir, pages, max_depth=1)
    eng1.run(seeds, n_epochs=2)

    crash_dir = catalog_dir + "/crash"
    eng2 = CrawlEngine(spark, crash_dir, pages, max_depth=1)
    eng2.run_epoch(seeds, 0)
    eng2.run_epoch(seeds, 1)
    _uncommit(crash_dir, 1, ("seen", "extracted"))

    eng3 = CrawlEngine(spark, crash_dir, pages, max_depth=1)
    results = eng3.run(seeds, n_epochs=2)
    assert [r.get("skipped", False) for r in results] == [True, False]

    for table in ("fetched", "seen", "extracted", "metrics"):
        a = eng1.catalog.read(spark, table)
        b = eng3.catalog.read(spark, table)
        assert b is not None and a.count() == b.count(), table
        assert sorted(eng3.catalog.committed_epochs(table)) == [0, 1], table
        assert (
            a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        ), f"{table} differs after resume"


# -- robots-gated, capacity-limited crawl: job budget and resume --------------

# robots bodies that deny some seed paths on three hosts (one per-agent
# group, one wildcard+anchor pattern) and set one crawl delay
_GATED_ROBOTS = {
    "markets.businessinsider.com": "User-agent: *\nDisallow: /nasty/\nCrawl-delay: 1\n",
    "data.worldbank.org": "User-agent: *\nDisallow: /links/*3$\n",
    "example-commodities.net": "User-agent: sparkcrawl\nDisallow: /simple_table/1\n",
}
# Spark jobs each epoch of the gated crawl below may run (measured: the
# admission — robots decision, schedule and per-host demand — is one
# checkpoint over one (host, salt) exchange and one broadcast of the
# per-host robots table compiled once per engine, the budgets are
# water-filled on the driver from the demand observed on that checkpoint,
# the epoch tallies are observed on the one checkpoint after admission,
# whose Arrow pass also extracts every ok page (outlinks carrying their
# depth) and emits each partition's metrics row, catalog reads pass the
# committed schema instead of inferring it, and the six tables commit
# through one staged write)
_GATED_JOB_BUDGET = [8, 9]
# the catalog tables an epoch commits, `seen` last
_TABLES = ("fetched", "extracted", "outlinks", "metrics", "deferred", "seen")


def _gated_engine(spark, root, pages):
    from web_crawler_spark.plans.epoch import CrawlEngine

    robots = spark.createDataFrame(
        sorted(_GATED_ROBOTS.items()), "host string, body string"
    )
    return CrawlEngine(
        spark, root, pages, max_depth=1,
        robots_pages=robots, agent="sparkcrawl", epoch_fetch_capacity=24,
    )


@pytest.fixture(scope="module")
def gated_crawl(spark):
    """One uninterrupted 2-epoch robots-gated, capacity-limited crawl:
    (pages, seeds, engine, per-epoch counters, per-epoch Spark jobs)."""
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import seeds_from_pages

    root = tempfile.mkdtemp(prefix="wcs_gated_")
    pages = generate_pages(spark, 240, seed=42).cache()
    # materialised up front, so no epoch pays for building its input
    seeds = seeds_from_pages(
        spark, 240, n_per_host=6, hot_factor=5, n_epochs=2
    ).localCheckpoint()
    eng = _gated_engine(spark, root + "/full", pages)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    stats, jobs = [], []
    for epoch in range(2):
        before = scheduler.numTotalJobs()
        stats.append(eng.run_epoch(seeds, epoch))
        jobs.append(scheduler.numTotalJobs() - before)
    yield pages, seeds, eng, stats, jobs
    shutil.rmtree(root, ignore_errors=True)


def test_gated_crawl_job_budget(spark, gated_crawl):
    """Every frame with more than one consumer in an epoch (robots
    decision and budgeted schedule; fetched with its extraction and
    metrics) is computed once, and neither the tallies nor the per-host
    demand cost a job of their own."""
    _pages, _seeds, eng, stats, jobs = gated_crawl
    fetched = eng.catalog.read(spark, "fetched")
    # both the robots gate and the water-fill deferral ran in epoch 0
    assert fetched.filter(
        (F.col("epoch") == 0) & (F.col("status") == "robots_denied")
    ).count() > 0
    assert eng.catalog.read(spark, "deferred").filter(F.col("epoch") == 0).count() > 0
    assert all(s["fetched"] > s["ok"] > 0 for s in stats), stats
    assert all(j <= b for j, b in zip(jobs, _GATED_JOB_BUDGET)), jobs


def test_gated_commits_are_sized_by_rows(spark, gated_crawl, tmp_path, monkeypatch):
    """Each commit is sized from the epoch's observed figures: the rows of
    fetched, extracted, metrics, deferred and seen exactly, outlinks
    (links before resolution) as a bound. At the real
    ROWS_PER_FILE every table of the gated crawl is one file per epoch; at
    10 rows per file, none writes more than ceil(sized rows / 10) files
    and fetched and seen, spread by url_hash, write exactly
    ceil(rows / 10)."""
    import glob
    import os

    from web_crawler_spark.plans import epoch as EP
    from web_crawler_spark.sources.catalog import EpochCatalog

    def files(cat, table, epoch):
        return len(glob.glob(os.path.join(cat.root, table, f"epoch={epoch}", "*.parquet")))

    def epoch_rows(cat, table):
        return {
            r["epoch"]: r["count"]
            for r in cat.read(spark, table).groupBy("epoch").count().collect()
        }

    pages, seeds, full, _stats, _jobs = gated_crawl
    for table in _TABLES:
        for epoch in (0, 1):
            assert files(full.catalog, table, epoch) == 1, (table, epoch)

    # the row count each commit was sized with, keyed by (table, epoch)
    sized, by_frame = {}, {}
    real_sized, real_commit = EP._sized, EpochCatalog.commit_epochs

    def record_sized(df, rows):
        out = real_sized(df, rows)
        by_frame[id(out)] = rows
        return out

    def record_commit(self, epoch, frames, *args, **kw):
        for table, df in frames:
            sized[table, epoch] = by_frame.pop(id(df))
        return real_commit(self, epoch, frames, *args, **kw)

    monkeypatch.setattr(EP, "ROWS_PER_FILE", 10)
    monkeypatch.setattr(EP, "_sized", record_sized)
    monkeypatch.setattr(EpochCatalog, "commit_epochs", record_commit)
    eng = _gated_engine(spark, str(tmp_path / "small"), pages)
    for epoch in (0, 1):
        eng.run_epoch(seeds, epoch)
    assert sorted(sized) == sorted((t, e) for t in _TABLES for e in (0, 1))
    for table in _TABLES:
        rows = epoch_rows(eng.catalog, table)
        assert rows == epoch_rows(full.catalog, table), table
        for epoch in (0, 1):
            n, got = rows.get(epoch, 0), sized[table, epoch]
            if table == "outlinks":
                assert n <= got, (table, epoch, n, got)
            else:
                assert n == got, (table, epoch, n, got)
            assert 1 <= files(eng.catalog, table, epoch) <= -(-got // 10), (table, epoch)
            if table in ("fetched", "seen"):
                # rows spread by url_hash: the coalesce target is met
                assert files(eng.catalog, table, epoch) == -(-n // 10) > 1, (table, epoch)


def test_admission_is_one_exchange_and_one_broadcast(spark, gated_crawl):
    """Over a deduplicated frontier, the admission frame (robots decision,
    schedule, per-host demand) shuffles once, by (host, salt), and
    broadcasts once, the per-host robots table: the robots window and the
    schedule windows partition by (host, salt, …) and need no exchange."""
    import re

    _pages, seeds, eng, _stats, _jobs = gated_crawl
    admitted = eng._admission(eng._frontier_for(seeds, 0).localCheckpoint(), 0)
    admitted.collect()
    plan = admitted._jdf.queryExecution().executedPlan().executedPlan().toString()
    shuffles = re.findall(r"(?<!Broadcast)Exchange (.*)", plan)
    assert len(shuffles) == 1, plan
    assert re.match(r"hashpartitioning\(host#\d+, salt#\d+L?, \d+\)", shuffles[0]), plan
    assert plan.count("BroadcastExchange ") == 1, plan


def test_epoch_materialises_one_frame_without_html(spark, gated_crawl, tmp_path, monkeypatch):
    """After admission, an epoch materialises exactly one frame, the
    fetched rows with their extraction and metrics rows, and the page
    bodies (``html``) are not in it: every commit is a filter on it."""
    pages, seeds, _full, _stats, _jobs = gated_crawl
    eng = _gated_engine(spark, str(tmp_path / "one"), pages)
    admit, materialised = eng._admit, []
    DataFrame = type(spark.range(1))

    def record(name):
        real = getattr(DataFrame, name)

        def wrapped(self, *args, **kwargs):
            materialised.append((name, self.columns))
            return real(self, *args, **kwargs)
        return wrapped

    def admit_then_record(*args):
        out = admit(*args)
        for name in ("localCheckpoint", "checkpoint", "persist", "cache"):
            monkeypatch.setattr(DataFrame, name, record(name))
        return out

    monkeypatch.setattr(eng, "_admit", admit_then_record)
    eng.run_epoch(seeds, 0)
    assert len(materialised) == 1, materialised
    assert "html" not in materialised[0][1], materialised


def test_epoch_commits_in_one_write(spark, gated_crawl, tmp_path, monkeypatch):
    """After admission, an epoch writes parquet once: the six tables commit
    through one staged write, partitioned by table."""
    import os

    pages, seeds, _full, _stats, _jobs = gated_crawl
    eng = _gated_engine(spark, str(tmp_path / "one"), pages)
    admit, writes = eng._admit, []
    Writer = type(spark.range(1).write)
    real = Writer.parquet

    def parquet(self, path, *args, **kwargs):
        writes.append(path)
        return real(self, path, *args, **kwargs)

    def admit_then_record(*args):
        out = admit(*args)
        monkeypatch.setattr(Writer, "parquet", parquet)
        return out

    monkeypatch.setattr(eng, "_admit", admit_then_record)
    eng.run_epoch(seeds, 0)
    assert writes == [os.path.join(eng.catalog.root, "_stage", "epoch=0")], writes
    assert all(eng.catalog.committed_epochs(t) == [0] for t in _TABLES)


@pytest.mark.parametrize(
    "lost, job_budget",
    [
        pytest.param(_TABLES[1:], 9, id="after_fetched"),
        pytest.param(("seen",), 9, id="before_seen"),
        pytest.param(("extracted", "seen"), 9, id="before_extracted_and_seen"),
    ],
)
def test_gated_resume_after_mid_epoch_crash(spark, gated_crawl, tmp_path, lost, job_budget):
    """Crash inside epoch 1's commit window, with the ``lost`` tables not
    yet committed: the resumed epoch commits only those, returns the
    uninterrupted run's counters (observed on the fetched checkpoint,
    which a resumed epoch runs too) within its job budget, and all six
    tables match the uninterrupted run row for row."""
    pages, seeds, full, stats, _jobs = gated_crawl
    crash_dir = str(tmp_path / "crash")
    eng = _gated_engine(spark, crash_dir, pages)
    eng.run_epoch(seeds, 0)
    eng.run_epoch(seeds, 1)
    _uncommit(crash_dir, 1, lost)

    resumed = _gated_engine(spark, crash_dir, pages)
    for table in _TABLES:
        assert (1 in resumed.catalog.committed_epochs(table)) == (table not in lost), table
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    assert resumed.run(seeds, n_epochs=2) == [{"epoch": 0, "skipped": True}, stats[1]]
    jobs = scheduler.numTotalJobs() - before
    assert jobs <= job_budget, jobs
    _assert_same_tables(spark, full, resumed)


def _assert_same_tables(spark, full, resumed):
    """Both epochs of all six tables are committed in ``resumed`` and match
    the uninterrupted run ``full`` row for row."""
    for table in _TABLES:
        a = full.catalog.read(spark, table)
        b = resumed.catalog.read(spark, table)
        assert sorted(resumed.catalog.committed_epochs(table)) == [0, 1], table
        assert (
            a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        ), f"{table} differs after resume"


# where epoch 1 dies inside its one commit: (os call, calls that complete)
_COMMIT_KILLS = {
    "after_staged_write": ("rename", 0),
    "after_first_rename": ("replace", 0),
    "after_third_manifest": ("replace", 3),
}


@pytest.mark.parametrize("kill", list(_COMMIT_KILLS))
def test_gated_resume_after_crash_inside_the_commit(
    spark, gated_crawl, tmp_path, monkeypatch, kill
):
    """Epoch 1 dies inside its one staged commit: after the staged write
    and before any rename, after the first table's rename and before its
    manifest replace, or after the third manifest replace. A fresh engine
    resumes the epoch within the epoch's job budget, deletes the leftover
    stage, and all six tables match the uninterrupted run row for row."""
    import os

    from web_crawler_spark.sources import catalog as C

    pages, seeds, full, stats, _jobs = gated_crawl
    crash_dir = str(tmp_path / "crash")
    eng = _gated_engine(spark, crash_dir, pages)
    eng.run_epoch(seeds, 0)
    name, done = _COMMIT_KILLS[kill]
    real, calls = getattr(C.os, name), []

    def killed(src, dst, *args, **kwargs):
        if str(dst).startswith(crash_dir):
            if len(calls) == done:
                raise _Killed(dst)
            calls.append(dst)
        return real(src, dst, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(C.os, name, killed)
        with pytest.raises(_Killed):
            eng.run_epoch(seeds, 1)
    committed = [t for t in _TABLES if 1 in eng.catalog.committed_epochs(t)]
    assert committed == list(_TABLES[:done]), committed
    assert os.path.isdir(os.path.join(crash_dir, "_stage", "epoch=1"))

    resumed = _gated_engine(spark, crash_dir, pages)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    assert resumed.run(seeds, n_epochs=2) == [{"epoch": 0, "skipped": True}, stats[1]]
    jobs = scheduler.numTotalJobs() - before
    assert jobs <= _GATED_JOB_BUDGET[1], jobs
    assert not os.path.exists(os.path.join(crash_dir, "_stage"))
    _assert_same_tables(spark, full, resumed)


def test_decide_robots_over_compiled_rules_matches_robots_decisions(spark):
    """The engine's split robots path (rules compiled once, decided per
    epoch) gives ``robots_decisions``' rows, matched rule and prefix
    included, for the gated crawl's robots plus a host with both a ``*``
    and an agent group, a ``*`` wildcard, a ``$`` anchor and an
    allow/disallow tie."""
    from web_crawler_spark.functions import urltools as U
    from web_crawler_spark.operators import robots as RB

    bodies = dict(_GATED_ROBOTS)
    bodies["mixed.example"] = (
        "User-agent: *\nDisallow: /\n\n"
        "User-agent: sparkcrawl\nDisallow: /a/*/b\nAllow: /a/x/b\n"
        "Disallow: /*.pdf$\nDisallow: /tie\nAllow: /tie\n"
    )
    rules = RB.parse_robots(
        spark.createDataFrame(sorted(bodies.items()), "host string, body string")
    )
    paths = ["/", "/nasty/1", "/links/13", "/links/13/x", "/simple_table/1",
             "/simple_table/10", "/a/y/b", "/a/x/b", "/a/b", "/doc.pdf",
             "/doc.pdf?x=1", "/tie", "/other"]
    urls = [f"https://{h}{p}" for h in [*bodies, "norules.example"] for p in paths]
    frontier = U.with_url_columns(
        spark.createDataFrame([(u,) for u in urls], "url string")
    )
    matched = set()
    for agent in ("sparkcrawl", "otherbot"):
        want = RB.robots_decisions(frontier, rules, agent)
        got = RB.decide_robots(frontier, RB.compile_rules(rules, agent).localCheckpoint())
        assert got.columns == want.columns
        a, b = sorted(want.collect(), key=repr), sorted(got.collect(), key=repr)
        assert a == b, agent
        assert len(a) == len(urls)
        assert {r["robots_allowed"] for r in a} == {True, False}
        matched |= {r["matched_rule"] for r in a}
    assert matched == {None, "allow", "disallow"}


def test_host_rules_table_matches_decisions_and_delays(spark):
    """The engine's one per-host robots table (compiled rules, a sentinel
    per host, each row carrying the host's delay) gives, through
    ``decide_robots``, ``robots_decisions``' rows plus the ``crawl_delays``
    delay (the default for a host that sets none) — for the gated crawl's
    robots plus a host with a delay and no rules and a host with rules and
    no delay — and the engine's ``delays`` lists each such host's delay."""
    from web_crawler_spark.functions import urltools as U
    from web_crawler_spark.operators import robots as RB

    bodies = dict(_GATED_ROBOTS)
    bodies["slow.example"] = "User-agent: sparkcrawl\nCrawl-delay: 5\n"
    bodies["private.example"] = "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
    rules = RB.parse_robots(
        spark.createDataFrame(sorted(bodies.items()), "host string, body string")
    )
    paths = ["/", "/nasty/1", "/links/13", "/links/13/x", "/simple_table/1",
             "/simple_table/10", "/private", "/private/ok", "/other"]
    urls = [f"https://{h}{p}" for h in [*bodies, "norules.example"] for p in paths]
    frontier = U.with_url_columns(
        spark.createDataFrame([(u,) for u in urls], "url string")
    )
    agent, default = "sparkcrawl", 2.0
    table = RB.compile_host_rules(rules, agent, default).localCheckpoint()
    delays = RB.crawl_delays(rules, agent, default)
    want = RB.robots_decisions(frontier, rules, agent).join(
        delays, "host", "left"
    ).withColumn(
        "delay_seconds",
        F.when(F.col("host").isin(list(bodies)), F.coalesce("delay_seconds", F.lit(default))),
    )
    got = RB.decide_robots(frontier, table)
    cols = sorted(want.columns)
    assert cols == sorted(got.columns)
    a = sorted(want.select(cols).collect(), key=repr)
    b = sorted(got.select(cols).collect(), key=repr)
    assert a == b
    assert len(a) == len(urls)
    assert {r["robots_allowed"] for r in a} == {True, False}
    got_delays = {
        r["host"]: r["delay_seconds"] for r in b if r["host"] != "norules.example"
    }
    assert got_delays == {
        **dict.fromkeys(bodies, default),
        "markets.businessinsider.com": 1.0,
        "slow.example": 5.0,
    }
    # one sentinel per host with rules or a delay: the engine's delays
    sentinels = table.filter(F.col("rule").isNull())
    assert sorted(
        (r["r_host"], r["delay_seconds"]) for r in sentinels.collect()
    ) == sorted(got_delays.items())


def test_seen_admits_once_across_epochs(spark, catalog_dir):
    """Cross-epoch duplicate seeds (1/3 of epoch>0 URLs repeat epoch 0's)
    must be fetched exactly once."""
    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import generate_seeds

    pages = generate_pages(spark, 60, seed=42)
    seeds = generate_seeds(spark, n_per_host=3, hot_factor=2, n_epochs=2)
    eng = CrawlEngine(spark, catalog_dir + "/c", pages, max_depth=0)
    eng.run(seeds, n_epochs=2)
    fetched = eng.catalog.read(spark, "fetched")
    dup = fetched.groupBy("url_hash").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_empty_epoch_is_graceful(spark, catalog_dir):
    """An epoch whose entire frontier is already seen (fully-duplicate
    seeds) must commit empty snapshots and keep the loop running — empty
    partitions are a classic distributed-engine crash site. With a fetch
    capacity, the per-host demand is observed over an empty schedule."""
    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import seeds_from_pages

    pages = generate_pages(spark, 120, seed=42).cache()
    seeds = seeds_from_pages(spark, 120, n_per_host=4, hot_factor=3, n_epochs=1)
    replay = seeds.unionByName(seeds.withColumn("epoch", F.lit(1)))

    for capacity in (None, 1000):
        root = f"{catalog_dir}/empty_{capacity}"
        eng = CrawlEngine(spark, root, pages, max_depth=0, epoch_fetch_capacity=capacity)
        stats = eng.run(replay, n_epochs=2)
        assert stats[0]["fetched"] > 0
        assert stats[1] == {"epoch": 1, "fetched": 0, "ok": 0}
        # the empty epoch is COMMITTED (resume must not re-run it)
        assert eng.catalog.committed_epochs("seen") == [0, 1]
        eng2 = CrawlEngine(spark, root, pages, max_depth=0, epoch_fetch_capacity=capacity)
        assert eng2.run(replay, n_epochs=2) == [
            {"epoch": 0, "skipped": True}, {"epoch": 1, "skipped": True}
        ]


def test_catalog_compaction_and_vacuum(spark, tmp_path):
    """Iceberg-style maintenance: compaction rewrites committed epochs into
    few files without changing results, epoch boundaries, or resume
    semantics; vacuum reclaims unreferenced dirs; later commits land in
    live epoch dirs and read correctly alongside the compacted set."""
    import glob
    import os

    from web_crawler_spark.sources.catalog import EpochCatalog

    cat = EpochCatalog(str(tmp_path / "cat"))
    for e in range(3):
        df = spark.range(e * 100, (e + 1) * 100, 1, 8).select(
            F.col("id"), F.lit(f"v{e}").alias("val")
        )
        cat.commit_epoch("t", e, df, lineage={"fetched": 100})
    before = cat.read(spark, "t").orderBy("id").collect()
    files_before = len(glob.glob(str(tmp_path / "cat/t/epoch=*/part-*.parquet")))
    assert files_before >= 24  # 3 epochs × 8 partitions

    stats = cat.compact(spark, "t")
    assert stats["compacted_epochs"] == 3
    after = cat.read(spark, "t").orderBy("id").collect()
    assert after == before
    files_after = len(
        glob.glob(str(tmp_path / "cat/t/_compact_g1/epoch=*/*.parquet"))
    )
    assert files_after <= 6  # few files per epoch now

    removed = cat.vacuum("t")
    assert len(removed) == 3  # the 3 live epoch dirs
    assert cat.read(spark, "t").orderBy("id").collect() == before
    # epoch-scoped reads still resolve through the compacted rewrite
    assert cat.read(spark, "t", upto_epoch=1).count() == 200

    # a post-compaction commit lands live and unions with the compacted set
    cat.commit_epoch("t", 3, spark.range(300, 350).select(
        F.col("id"), F.lit("v3").alias("val")), lineage={"fetched": 50})
    assert cat.read(spark, "t").count() == 350
    assert cat.committed_epochs("t") == [0, 1, 2, 3]
    # second compaction folds the new epoch in; old generation vacuumed
    cat.compact(spark, "t")
    removed2 = cat.vacuum("t")
    assert any("_compact_g1" in p for p in removed2)
    assert cat.read(spark, "t").count() == 350


def _read_inferred(spark, cat, table, monkeypatch):
    """``cat.read`` as if the manifest recorded no schema: inference."""
    from web_crawler_spark.sources.catalog import EpochCatalog

    manifest = EpochCatalog.manifest

    def no_schema(self, t):
        m = manifest(self, t)
        m.pop("schema", None)
        return m

    with monkeypatch.context() as m:
        m.setattr(EpochCatalog, "manifest", no_schema)
        return cat.read(spark, table)


def _read_jobs(spark, cat, table):
    """(frame, Spark jobs ``cat.read`` ran)."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    df = cat.read(spark, table)
    return df, scheduler.numTotalJobs() - before


def test_catalog_read_uses_the_committed_schema(spark, gated_crawl, tmp_path, monkeypatch):
    """``read`` passes the schema recorded at commit to the reader, so it
    runs no Spark job, and returns inference's column names, order and
    types: for a table whose ``epoch`` column is not last, after
    compaction, with a zero-row epoch, and for a manifest written without
    a schema. The crawl's six tables commit together, so their files also
    hold the other tables' columns, all null: a read returns the table's
    own columns, in its committed frame's order, with inference's types
    and rows."""
    import json

    from pyspark.sql import types as T

    from web_crawler_spark.sources.catalog import EpochCatalog

    def same(cat, table, padded=False):
        got, jobs = _read_jobs(spark, cat, table)
        want = _read_inferred(spark, cat, table, monkeypatch)
        assert jobs == 0, (table, jobs)
        if padded:
            own = T.StructType.fromJson(json.loads(cat.manifest(table)["schema"]))
            names = own.fieldNames() + ["epoch"] * ("epoch" not in own.fieldNames())
            assert got.columns == names, (table, got.columns)
            padding = [c for c in want.columns if c not in names]
            assert want.select(padding).dropna(how="all").count() == 0, table
            want = want.select(names)
        assert got.schema == want.schema, (table, got.schema, want.schema)
        assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr), table

    _pages, _seeds, eng, _stats, _jobs = gated_crawl
    for table in _TABLES:
        same(eng.catalog, table, padded=True)

    cat = EpochCatalog(str(tmp_path / "cat"))
    for e in range(3):
        n = 0 if e == 1 else 10  # epoch 1 commits no rows
        df = spark.range(e * 10, e * 10 + n, 1, 3).select(
            F.lit(e).alias("epoch"), "id",
            F.lit("2025-07-22 09:00:00").cast("timestamp").alias("ts"),
            F.lit(None).cast("double").alias("d"),
        )
        cat.commit_epoch("with_epoch", e, df)
        cat.commit_epoch("without_epoch", e, df.drop("epoch"))
    for table in ("with_epoch", "without_epoch"):
        same(cat, table)
        assert cat.read(spark, table).count() == 20
        cat.compact(spark, table)
        same(cat, table)
        cat.commit_epoch(table, 3, spark.range(1).select(
            F.lit(3).alias("epoch"), "id",
            F.lit(None).cast("timestamp").alias("ts"), F.lit(1.5).alias("d"),
        ).drop(*(["epoch"] if table == "without_epoch" else [])))
        same(cat, table)  # compacted epochs unioned with a live one

    # a manifest from before schemas were recorded still reads, by inference
    path = cat._manifest_path("with_epoch")
    with open(path) as f:
        m = json.load(f)
    want = cat.read(spark, "with_epoch")
    del m["schema"]
    with open(path, "w") as f:
        json.dump(m, f)
    got = cat.read(spark, "with_epoch")
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_commit_epochs_zero_rows_and_narrow_reads(spark, tmp_path):
    """One staged commit of a table with no rows and a table with rows that
    share no column: each reads back exactly its own columns plus
    ``epoch``, the empty one as a 0-row frame with the schema a commit of
    an empty frame on its own (one Spark write into its epoch dir) read
    back with; compaction rewrites files that hold the table's own
    columns only; tables that give one column two types are refused
    before anything is written; and the empty epoch's schema-only file
    reads beside a later epoch that Spark wrote."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from web_crawler_spark.sources.catalog import EpochCatalog

    root = str(tmp_path / "cat")
    cat = EpochCatalog(root)
    ts = F.lit("2025-07-22 09:00:00").cast("timestamp")
    frames = {
        "empty": spark.range(0).select(
            F.col("id").alias("a"), ts.alias("seen_ts"), F.lit("x").alias("s")
        ),
        "full": spark.range(5).select(
            F.col("id").cast("int").alias("b"), ts.alias("fetch_ts"),
            F.lit(None).cast("string").alias("name"),
        ),
    }
    cat.commit_epochs(0, list(frames.items()))
    assert not os.path.exists(os.path.join(root, "_stage"))
    for table, df in frames.items():
        got = cat.read(spark, table, upto_epoch=0)
        assert got.columns == [*df.columns, "epoch"], (table, got.columns)
        assert sorted(got.drop("epoch").collect()) == sorted(df.collect()), table
    assert cat.read(spark, "empty", upto_epoch=0).schema == T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("seen_ts", T.TimestampType()),
        T.StructField("s", T.StringType()),
        T.StructField("epoch", T.IntegerType()),
    ])

    before = sorted(cat.read(spark, "full").collect())
    cat.compact(spark, "full")
    assert sorted(cat.read(spark, "full").collect()) == before
    files = glob.glob(os.path.join(root, "full", "_compact_g1", "epoch=0", "*.parquet"))
    assert files and all(pq.read_schema(f).names == frames["full"].columns for f in files)

    clash = frames["full"].withColumn("a", F.lit("x"))
    with pytest.raises(TypeError):
        cat.commit_epochs(1, [("empty", frames["empty"]), ("full", clash)])
    assert cat.committed_epochs("empty") == cat.committed_epochs("full") == [0]

    # the schema-only file reads beside an epoch that Spark wrote
    schema = cat.read(spark, "empty", upto_epoch=0).schema
    rows = spark.range(3).select(F.col("id").alias("a"), ts.alias("seen_ts"), F.lit("y").alias("s"))
    cat.commit_epoch("empty", 1, rows)
    got = cat.read(spark, "empty")
    assert got.schema == schema
    assert sorted(got.drop("epoch").collect()) == sorted(rows.collect())


def test_auto_compaction_mid_crawl_preserves_resume(spark, tmp_path):
    """Compaction + vacuum between two ``run`` calls, as ``cli.py
    --compact`` runs them: the second run skips the committed epochs and
    crawls the next one against the compacted history, and a later resume
    still skips committed epochs and reads the full history."""
    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import generate_seeds

    pages = generate_pages(spark, 120)
    seeds = generate_seeds(spark, n_per_host=3, hot_factor=2, n_epochs=3)
    root = str(tmp_path / "cat")
    eng = CrawlEngine(spark, root, pages, max_depth=0)
    stats = eng.run(seeds, n_epochs=2)
    for table in ("fetched", "extracted", "outlinks", "metrics", "seen", "deferred"):
        if eng.catalog.committed_epochs(table):
            eng.catalog.compact(spark, table)
            eng.catalog.vacuum(table)
    resumed = eng.run(seeds, n_epochs=3)
    assert resumed[:2] == [{"epoch": 0, "skipped": True}, {"epoch": 1, "skipped": True}]
    stats += resumed[2:]
    assert [s.get("skipped", False) for s in stats] == [False] * 3
    assert eng.catalog.manifest("seen").get("compaction", {}).get("upto") == 1
    total = eng.catalog.read(spark, "seen").count()
    # resume skips all three epochs and the compacted reads still resolve
    eng2 = CrawlEngine(spark, root, pages, max_depth=0)
    assert all(s["skipped"] for s in eng2.run(seeds, n_epochs=3))
    assert eng2.catalog.read(spark, "seen").count() == total
    assert eng2.catalog.committed_epochs("seen") == [0, 1, 2]


class _Killed(Exception):
    """Stands in for the process dying at a chosen point."""


def _three_epoch_catalog(spark, root):
    from web_crawler_spark.sources.catalog import EpochCatalog

    cat = EpochCatalog(root)
    for e in range(3):
        df = spark.range(e * 100, (e + 1) * 100, 1, 4).select(
            F.col("id"), F.lit(f"v{e}").alias("val")
        )
        cat.commit_epoch("t", e, df, lineage={"fetched": 100})
    return cat


def test_compaction_killed_before_manifest_replace(spark, tmp_path, monkeypatch):
    """A compaction killed after its ``_compact_g1`` rewrite and before the
    manifest replace leaves the committed reads as they were (the manifest
    still points at the live epoch dirs); the next compact overwrites the
    orphaned rewrite and commits it."""
    import os

    from web_crawler_spark.sources import catalog as C

    cat = _three_epoch_catalog(spark, str(tmp_path / "cat"))
    before = cat.read(spark, "t").orderBy("id").collect()
    manifest_before = cat.manifest("t")

    def killed(src, dst):
        raise _Killed(dst)

    with monkeypatch.context() as m:
        m.setattr(C.os, "replace", killed)
        with pytest.raises(_Killed):
            cat.compact(spark, "t")
    assert os.path.isdir(tmp_path / "cat/t/_compact_g1")  # the rewrite landed
    assert cat.manifest("t") == manifest_before  # ...but is not committed
    assert cat.read(spark, "t").orderBy("id").collect() == before
    assert cat.vacuum("t") == []  # no committed compaction: nothing to reclaim

    assert cat.compact(spark, "t") == {"table": "t", "compacted_epochs": 3, "gen": 1}
    assert cat.manifest("t")["compaction"] == {
        "gen": 1, "upto": 2, "dir": "_compact_g1"
    }
    assert cat.read(spark, "t").orderBy("id").collect() == before
    assert len(cat.vacuum("t")) == 3


def test_vacuum_killed_mid_delete(spark, tmp_path, monkeypatch):
    """A vacuum killed after deleting one of the epoch dirs the compaction
    covers leaves reads as they were (they resolve through the committed
    rewrite); a second vacuum removes the rest."""
    import shutil

    from web_crawler_spark.sources import catalog as C

    cat = _three_epoch_catalog(spark, str(tmp_path / "cat"))
    before = cat.read(spark, "t").orderBy("id").collect()
    cat.compact(spark, "t")
    rmtree, deleted = shutil.rmtree, []

    def rmtree_then_die(path, *args, **kwargs):
        if deleted:
            raise _Killed(path)
        rmtree(path, *args, **kwargs)
        deleted.append(path)

    with monkeypatch.context() as m:
        m.setattr(C.shutil, "rmtree", rmtree_then_die)
        with pytest.raises(_Killed):
            cat.vacuum("t")
    assert len(deleted) == 1
    assert len(list((tmp_path / "cat/t").glob("epoch=*"))) == 2
    assert cat.read(spark, "t").orderBy("id").collect() == before

    assert len(cat.vacuum("t")) == 2
    assert list((tmp_path / "cat/t").glob("epoch=*")) == []
    assert cat.read(spark, "t").orderBy("id").collect() == before


def test_snapshot_asof_and_change_detection(spark):
    """Crawl-history ops: as-of cut keeps the latest version ≤ cutoff per
    url; change bits flag only genuinely-changed recrawls."""
    from web_crawler_spark.operators import snapshots as SN

    pages = spark.createDataFrame(
        [
            ("u1", "2025-01-01 00:00:00", "alpha"),
            ("u1", "2025-01-02 00:00:00", "alpha"),       # unchanged recrawl
            ("u1", "2025-01-03 00:00:00", "beta"),        # changed, after cutoff
            ("u2", "2025-01-01 12:00:00", "gamma"),
            ("u3", "2025-01-04 00:00:00", "delta"),       # entirely after cutoff
        ],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))

    snap = {r["url"]: r["text"] for r in SN.snapshot_asof(pages, "2025-01-02 12:00:00").collect()}
    assert snap == {"u1": "alpha", "u2": "gamma"}   # u3 not yet crawled at T

    ch = [
        (r["key"], r["version_no"], r["changed"])
        for r in SN.change_detection(pages).orderBy("key", "version_no").collect()
    ]
    assert ch == [
        ("u1", 1, True), ("u1", 2, False), ("u1", 3, True),
        ("u2", 1, True), ("u3", 1, True),
    ]


def test_host_graph_and_pagerank(spark):
    """Graph analytics over outlinks: edge aggregation + iterative PageRank
    (ring → uniform ranks; hub → sink dominates; mass conserved)."""
    from web_crawler_spark.operators import graph as G

    links = spark.createDataFrame(
        [
            ("https://a.com/1", "https://b.com/x"),
            ("https://a.com/2", "https://b.com/y"),
            ("https://b.com/1", "https://c.com/z"),
            ("https://c.com/1", "https://a.com/w"),
            ("https://a.com/3", "https://a.com/self"),  # self-loop dropped
        ],
        "from_url string, resolved_url string",
    )
    edges = {(r["src_host"], r["dst_host"]): r["n_links"] for r in G.host_graph(links).collect()}
    assert edges == {("a.com", "b.com"): 2, ("b.com", "c.com"): 1, ("c.com", "a.com"): 1}

    ring = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)],
        "src_host string, dst_host string, n_links long",
    )
    ranks = {r["node"]: r["rank"] for r in G.pagerank(ring, 20).collect()}
    assert all(abs(v - 1.0) < 1e-6 for v in ranks.values()), ranks

    hub = spark.createDataFrame(
        [("a", "c", 1), ("b", "c", 1)], "src_host string, dst_host string, n_links long"
    )
    hr = {r["node"]: r["rank"] for r in G.pagerank(hub, 30).collect()}
    assert hr["c"] > hr["a"] == hr["b"]
    assert abs(sum(hr.values()) - 3.0) < 1e-4  # dangling mass redistributed


def test_recrawl_priority_semantics(spark):
    """Change-rate × staleness: a frequently-changing URL outranks a
    static one; single-fetch URLs have zero priority (no evidence)."""
    from web_crawler_spark.operators import snapshots as SN

    rows = []
    # churner: 4 fetches over 300s, content changes every fetch
    for i in range(4):
        rows.append(("https://a/churn", f"2025-01-01 00:0{i}:40", f"body v{i}"))
    # static: 4 fetches, same content
    for i in range(4):
        rows.append(("https://a/static", f"2025-01-01 00:0{i}:40", "same body"))
    # single fetch
    rows.append(("https://a/once", "2025-01-01 00:00:40", "only"))
    df = spark.createDataFrame(rows, ["url", "ts", "text"]).withColumn(
        "warc_ts", F.col("ts").cast("timestamp")
    )
    out = {
        r["url"]: r
        for r in SN.recrawl_priority(df, "2025-01-01 01:00:00", ts_col="warc_ts").collect()
    }
    assert out["https://a/churn"]["n_changes"] == 3
    assert out["https://a/static"]["n_changes"] == 0
    assert out["https://a/once"]["priority"] == 0.0
    assert out["https://a/churn"]["priority"] > out["https://a/static"]["priority"]
    assert out["https://a/static"]["priority"] == 0.0


def test_hits_hubs_and_authorities(spark):
    from web_crawler_spark.operators import graph as G

    # h1,h2,h3 all link to "auth"; "hub" links to everything
    edges = spark.createDataFrame(
        [("h1", "auth", 1), ("h2", "auth", 1), ("h3", "auth", 1),
         ("hub", "auth", 1), ("hub", "h1", 1), ("hub", "h2", 1),
         ("hub", "h3", 1)],
        ["src_host", "dst_host", "n_links"],
    )
    got = {r["node"]: r for r in G.hits(edges, iterations=15).collect()}
    # auth is the top authority, hub the top hub
    assert max(got.values(), key=lambda r: r["authority"])["node"] == "auth"
    assert max(got.values(), key=lambda r: r["hub"])["node"] == "hub"
    # L1 normalization: each score family sums to ~1
    assert abs(sum(r["hub"] for r in got.values()) - 1.0) < 1e-4
    assert abs(sum(r["authority"] for r in got.values()) - 1.0) < 1e-4
    # auth has no out-links -> zero hub; hub has no in-links -> zero authority
    assert got["auth"]["hub"] == 0.0 and got["hub"]["authority"] == 0.0


def test_hits_empty_graph(spark):
    from web_crawler_spark.operators import graph as G

    edges = spark.createDataFrame([], "src_host string, dst_host string, n_links long")
    assert G.hits(edges).count() == 0


def test_trustrank_demotes_spam_farm(spark):
    """Trust flows from seeds through endorsed links; a spam clique with
    the same raw in-link count as a trusted page gets ~zero trust because
    no seed path reaches it (Gyöngyi et al. 2004 semantics)."""
    from web_crawler_spark.operators import graph as G

    edges = spark.createDataFrame(
        # seed -> good -> article chain, plus a 3-node spam clique that
        # links to itself heavily and even links INTO good (which must
        # not leak trust back out to the clique).
        [("seed.com", "good.com", 5), ("good.com", "article.com", 3),
         ("spam1.com", "spam2.com", 9), ("spam2.com", "spam3.com", 9),
         ("spam3.com", "spam1.com", 9), ("spam1.com", "good.com", 1)],
        ["src_host", "dst_host", "n_links"],
    )
    seeds = spark.createDataFrame([("seed.com",)], "node string")
    got = {r["node"]: r["trust"] for r in G.trustrank(edges, seeds, 20).collect()}
    assert got["good.com"] > got["article.com"] > 0
    assert got["seed.com"] > 0                      # teleport keeps seeds warm
    for s in ("spam1.com", "spam2.com", "spam3.com"):
        assert got[s] == 0.0                        # unreachable from seeds
    assert abs(sum(got.values()) - 1.0) < 1e-4      # total trust invariant


def test_trustrank_seed_edge_cases(spark):
    from web_crawler_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a.com", "b.com", 1)], ["src_host", "dst_host", "n_links"]
    )
    # seeds not present in the graph are ignored -> empty effective set
    ghost = spark.createDataFrame([("nowhere.com",)], "node string")
    got = {r["node"]: r["trust"] for r in G.trustrank(edges, ghost).collect()}
    assert got == {"a.com": 0.0, "b.com": 0.0}
    # dangling seed: b has no out-edges; its mass re-teleports to itself
    seeds = spark.createDataFrame([("b.com",)], "node string")
    got = {r["node"]: r["trust"] for r in G.trustrank(edges, seeds, 10).collect()}
    assert got["b.com"] > 0.9 and got["a.com"] == 0.0


def test_spam_mass_flags_link_farm(spark):
    """Relative spam mass (Gyöngyi et al. 2006): a farm pumping rank among
    itself with no path from the trusted core reads rel_mass 1.0; the
    core-endorsed chain reads low; the mass identity holds row-for-row."""
    from web_crawler_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("seed.com", "good.com", 5), ("good.com", "article.com", 3),
         ("spam1.com", "spam2.com", 9), ("spam2.com", "spam3.com", 9),
         ("spam3.com", "spam1.com", 9), ("spam1.com", "good.com", 1)],
        ["src_host", "dst_host", "n_links"],
    )
    seeds = spark.createDataFrame([("seed.com",)], "node string")
    rows = G.spam_mass(edges, seeds, iterations=20).collect()
    got = {r["node"]: r for r in rows}
    n, k = len(got), 1
    for r in rows:
        assert r["mass"] == round((r["rank"] - r["trust"] * k) / n, 6)
    for s in ("spam1.com", "spam2.com", "spam3.com"):
        assert got[s]["rel_mass"] == 1.0        # zero trust, all mass spam
    assert got["good.com"]["rel_mass"] < got["spam1.com"]["rel_mass"]
    assert got["seed.com"]["rel_mass"] < got["good.com"]["rel_mass"]


def test_spam_mass_no_effective_seeds(spark):
    """No trusted core in the graph: every node's rank is all spam mass."""
    from web_crawler_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a.com", "b.com", 1)], ["src_host", "dst_host", "n_links"]
    )
    ghost = spark.createDataFrame([("nowhere.com",)], "node string")
    rows = G.spam_mass(edges, ghost).collect()
    assert all(r["trust"] == 0.0 and r["rel_mass"] == 1.0 for r in rows)


def test_host_report(spark):
    from web_crawler_spark.operators import aggregate as A

    en = ("the crawler is a program that walks the web and it is written "
          "for the purpose of fetching pages. It is careful and polite.")
    de = ("der Hund und die Katze sind nicht ein Problem mit der Zeit und "
          "das ist von der Sache nicht zu trennen.")
    pages = spark.createDataFrame(
        [("https://a.com/1", en), ("https://a.com/2", en + " More text."),
         ("https://a.com/3", en),                     # exact dup of /1
         ("https://b.com/1", de), ("https://b.com/2", de + " Noch mehr.")],
        "url string, text string",
    )
    got = {r["host"]: r for r in A.host_report(pages).collect()}
    a, b = got["a.com"], got["b.com"]
    assert a["n_pages"] == 3 and a["n_urls"] == 3
    assert a["top_lang"] == "en" and b["top_lang"] == "de"
    assert a["dup_rate"] == pytest.approx(1 / 3)      # /3 duplicates /1
    assert b["dup_rate"] == 0.0
    assert 0.0 < a["avg_quality"] <= 1.0


def test_opic_update_conserves_cash(spark):
    """One OPIC round: cash is conserved, banked into history, dangling
    nodes redistribute uniformly, priority ranks the well-linked node up
    and cash flows over multiple rounds stay conserved."""
    from web_crawler_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1), ("b", "c", 2)],
        ["src_host", "dst_host", "n_links"],
    )  # c is dangling (no out-edges)
    cash = spark.createDataFrame(
        [("a", 1.0, 0.0), ("b", 1.0, 0.0), ("c", 1.0, 0.0)],
        "node string, cash double, history double",
    )
    r1 = G.opic_update(cash, edges)
    got = {r["node"]: r for r in r1.collect()}
    total = sum(r["cash"] for r in got.values())
    assert total == pytest.approx(3.0)              # conservation
    assert got["c"]["cash"] > got["b"]["cash"] > 0  # c gets a->c, b->c, share
    assert all(r["history"] == 1.0 for r in got.values())
    assert got["c"]["priority"] == pytest.approx(1.0 + got["c"]["cash"])

    # second round: history accumulates, cash still conserved
    r2 = G.opic_update(r1.select("node", "cash", "history"), edges)
    got2 = {r["node"]: r for r in r2.collect()}
    assert sum(r["cash"] for r in got2.values()) == pytest.approx(3.0)
    for n in got2:
        assert got2[n]["history"] == pytest.approx(
            got[n]["history"] + got[n]["cash"])


def test_circuit_breaker_semantics(spark):
    from web_crawler_spark.operators import politeness as P

    rows = []
    # failing host: 12 straight 503s -> open, resume 300s after last
    for i in range(12):
        rows.append(("down.com", f"2025-01-01 00:00:{i:02d}", 503))
    # healthy host with sparse 404s -> closed (4xx never counts)
    for i in range(12):
        rows.append(("ok.com", f"2025-01-01 00:00:{i:02d}",
                     404 if i % 6 == 0 else 200))
    # fresh host, only 3 fetches all 503 -> NOT open (window not full)
    for i in range(3):
        rows.append(("new.com", f"2025-01-01 00:00:{i:02d}", 503))
    log = spark.createDataFrame(rows, "host string, fetch_ts string, status int") \
        .withColumn("fetch_ts", F.col("fetch_ts").cast("timestamp"))
    got = {r["host"]: r for r in P.host_circuit_breaker(log).collect()}
    assert got["down.com"]["breaker_open"] is True
    assert str(got["down.com"]["resume_ts"]) == "2025-01-01 00:05:11"
    assert got["ok.com"]["breaker_open"] is False
    assert got["ok.com"]["resume_ts"] is None
    assert got["new.com"]["breaker_open"] is False  # insufficient evidence
    # a fractional cooldown is kept to the millisecond, not truncated
    short = {r["host"]: r for r in
             P.host_circuit_breaker(log, cooldown_seconds=1.5).collect()}
    assert str(short["down.com"]["resume_ts"]) == "2025-01-01 00:00:12.500000"
    assert short["ok.com"]["resume_ts"] is None


def test_revalidation_headers(spark):
    from web_crawler_spark.operators import snapshots as SN

    hist = spark.createDataFrame(
        [("u1", "2025-01-01 10:00:00", "old content"),
         ("u1", "2025-02-03 04:05:06", "new content"),
         ("u2", "2025-01-01 00:00:00", "only version")],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    got = {r["url"]: r for r in SN.revalidation_headers(hist).collect()}
    assert got["u1"]["if_modified_since"] == "Mon, 03 Feb 2025 04:05:06 GMT"
    assert got["u1"]["if_none_match"].startswith('"') and \
           got["u1"]["if_none_match"].endswith('"')
    # the validator tracks the LATEST capture's content
    import hashlib
    assert hashlib.md5(b"new content").hexdigest() in got["u1"]["if_none_match"]


def test_sitemap_refresh_candidates(spark):
    from web_crawler_spark.operators import snapshots as SN

    hist = spark.createDataFrame(
        [("u1", "2025-01-10 00:00:00"),   # lastmod after -> stale
         ("u1", "2025-01-05 00:00:00"),
         ("u2", "2025-03-01 00:00:00"),   # lastmod before latest -> not a candidate
         ("u3", "2025-01-01 00:00:00")],  # no parseable lastmod -> not a candidate
        "url string, warc_ts string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    entries = spark.createDataFrame(
        [("u1", "2025-02-01"),            # date-only W3C form, > 01-10
         ("u2", "2025-01-15T00:00:00"),   # datetime form, < 03-01
         ("u3", "not-a-date"),            # malformed: no evidence, never fails
         ("u4", None),                    # never captured -> 'new'
         ("u5", "2024-01-01")],           # never captured -> 'new' even w/ old lastmod
        "loc string, lastmod string",
    )
    got = {r["url"]: r["reason"]
           for r in SN.sitemap_refresh_candidates(hist, entries).collect()}
    assert got == {"u1": "stale", "u4": "new", "u5": "new"}


def test_aimd_host_delay_replay(spark):
    from web_crawler_spark.operators.politeness import aimd_host_delay

    # h1: fast-ok, slow, ok, 503 -> 1000-100=900, *2=1800, -100=1700, *2=3400
    log = spark.createDataFrame(
        [("h1", 1, 200, 100), ("h1", 2, 200, 700),
         ("h1", 3, 200, 100), ("h1", 4, 503, 100),
         ("h2", 1, 200, 10)],
        "host string, fetch_ts int, status int, latency_ms int",
    )
    got = {r["host"]: r for r in aimd_host_delay(log).collect()}
    assert got["h1"]["delay_ms"] == 3400 and got["h1"]["n_backoffs"] == 2
    assert got["h2"]["delay_ms"] == 900 and got["h2"]["n_backoffs"] == 0
    # clamps: floor at min_ms, cap at max_ms
    floor_log = spark.createDataFrame(
        [("h", t, 200, 10) for t in range(20)],
        "host string, fetch_ts int, status int, latency_ms int",
    )
    assert aimd_host_delay(floor_log).collect()[0]["delay_ms"] == 250
    burst = spark.createDataFrame(
        [("h", t, 503, 10) for t in range(10)],
        "host string, fetch_ts int, status int, latency_ms int",
    )
    assert aimd_host_delay(burst).collect()[0]["delay_ms"] == 60_000


def test_robots_cache_policy_states(spark):
    from pyspark.sql import functions as F

    from web_crawler_spark.operators.robots import robots_cache_policy

    log = spark.createDataFrame(
        [("fresh.com", "2025-01-02 00:00:00", 200),
         ("old.com", "2024-12-01 00:00:00", 200),
         ("gone.com", "2025-01-02 00:00:00", 404),
         ("down.com", "2025-01-01 23:00:00", 503),
         ("down.com", "2025-01-01 00:00:00", 200),
         ("longdown.com", "2024-11-01 00:00:00", 503),
         ("longdown.com", "2024-10-01 00:00:00", 200),
         ("neverup.com", "2024-11-01 00:00:00", 503)],
        "host string, fetch_ts string, status int",
    ).withColumn("fetch_ts", F.col("fetch_ts").cast("timestamp"))
    got = {r["host"]: r for r in
           robots_cache_policy(log, "2025-01-02 12:00:00").collect()}
    assert got["fresh.com"]["state"] == "fresh"
    assert got["old.com"]["state"] == "refetch_due"
    assert got["old.com"]["refetch_due"] is True
    assert got["gone.com"]["state"] == "unavailable_allow"
    assert got["down.com"]["state"] == "unreachable_disallow"
    assert got["down.com"]["refetch_due"] is True
    # unreachable past the grace window: cached copy usable / allow without one
    assert got["longdown.com"]["state"] == "unreachable_stale_cache_ok"
    assert got["neverup.com"]["state"] == "unavailable_allow"


def test_frontier_select_exact_and_no_global_sort(spark):
    from web_crawler_spark.plans.epoch import frontier_select

    df = spark.range(1000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 5).alias("priority"),
    )
    picked = frontier_select(df, 450)
    rows = picked.collect()
    assert len(rows) == 450
    # all of levels 4 and 3 (200 each), 50 tie-broken seats from level 2
    by_p = {}
    for r in rows:
        by_p[r["priority"]] = by_p.get(r["priority"], 0) + 1
    assert by_p == {4: 200, 3: 200, 2: 50}
    # the 50 boundary seats are the md5-first ones (deterministic)
    import hashlib
    lvl2 = sorted(
        (f"u{i}" for i in range(1000) if i % 5 == 2),
        key=lambda u: (hashlib.md5(u.encode()).hexdigest(), u),
    )[:50]
    assert sorted(r["url"] for r in rows if r["priority"] == 2) == sorted(lvl2)
    # n >= total: pass-through, still no sort
    assert frontier_select(df, 10_000).count() == 1000
    # the plan sorts ONLY the boundary level: no global Sort over the
    # unfiltered frontier (TakeOrdered applies to the pri==T subset)
    plan = picked._jdf.queryExecution().executedPlan().toString()
    assert plan.count("TakeOrderedAndProject") == 1


def test_revalidation_fetch_statuses(spark):
    from web_crawler_spark.operators.snapshots import revalidation_fetch

    hist = spark.createDataFrame(
        [("u1", "2025-01-01 00:00:00", "old"),
         ("u1", "2025-01-02 00:00:00", "same content"),
         ("u2", "2025-01-01 00:00:00", "will change"),
         ("u3", "2025-01-01 00:00:00", "will vanish")],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    corpus = spark.createDataFrame(
        [("u1", "same content"), ("u2", "changed now")],
        "url string, text string",
    )
    got = {r["url"]: r for r in revalidation_fetch(hist, corpus).collect()}
    # validator compares against the LATEST capture, not any older one
    assert got["u1"]["status"] == 304 and got["u1"]["body"] is None
    assert got["u2"]["status"] == 200 and got["u2"]["body"] == "changed now"
    assert got["u3"]["status"] == 404 and got["u3"]["body"] is None
    assert str(got["u1"]["prior_ts"]) == "2025-01-02 00:00:00"


def test_frontier_gini_known_values(spark):
    from web_crawler_spark.operators.aggregate import frontier_gini

    even = spark.createDataFrame(
        [(f"h{i % 4}",) for i in range(40)], "host string")
    r = frontier_gini(even).collect()[0]
    assert r["n_hosts"] == 4 and r["n_urls"] == 40 and r["gini"] == 0.0
    # one host owns 97 of 100 urls: G approaches 1
    skew = spark.createDataFrame(
        [("hot",)] * 97 + [("a",), ("b",), ("c",)], "host string")
    r = frontier_gini(skew).collect()[0]
    # exact: depths [1,1,1,97], n=4 -> sum((2i-5)*x)= -3-1+1+3*97=288; /(4*100)=0.72
    assert r["gini"] == 0.72


def test_politeness_by_ip_shares_server_budget(spark):
    import pyspark.sql.functions as F

    from web_crawler_spark.operators.politeness import politeness_schedule_by_ip

    frontier = spark.createDataFrame(
        [("a.com", 1, "https://a.com/1"), ("a.com", 2, "https://a.com/2"),
         ("b.com", 1, "https://b.com/1"),   # vhost of the same server as a.com
         ("c.com", 1, "https://c.com/1")],  # own server
        ["host", "priority", "url"],
    )
    ips = spark.createDataFrame(
        [("a.com", "10.0.0.1"), ("b.com", "10.0.0.1"), ("c.com", "10.0.0.2")],
        ["host", "ip"],
    )
    out = politeness_schedule_by_ip(
        frontier, ips, F.lit("2025-07-22 09:00:00").cast("timestamp"),
        delay_seconds=2.0,
    ).collect()
    by_url = {r["url"]: r for r in out}
    # a.com + b.com share ip 10.0.0.1: their three URLs -> seq 1..3 in
    # (priority, host, url) order: a/1, b/1 (both prio 1, host order), a/2
    assert by_url["https://a.com/1"]["seq"] == 1
    assert by_url["https://b.com/1"]["seq"] == 2
    assert by_url["https://a.com/2"]["seq"] == 3
    # c.com is alone on its server: seq restarts
    assert by_url["https://c.com/1"]["seq"] == 1
    # 2s spacing WITHIN the shared lane
    ts = sorted(r["scheduled_ts"] for r in out if r["ip_key"] == "10.0.0.1")
    assert (ts[1] - ts[0]).total_seconds() == 2.0
    assert (ts[2] - ts[1]).total_seconds() == 2.0


def test_politeness_by_ip_unmapped_host_self_keys(spark):
    import pyspark.sql.functions as F

    from web_crawler_spark.operators.politeness import politeness_schedule_by_ip

    frontier = spark.createDataFrame(
        [("x.org", 1, "https://x.org/1")], ["host", "priority", "url"]
    )
    ips = spark.createDataFrame([("other.com", "10.9.9.9")], ["host", "ip"])
    row = politeness_schedule_by_ip(
        frontier, ips, F.lit("2025-07-22 09:00:00").cast("timestamp")
    ).collect()[0]
    assert row["ip_key"] == "x.org" and row["seq"] == 1


def test_change_magnitude_grades_edits(spark):
    from web_crawler_spark.operators.snapshots import change_magnitude

    rows = [
        ("u", "2025-01-01 00:00:00", "a b c d e f"),
        ("u", "2025-01-02 00:00:00", "a b c d e f"),          # identical
        ("u", "2025-01-03 00:00:00", "a b c d e CHANGED"),    # small edit
        ("u", "2025-01-04 00:00:00", "totally new words now here"),  # rewrite
        ("v", "2025-01-01 00:00:00", ""),
        ("v", "2025-01-02 00:00:00", ""),                     # empty == empty
    ]
    df = spark.createDataFrame(rows, ["url", "warc_ts", "text"]).withColumn(
        "warc_ts", F.col("warc_ts").cast("timestamp")
    )
    got = {(r["key"], r["version_no"]): (r["jaccard"], r["change_magnitude"])
           for r in change_magnitude(df).collect()}
    assert got[("u", 1)] == (None, None)
    assert got[("u", 2)] == (1.0, 0.0)
    jac3, mag3 = got[("u", 3)]
    assert 0.0 < jac3 < 1.0 and abs(mag3 - (1.0 - jac3)) < 1e-9
    assert got[("u", 4)] == (0.0, 1.0)
    assert got[("v", 2)] == (1.0, 0.0)


def test_epoch_fetch_capacity_waterfills(spark, catalog_dir):
    """epoch_fetch_capacity: total fetches per epoch ≤ capacity exactly,
    small hosts fully served, the hot host absorbs the squeeze — and its
    overflow defers to the next epoch, not dropped."""
    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import seeds_from_pages

    pages = generate_pages(spark, 240, seed=42).cache()
    # hot host ~30 URLs/epoch, others ~6
    seeds = seeds_from_pages(spark, 240, n_per_host=6, hot_factor=5, n_epochs=2)

    eng = CrawlEngine(
        spark, catalog_dir + "/wf", pages, max_depth=0,
        epoch_fetch_capacity=40,
    )
    eng.run(seeds, n_epochs=2)

    fetched = eng.catalog.read(spark, "fetched")
    per_epoch = {r["epoch"]: r["n"] for r in
                 fetched.groupBy("epoch").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n <= 40 for n in per_epoch.values()), per_epoch
    assert per_epoch[0] == 40  # demand exceeds capacity -> spent exactly
    per_host0 = {r["host"]: r["n"] for r in
                 fetched.filter(F.col("epoch") == 0)
                 .groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()}
    # small hosts (~6 URLs) fully served in epoch 0
    smalls = [n for h, n in per_host0.items() if n <= 6]
    assert len(smalls) >= 2
    deferred = eng.catalog.read(spark, "deferred")
    assert deferred is not None and deferred.filter(F.col("epoch") == 0).count() > 0


def test_epoch_fetch_capacity_with_per_host_cap(spark, catalog_dir):
    """epoch_fetch_capacity and max_per_host_per_epoch together: each
    host fetches at most the lesser of its water-fill budget and the cap,
    the epoch at most the capacity, and every scheduled URL is either
    fetched or deferred."""
    from test_waterfill import _py_waterfill

    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import seeds_from_pages

    pages = generate_pages(spark, 240, seed=42).cache()
    # per epoch: one hot host ~30 URLs, four ~6. Epoch 0's water-fill
    # gives one small host 6 (above the cap) and the rest 5 (below demand)
    seeds = seeds_from_pages(spark, 240, n_per_host=6, hot_factor=5, n_epochs=2)
    capacity, cap = 26, 5
    eng = CrawlEngine(
        spark, catalog_dir + "/wfcap", pages, max_depth=0,
        epoch_fetch_capacity=capacity, max_per_host_per_epoch=cap,
    )
    eng.run(seeds, n_epochs=2)

    fetched = eng.catalog.read(spark, "fetched")
    deferred = eng.catalog.read(spark, "deferred")

    def per_host(df):
        return {r["host"]: r["count"] for r in df.groupBy("host").count().collect()}

    for epoch in range(2):
        # the epoch's admitted frontier, rebuilt from the committed
        # catalog: seeds + epoch-1 deferrals, minus URLs already fetched
        frontier = eng._frontier_for(seeds, epoch).join(
            fetched.filter(F.col("epoch") < epoch).select("url_hash"),
            "url_hash", "left_anti",
        )
        demand = per_host(frontier)
        got = per_host(fetched.filter(F.col("epoch") == epoch))
        put_off = per_host(deferred.filter(F.col("epoch") == epoch))
        budget = _py_waterfill(demand, capacity)
        if epoch == 0:
            assert any(b > cap for b in budget.values()), budget
            assert any(b < demand[h] for h, b in budget.items()), budget
        assert all(n <= min(budget[h], cap) for h, n in got.items()), (got, budget)
        assert sum(got.values()) <= capacity, got
        assert Counter(got) + Counter(put_off) == Counter(demand)


def test_change_rate_poisson_estimator(spark):
    """Cho & Garcia-Molina bias-corrected MLE: lambda_hat matches the
    closed form -ln((n-X+.5)/(n+.5))/Ibar computed independently in
    Python; X=n stays finite; no-evidence URLs score zero; p_changed
    ranks the all-changed URL above the half-changed one at equal age."""
    import math

    from web_crawler_spark.operators import snapshots as SN

    rows = []
    # every-visit churner: 4 fetches, 60s apart, all changed (X=n=3)
    for i in range(4):
        rows.append(("https://a/churn", f"2025-01-01 00:0{i}:00", f"v{i}"))
    # half-churner: changes on fetches 2 and 4 only (X=2 of n=3)
    for i, body in enumerate(["a", "b", "b", "c"]):
        rows.append(("https://a/half", f"2025-01-01 00:0{i}:00", body))
    # static + single-fetch
    for i in range(4):
        rows.append(("https://a/static", f"2025-01-01 00:0{i}:00", "same"))
    rows.append(("https://a/once", "2025-01-01 00:00:00", "only"))
    df = spark.createDataFrame(rows, ["url", "ts", "text"]).withColumn(
        "warc_ts", F.col("ts").cast("timestamp")
    )
    out = {
        r["url"]: r
        for r in SN.change_rate_poisson(
            df, "2025-01-01 00:04:00", ts_col="warc_ts"
        ).collect()
    }

    def ref(n, x, ibar):
        return round(-math.log((n - x + 0.5) / (n + 0.5)) / ibar, 9)

    churn = out["https://a/churn"]
    assert (churn["n_intervals"], churn["n_changed"]) == (3, 3)
    assert churn["lambda_hat"] == ref(3, 3, 60.0)  # finite at X=n
    half = out["https://a/half"]
    assert (half["n_intervals"], half["n_changed"]) == (3, 2)
    assert half["lambda_hat"] == ref(3, 2, 60.0)
    assert out["https://a/static"]["lambda_hat"] == 0.0
    assert out["https://a/once"]["lambda_hat"] == 0.0
    assert out["https://a/once"]["p_changed"] == 0.0
    # same last-fetch age -> p_changed ordering follows lambda
    assert churn["p_changed"] > half["p_changed"] > 0.0
    assert out["https://a/static"]["p_changed"] == 0.0
    # p_changed is the Poisson survival complement of lambda*age (60 s)
    age = 60.0
    assert abs(churn["p_changed"] - round(1 - math.exp(-churn["lambda_hat"] * age), 6)) == 0


def test_salsa_authority_proportional_to_indegree(spark):
    # Lempel & Moran 2001: on a connected authority chain the stationary
    # authority mass is proportional to (weighted) in-degree — the
    # closed-form that distinguishes SALSA from HITS.
    from web_crawler_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("hub", "a1", 1), ("hub", "a2", 1), ("h1", "a1", 1),
         ("h2", "a1", 1), ("h2", "a2", 1)],
        ["src_host", "dst_host", "n_links"],
    )
    got = {r["node"]: r for r in G.salsa(edges, iterations=40).collect()}
    assert abs(got["a1"]["authority"] - 3 / 5) < 1e-4
    assert abs(got["a2"]["authority"] - 2 / 5) < 1e-4
    # chain mass is conserved without renormalization
    assert abs(sum(r["authority"] for r in got.values()) - 1.0) < 1e-4
    assert abs(sum(r["hub"] for r in got.values()) - 1.0) < 1e-4
    # no in-links -> authority 0; no out-links -> hub 0
    assert got["hub"]["authority"] == 0.0 and got["a1"]["hub"] == 0.0


def test_salsa_matches_pure_python_reference(spark):
    # exact parity (rounded 6) with an independent dict-based
    # implementation of the same two-step walk on a weighted asymmetric
    # graph — certification doesn't rest on Spark agreeing with itself.
    from web_crawler_spark.operators import graph as G

    raw = [("u", "v", 3), ("u", "w", 1), ("x", "v", 2), ("w", "x", 5),
           ("v", "w", 1), ("y", "w", 4)]
    edges = spark.createDataFrame(raw, ["src_host", "dst_host", "n_links"])
    it = 7
    got = {r["node"]: r for r in G.salsa(edges, iterations=it).collect()}

    inw, outw = {}, {}
    for s, d, w in raw:
        inw[d] = inw.get(d, 0.0) + w
        outw[s] = outw.get(s, 0.0) + w
    auths = sorted(inw)
    hubs = sorted(outw)
    a = {n: 1.0 / len(auths) for n in auths}
    h = {n: 1.0 / len(hubs) for n in hubs}
    for _ in range(it):
        am = {}
        for s, d, w in raw:
            am[s] = am.get(s, 0.0) + (w / inw[d]) * a.get(d, 0.0)
        a2 = {}
        for s, d, w in raw:
            a2[d] = a2.get(d, 0.0) + (w / outw[s]) * am.get(s, 0.0)
        a = a2
        hm = {}
        for s, d, w in raw:
            hm[d] = hm.get(d, 0.0) + (w / outw[s]) * h.get(s, 0.0)
        h2 = {}
        for s, d, w in raw:
            h2[s] = h2.get(s, 0.0) + (w / inw[d]) * hm.get(d, 0.0)
        h = h2
    for n in set(auths) | set(hubs):
        assert abs(got[n]["authority"] - round(a.get(n, 0.0), 6)) <= 1e-6
        assert abs(got[n]["hub"] - round(h.get(n, 0.0), 6)) <= 1e-6


def test_salsa_empty_graph(spark):
    from web_crawler_spark.operators import graph as G

    edges = spark.createDataFrame([], "src_host string, dst_host string, n_links long")
    assert G.salsa(edges).count() == 0


def test_seed_distance_min_depth_and_cap(spark):
    from web_crawler_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"),   # shortcut a->d
         ("d", "e"), ("e", "f"), ("f", "g"),               # tail past the cap
         ("z1", "z2")],                                    # disconnected
        ["src_host", "dst_host"],
    )
    seeds = spark.createDataFrame([("a",)], ["node"])
    got = {r["node"]: r["depth"] for r in
           G.seed_distance(edges, seeds, max_depth=3).collect()}
    # first discovery is minimum depth: the shortcut wins over b->c->d
    assert got == {"a": 0, "b": 1, "d": 1, "c": 2, "e": 2, "f": 3}
    # g is 4 hops out -> beyond the cap; z* disconnected -> absent


def test_seed_distance_multi_seed_and_early_stop(spark):
    from web_crawler_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("s1", "m"), ("m", "t"), ("s2", "t")], ["src_host", "dst_host"]
    )
    seeds = spark.createDataFrame([("s1",), ("s2",)], ["node"])
    # closure completes at depth 1/2 long before max_depth=50: the empty
    # fresh-frontier early exit must terminate the loop, not run 50 rounds
    got = {r["node"]: r["depth"] for r in
           G.seed_distance(edges, seeds, max_depth=50).collect()}
    assert got == {"s1": 0, "s2": 0, "m": 1, "t": 1}


def test_host_fetcher_assign_minimal_disruption(spark):
    # the HRW property UbiCrawler builds on: growing the fleet W->W+1
    # moves ONLY hosts won by the new lane (expected 1/(W+1)); every
    # unmoved host keeps its EXACT lane. Modulo hashing would reshuffle
    # nearly everything.
    from web_crawler_spark.operators.politeness import host_fetcher_assign

    hosts = spark.createDataFrame(
        [(f"site{i}.example",) for i in range(2000)], ["host"]
    )
    a8 = {r["host"]: r["lane"] for r in host_fetcher_assign(hosts, 8).collect()}
    a9 = {r["host"]: r["lane"] for r in host_fetcher_assign(hosts, 9).collect()}
    moved = {h for h in a8 if a8[h] != a9[h]}
    # every moved host moved TO the new lane, nowhere else
    assert all(a9[h] == 8 for h in moved)
    # expected |moved| = 2000/9 = 222; allow generous sampling slack
    assert 100 <= len(moved) <= 400
    # balance: no lane pathologically hot (mean 250 at W=8)
    from collections import Counter

    loads = Counter(a8.values())
    assert set(loads) == set(range(8))
    assert max(loads.values()) < 2 * 250


def test_host_fetcher_assign_deterministic_and_single_lane(spark):
    from web_crawler_spark.operators.politeness import host_fetcher_assign

    hosts = spark.createDataFrame([("a.com",), ("b.com",), ("a.com",)], ["host"])
    rows = host_fetcher_assign(hosts, 4).collect()
    lanes = {}
    for r in rows:
        lanes.setdefault(r["host"], set()).add(r["lane"])
    # a host maps to exactly one lane, every time (no coordinator state)
    assert all(len(s) == 1 for s in lanes.values())
    import pytest

    with pytest.raises(ValueError):
        host_fetcher_assign(hosts, 0)
