"""The crawl epoch loop (north_rule core; SURVEY §7.2.5).

One epoch = one BFS wave:

    frontier(epoch)
      → canonicalize + hash                      (native exprs)
      → ANTI-JOIN vs seen (+ bloom pre-filter    [shuffle: by url_hash]
        from BLOOM_MIN_SEEN_ROWS seen rows)
      → robots decision                          (broadcast compiled rules)
      → repartition by salted host               [shuffle: by host-salt]
      → per-host crawl order + politeness window (row_number / closed form,
        partitioned by (host, salt): no second shuffle)
      → per-host budget (water-fill on the driver / cap), overflow deferred
      → repartition by url_hash (4× cores)       [shuffle: by url_hash]
      → "fetch" = equi-join against the pages corpus on canonical_url
        (the offline corpus replaces live HTTP — SURVEY §2.1 S1)
      → extract (mapInPandas: tables / links / text)
      → expand: resolved outlinks become epoch+1 frontier candidates
      → commit fetched/seen/metrics snapshots    (EpochCatalog — resumable)

Explicit repartitioning between expand and dedup is mandated by the
north_rule — expand explodes by fan-out (skewed by page), dedup needs
url_hash co-location, scheduling needs host co-location, and the fetch
join and extraction need the rows spread back over every core.

At crawl sizes an epoch is bound by its Spark job barriers, not by its
data, and a lazy frame with several consumers re-runs its whole plan
(every upstream shuffle) once per consumer. So the engine materialises,
once per engine, the compiled robots rules (``robots.compile_rules``:
the agent-group pick and the pattern regexes do not change between
epochs) and the per-host crawl delays; and an epoch materialises the
four frames that have more than one consumer, each once:

* the robots decision — ``allowed`` and ``denied`` are two filters on it;
* the politeness schedule — the fetch side and ``deferred`` are
  complementary filters on it, so they always come from one evaluation
  of the plan;
* ``fetched`` — read by extraction, metrics and the fetched and seen
  commits;
* ``combined`` (the one-pass extraction, which carries each page's
  ``depth`` onto its outlink rows) — read by ``extracted`` and
  ``outlinks``.

Two driver-side figures are observed, not collected: the per-host demand
the water-fill needs rides on the schedule checkpoint's job, and the
epoch counters on the ``fetched`` checkpoint's job, which every run of an
epoch performs, resumed or not.

A killed run resumes exactly: every table commit is manifest-gated and
keyed by epoch, so re-running epoch K is idempotent (the catalog skips
already-committed epochs) and epoch K+1 rebuilds its frontier from the
committed epoch-K outlinks table.
"""

from __future__ import annotations

from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import urltools as U
from ..operators import aggregate as A
from ..operators import dedup as D
from ..operators import politeness as P
from ..operators import robots as RB
from ..sources.catalog import EpochCatalog
from . import extract as X

EPOCH_CLOCK0 = datetime(2025, 7, 22, 9, 0, 0, tzinfo=timezone.utc)

# the bloom pre-filter costs a build pass + broadcast per epoch, which
# only pays once `seen` is big enough that skipping the anti-join shuffle
# for ~99% of rows beats that cost; below it the exact anti-join runs alone
BLOOM_MIN_SEEN_ROWS = 500_000

# host salts per epoch: the schedule partitions by (host, salt), so a hot
# host's frontier spreads over this many tasks
N_SALTS = 16


def _counters():
    """The epoch counters over ``fetched``: rows and status=ok rows."""
    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
    )


class CrawlEngine:
    """Driver-side orchestration; all data paths stay distributed."""

    def __init__(
        self,
        spark: SparkSession,
        catalog_root: str,
        pages: DataFrame,
        delay_seconds: float = 2.0,
        max_depth: int = 2,
        robots_pages: DataFrame | None = None,
        agent: str = "sparkcrawl",
        max_per_host_per_epoch: int | None = None,
        epoch_fetch_capacity: int | None = None,
    ):
        self.spark = spark
        self.catalog = EpochCatalog(catalog_root)
        self.delay_seconds = delay_seconds
        self.n_salts = N_SALTS
        self.max_depth = max_depth
        self.agent = agent
        # per-host crawl budget: a hot host's frontier slice beyond this is
        # DEFERRED to the next epoch, not dropped. This is what bounds the
        # one deliberately-skewed partition (per-host ordering) at 10^10
        # scale — politeness alone already caps useful fetches per epoch
        # (epoch_window / delay), so scheduling more is wasted state.
        self.max_per_host_per_epoch = max_per_host_per_epoch
        # GLOBAL epoch capacity: when set, per-host budgets come from the
        # max-min fair water-fill (operators/aggregate.py) over this
        # epoch's actual frontier demands — small hosts fully served, the
        # remainder split evenly over the big ones; total fetches ≤
        # capacity exactly. Composes with max_per_host_per_epoch (the
        # effective budget is the lesser).
        self.epoch_fetch_capacity = epoch_fetch_capacity
        if robots_pages is not None:
            # rules + per-host crawl delays: tiny tables, parsed once,
            # broadcast into every epoch (a real deployment refreshes them
            # on a TTL — the `robots` table of SURVEY §1.3). The rules are
            # also compiled once for this agent: every epoch's decision
            # reads the compiled table, not the raw one
            self.robots_rules = RB.parse_robots(robots_pages).localCheckpoint()
            self.compiled_rules = RB.compile_rules(
                self.robots_rules, agent
            ).localCheckpoint()
            self.delays = RB.crawl_delays(
                self.robots_rules, agent, delay_seconds
            ).localCheckpoint()
        else:
            self.robots_rules = None
            self.compiled_rules = None
            self.delays = None
        # corpus keyed by canonical URL (what the frontier joins against);
        # localCheckpoint = "the keyed corpus table already exists" — on a
        # real deployment this is the Iceberg pages table bucketed by
        # url_hash, written once, not recomputed per epoch
        self.pages = (
            U.with_url_columns(pages)
            .select("canonical_url", "url_hash", "warc_ts", "html", "text", "lang")
            .dropDuplicates(["url_hash"])
            .localCheckpoint()
        )

    # ------------------------------------------------------------------
    def _epoch_start(self, epoch: int):
        return F.lit(EPOCH_CLOCK0).cast("timestamp") + F.expr(
            f"INTERVAL {epoch * 3600} SECONDS"
        )

    def _frontier_for(self, seeds: DataFrame, epoch: int) -> DataFrame:
        """Seeds tagged for this epoch ∪ outlinks discovered in epoch-1."""
        f = seeds.filter(F.col("epoch") == epoch).select(
            "url", "source", "priority", "host", "canonical_url", "url_hash",
            F.lit(0).alias("depth"),
        )
        deferred = self.catalog.read(self.spark, "deferred", upto_epoch=epoch - 1)
        if deferred is not None:
            carried = deferred.filter(F.col("epoch") == epoch - 1).select(
                "url", F.lit("deferred").alias("source"), "priority", "host",
                "canonical_url", "url_hash", "depth",
            )
            f = f.unionByName(carried)
        prev = self.catalog.read(self.spark, "outlinks", upto_epoch=epoch - 1)
        if prev is not None and self.max_depth > 0:
            expanded = (
                prev.filter((F.col("epoch") == epoch - 1) & (F.col("depth") < self.max_depth))
                .select(
                    F.col("resolved_url").alias("url"),
                    F.lit("outlink").alias("source"),
                    # BFS-with-priority: discovered URLs rank after every
                    # seed (base 10^6), and within the discovered class
                    # shallower rings rank first — a deferred depth-2 link
                    # can never outrank a fresh depth-1 link
                    (F.lit(1_000_000) + F.col("depth") + 1).cast("int").alias("priority"),
                    (F.col("depth") + 1).alias("depth"),
                )
            )
            expanded = U.with_url_columns(expanded).select(
                "url", "source", "priority", "host", "canonical_url", "url_hash", "depth"
            )
            f = f.unionByName(expanded)
        # within-wave dedup: first (priority, url) wins per canonical URL
        return D.keep_latest(
            f.withColumn("__neg_pri", -F.col("priority")),
            keys=["url_hash"],
            ts_col="__neg_pri",
            tiebreakers=["url"],
        ).drop("__neg_pri")

    # ------------------------------------------------------------------
    def _admit(self, seeds: DataFrame, epoch: int):
        """Admission: frontier → seen anti-join → robots gate → politeness
        schedule → per-host budget. Returns ``(scheduled, denied,
        deferred_out)``; the last two are None when no robots rules or no
        budget apply. Materialises the robots decision and, when a budget
        applies, the politeness schedule (see the module docstring)."""
        frontier = self._frontier_for(seeds, epoch)

        # dedup vs seen  [shuffle: url_hash]
        seen = self.catalog.read(self.spark, "seen", upto_epoch=epoch - 1)
        if seen is not None:
            # the seen-set size from the commit lineage in the manifest (no
            # Spark job) decides the bloom and sizes its bitmap
            # (dedup.py::bloom_size_bits); the exact anti-join on url_hash
            # stays the source of truth either way
            lineage = self.catalog.manifest("seen").get("lineage", {})
            seen_rows = sum(e.get("fetched", 0) for e in lineage.values())
            frontier = D.anti_join_seen(
                frontier, seen,
                use_bloom=seen_rows >= BLOOM_MIN_SEEN_ROWS,
                expected_keys=seen_rows,
            )

        # robots gate (north_rule): denied URLs are still committed to
        # `seen` via a fetched row with status=robots_denied — admitted
        # exactly once, never fetched. One decision pass, materialised:
        # allowed and denied are two filters on it
        denied = None
        if self.compiled_rules is not None:
            decided = RB.decide_robots(
                frontier, self.compiled_rules
            ).drop("matched_rule", "matched_prefix").localCheckpoint()
            denied = decided.filter(~F.col("robots_allowed")).drop("robots_allowed")
            frontier = decided.filter(F.col("robots_allowed")).drop("robots_allowed")

        # schedule  [shuffle: salted host]; the per-host windows partition
        # by (host, salt) too, so this is the only shuffle of the schedule
        frontier = frontier.withColumn(
            "salt", U.host_salt(F.col("host"), F.lit(epoch), self.n_salts)
        ).repartition(F.col("host"), F.col("salt"))
        if self.delays is not None:
            scheduled = RB.politeness_schedule_with_delays(
                frontier, self._epoch_start(epoch), self.delays,
                self.delay_seconds, salt_col="salt",
            )
        else:
            scheduled = P.politeness_schedule(
                frontier, self._epoch_start(epoch), self.delay_seconds,
                salt_col="salt",
            )

        # per-host epoch budget: overflow (seq > budget) is deferred to the
        # next epoch's frontier with its priority intact — bounded state
        # per host per epoch, nothing lost
        if self.epoch_fetch_capacity is None and self.max_per_host_per_epoch is None:
            return scheduled, denied, None
        # one schedule, materialised: the fetch side and the deferred
        # table read the same rows
        if self.epoch_fetch_capacity is None:
            scheduled = scheduled.localCheckpoint()
            over = F.col("seq") > self.max_per_host_per_epoch
        else:
            # the per-host demand the water-fill needs, observed on the
            # checkpoint's own job: a count over the schedule window's
            # partitions (no new exchange), one (host, demand) per host
            observed = Observation()
            scheduled = scheduled.withColumn(
                "demand",
                F.count(F.lit(1)).over(Window.partitionBy("host", "salt")),
            ).observe(
                observed,
                F.collect_list(
                    F.when(F.col("seq") == 1, F.struct("host", "demand"))
                ).alias("demand"),
            ).localCheckpoint()
            # the list arrives in task-completion order: key it by host
            demand = {r["host"]: r["demand"] for r in observed.get["demand"]}
            over = over_budget(
                demand, self.epoch_fetch_capacity, self.max_per_host_per_epoch
            )
        deferred_out = scheduled.filter(over).select(
            "url", "priority", "host", "canonical_url", "url_hash", "depth"
        )
        return scheduled.filter(~over), denied, deferred_out

    # ------------------------------------------------------------------
    def run_epoch(self, seeds: DataFrame, epoch: int) -> dict:
        """Run one epoch; returns counters. Idempotent per epoch.

        The skip guard checks ``seen`` — the LAST table committed — not
        ``fetched``: a crash between the fetched and seen commits must
        re-run the epoch (each per-table commit is itself idempotent, so
        already-committed tables are kept and only the missing ones are
        written)."""
        if epoch in self.catalog.committed_epochs("seen"):
            return {"epoch": epoch, "skipped": True}

        scheduled, denied, deferred_out = self._admit(seeds, epoch)

        # rebalance BEFORE the fetch join: politeness legitimately skews
        # partitioning by (host, salt) — a hot host is one partition — but
        # nothing downstream needs host-locality. Explicit repartition on
        # url_hash (fixed N, so AQE can't coalesce it away) spreads the
        # fetch join, extraction, and every commit across all cores. The
        # rows are still slim here (no html) so this shuffle is cheap; at
        # 100 TB it is the same url_hash bucketing the corpus join needs.
        # 4× parallelism: overpartitioning keeps each python extraction
        # task short, so a straggler holds back little of the epoch
        scheduled = scheduled.repartition(
            self.spark.sparkContext.defaultParallelism * 4, F.col("url_hash")
        )

        # fetch = join against the offline corpus (broadcast-averse: both big)
        fetched = scheduled.join(
            self.pages.withColumnRenamed("url_hash", "p_hash"),
            scheduled["canonical_url"] == self.pages["canonical_url"],
            "left",
        ).select(
            scheduled["url"], scheduled["canonical_url"], scheduled["url_hash"],
            scheduled["host"], scheduled["priority"], scheduled["depth"],
            scheduled["seq"], scheduled["scheduled_ts"].alias("fetch_ts"),
            self.pages["html"], self.pages["text"], self.pages["lang"],
            F.when(self.pages["html"].isNotNull(), "ok").otherwise("error").alias("status"),
            F.lit(epoch).alias("epoch"),
        )
        if denied is not None:
            fetched = fetched.unionByName(
                denied.select(
                    "url", "canonical_url", "url_hash", "host", "priority", "depth",
                    F.lit(None).cast("int").alias("seq"),
                    F.lit(None).cast("timestamp").alias("fetch_ts"),
                    F.lit(None).cast("binary").alias("html"),
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("lang"),
                    F.lit("robots_denied").alias("status"),
                    F.lit(epoch).alias("epoch"),
                )
            )
        # materialised: extraction, metrics, the fetched commit and the
        # seen commit all read it. The epoch
        # counters ride on this checkpoint's job, which a resumed epoch
        # runs too (its commits of already-committed tables run no job)
        counted = Observation()
        fetched = fetched.observe(counted, *_counters()).localCheckpoint()

        ok = fetched.filter(F.col("status") == "ok")

        # extract + expand: ONE python parse per page yields both table
        # rows and outlinks (combined_extract_stage), each carrying its
        # page's depth; materialized before the split so neither branch
        # re-runs the Arrow stage. The materialized rows are slim (no html).
        combined = X.combined_extract_stage(
            ok.select(F.col("canonical_url").alias("url"), "html", "depth")
        ).localCheckpoint()

        links = combined.filter(F.col("link").isNotNull()).select("url", "link", "depth")
        outlinks = X.resolve_links(links).select(
            F.col("url").alias("from_url"), "resolved_url", "depth",
        )

        extracted = combined.filter(F.col("name").isNotNull()).select(
            "url", "name", "price", "change"
        ).withColumn("epoch", F.lit(epoch))

        # commit epoch snapshots (order matters: data first, seen last so a
        # crash can never mark a URL seen without its fetched row committed).
        # The data commits touch independent table dirs/manifests and all
        # derive from materialised frames — submit them as concurrent
        # Spark jobs, one lane each; only `seen` waits behind the barrier.
        commits = [
            ("fetched", fetched.drop("html")),
            ("extracted", extracted),
            ("outlinks", outlinks),
            ("metrics", P.epoch_metrics(fetched)),
        ]
        if deferred_out is not None:
            commits.append(("deferred", deferred_out))
        with ThreadPoolExecutor(max_workers=len(commits)) as ex:
            futures = [
                ex.submit(self.catalog.commit_epoch, table, epoch, df)
                for table, df in commits
            ]
            for fut in futures:
                fut.result()  # barrier: all data tables committed before seen
        counts = counted.get
        n_fetched, n_ok = counts["n"], int(counts["ok"] or 0)
        self.catalog.commit_epoch(
            "seen", epoch,
            fetched.select("url_hash", "canonical_url").withColumn(
                "first_seen_epoch", F.lit(epoch)
            ),
            lineage={"fetched": n_fetched, "ok": n_ok},
        )
        return {"epoch": epoch, "fetched": n_fetched, "ok": n_ok}

    def run(self, seeds: DataFrame, n_epochs: int = 3) -> list[dict]:
        start = self.catalog.last_epoch("seen")
        first = 0 if start is None else start + 1
        results = []
        for epoch in range(0, n_epochs):
            if epoch < first:
                results.append({"epoch": epoch, "skipped": True})
                continue
            results.append(self.run_epoch(seeds, epoch))
        return results


def over_budget(
    demand: dict, capacity: int, max_per_host: int | None
) -> Column:
    """The predicate "this row is past its host's budget" over a
    politeness schedule (``host``, ``seq``), for an epoch fetch capacity
    and the schedule's per-host ``demand`` ({host: rows}): the budgets are
    water-filled on the driver (``aggregate.waterfill_budgets``, capped
    by ``max_per_host``), and only hosts whose budget is below their
    demand appear in it, grouped by budget as literal host sets — no
    budgets join or broadcast, and no Spark job. A null host has no
    budget, so all its rows are over."""
    hosts_at = defaultdict(list)
    for host, (budget, _satisfied) in A.waterfill_budgets(demand, capacity).items():
        if max_per_host is not None:
            budget = min(budget, max_per_host)
        if host is not None and budget < demand[host]:
            hosts_at[budget].append(host)
    over = F.col("host").isNull()
    for budget, hosts in sorted(hosts_at.items()):
        over = over | (F.col("host").isin(sorted(hosts)) & (F.col("seq") > budget))
    return over


def frontier_select(
    frontier: DataFrame,
    n: int,
    priority_col: str = "priority",
    url_col: str = "url",
) -> DataFrame:
    """Exact top-``n`` frontier selection WITHOUT a global sort — the
    epoch-budget pick from a 10^10-row priority frontier.

    Semantics (deterministic): the n rows ranking first by
    (priority DESC, md5(url) ASC, url ASC) — md5 gives a stable, engine-
    portable shuffle within a priority level so one hot level doesn't
    admit URLs in storage order.

    Plan: (1) one combiner-friendly ``groupBy(priority).count()`` —
    priority levels are few (ring depths, OPIC buckets), so the
    histogram is tiny; (2) the driver walks it descending to find the
    boundary level T and the remainder r; (3) levels above T pass by
    FILTER (no sort anywhere); (4) only the boundary level — one level's
    rows, not the frontier — goes through TakeOrderedAndProject for its
    r tie-broken seats. A naive orderBy().limit() ranks all 10^10 rows;
    this ranks one level.
    """
    pri = F.col(priority_col)
    hist = sorted(
        frontier.groupBy(pri.alias("__p")).count().collect(),
        key=lambda r: r["__p"], reverse=True,
    )
    total = 0
    boundary, remainder = None, 0
    for row in hist:
        if total + row["count"] >= n:
            boundary, remainder = row["__p"], n - total
            break
        total += row["count"]
    if boundary is None:
        return frontier  # fewer than n rows: everything is selected
    above = frontier.filter(pri > boundary)
    tie = frontier.filter(pri == boundary).orderBy(
        F.md5(F.col(url_col)), F.col(url_col)
    ).limit(remainder)
    return above.unionByName(tie)
