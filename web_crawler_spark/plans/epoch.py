"""The crawl epoch loop (north_rule core; SURVEY §7.2.5).

One epoch = one BFS wave:

    frontier(epoch)
      → canonicalize + hash                      (native exprs)
      → exact ANTI-JOIN vs seen                  [shuffle: by url_hash]
      → repartition by salted host               [shuffle: by host-salt]
      → robots decision (broadcast per-host table of compiled rules and
        crawl delays), per-host crawl order + politeness window over the
        allowed rows (row_number / closed form), per-host demand — every
        window partitioned by (host, salt, …): no second shuffle
      → per-host budget (water-fill on the driver / cap), overflow deferred
      → repartition by url_hash (4× cores)       [shuffle: by url_hash]
      → "fetch" = equi-join against the pages corpus on canonical_url
        (the offline corpus replaces live HTTP — SURVEY §2.1 S1)
      → one Arrow pass (mapInArrow) over the fetched rows: each passes
        through without html, each ok page is parsed once into table rows
        and outlinks, and each partition ends with its metrics row
      → expand: resolved outlinks become epoch+1 frontier candidates
      → commit all six table snapshots in ONE staged write, then each
        table's manifest, `seen` last    (EpochCatalog.commit_epochs —
        resumable)

Explicit repartitioning between expand and dedup is mandated by the
north_rule — expand explodes by fan-out (skewed by page), dedup needs
url_hash co-location, scheduling needs host co-location, and the fetch
join and extraction need the rows spread back over every core.

At crawl sizes an epoch is bound by its Spark job barriers, not by its
data, and a lazy frame with several consumers re-runs its whole plan
(every upstream shuffle) once per consumer. So the engine materialises,
once per engine, one per-host robots table (``robots.compile_host_rules``:
the agent-group pick, the pattern regexes and the crawl delays do not
change between epochs); and an epoch materialises the two frames that
have more than one consumer, each once:

* the admission frame — robots decision, schedule and per-host demand
  over one (host, salt) exchange; ``denied``, the fetch side and
  ``deferred`` are filters on it, so they always come from one
  evaluation of the plan;
* the Arrow pass's frame (``extract.fetched_pass``) — the fetched rows
  without html, their extraction rows (each carrying its page's
  ``depth``) and one metrics row per partition, each row tagged with its
  ``kind``; the fetched, extracted, outlinks, metrics and seen tables
  are filters on it.

Driver-side figures are observed, not collected: the per-host demand the
water-fill needs rides on the admission checkpoint's job, and the epoch
tallies (fetched and ok rows, extracted rows, links, metrics rows) on
the Arrow pass's checkpoint job, which every run of an epoch performs,
resumed or not.

The epoch's tables commit together: one Spark job writes every table's
rows, partitioned by table, into a stage dir, and the driver then moves
each table's files into its epoch dir and replaces its manifest. Each
table is coalesced to at most ceil(rows / ``ROWS_PER_FILE``) partitions,
its rows counted or bounded by those observed figures and the
water-fill's deferred count, and each task of the write holds one
table's rows, so a table writes at most that many files instead of one
small file per shuffle partition.

A killed run resumes exactly: every table's commit is manifest-gated and
keyed by epoch, so re-running epoch K is idempotent (the catalog skips
the tables already committed and rewrites the rest) and epoch K+1
rebuilds its frontier from the committed epoch-K outlinks table.
"""

from __future__ import annotations

from collections import defaultdict
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

# host salts per epoch: the schedule partitions by (host, salt), so a hot
# host's frontier spreads over this many tasks
N_SALTS = 16

# rows per committed file: an epoch commit writes ceil(rows / this) files,
# not one per shuffle partition
ROWS_PER_FILE = 1_000_000


def _sized(df: DataFrame, rows: int) -> DataFrame:
    """``df`` coalesced to ceil(rows / ROWS_PER_FILE) partitions (at least
    one), so a commit of ``rows`` rows writes at most that many files.
    Coalescing merges partitions without a shuffle: it never adds one, and
    a frame whose rows sit in few partitions can put more than
    ROWS_PER_FILE rows in one file."""
    return df.coalesce(max(1, -(-rows // ROWS_PER_FILE)))


def _parts(kind: Column) -> dict[str, Column]:
    """The parts of :func:`extract.fetched_pass`'s frame, as predicates on
    its ``kind``: fetched rows, ok rows, extracted table rows, links and
    metrics rows. The epoch counts each on the pass's checkpoint and
    commits each as a filter on it."""
    return {
        "fetched": ~kind.isin(X.ROW, X.LINK, X.METRICS),
        "ok": kind == "ok",
        "rows": kind == X.ROW,
        "links": kind == X.LINK,
        "metrics": kind == X.METRICS,
    }


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
            # compiled once for this agent into one per-host table that
            # also carries each host's crawl delay: every epoch's robots
            # decision and schedule read it through one broadcast
            self.robots_rules = RB.parse_robots(robots_pages).localCheckpoint()
            self.host_rules = RB.compile_host_rules(
                self.robots_rules, agent, delay_seconds
            ).localCheckpoint()
            # (host, delay_seconds) of every host with rules or a delay
            self.delays = self.host_rules.filter(F.col("rule").isNull()).select(
                F.col("r_host").alias("host"), "delay_seconds"
            )
        else:
            self.robots_rules = None
            self.host_rules = None
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
    def _admission(self, frontier: DataFrame, epoch: int) -> DataFrame:
        """The admission frame over a deduplicated, unseen frontier, as a
        lazy plan with one exchange: the frontier repartitioned by salted
        host, the robots decision (``robots_allowed``), and the politeness
        schedule (``seq``, ``scheduled_ts``) counted over allowed rows only,
        so denied rows hold no schedule slot. When an epoch fetch capacity
        applies, each row also carries ``demand``, its (host, salt,
        robots_allowed) group's size. Every window partitions by (host,
        salt, …) and the salt is a function of the host, so the groups are
        the host's and none of them shuffles again."""
        f = frontier.withColumn(
            "salt", U.host_salt(F.col("host"), F.lit(epoch), self.n_salts)
        ).repartition(F.col("host"), F.col("salt"))
        if self.host_rules is not None:
            f = RB.decide_robots(f, self.host_rules, salt_col="salt").drop(
                "matched_rule", "matched_prefix"
            )
            delay = F.coalesce(F.col("delay_seconds"), F.lit(self.delay_seconds))
        else:
            f = f.withColumn("robots_allowed", F.lit(True))
            delay = F.lit(self.delay_seconds)
        # F2/F3 per (host, decision): the crawl order numbers allowed and
        # denied rows apart, then politeness_schedule's closed form with
        # the host's delay
        keys = ["salt", "robots_allowed"]
        f = P.crawl_order(f, salt_col=keys).withColumn(
            "scheduled_ts",
            P._after(self._epoch_start(epoch), (F.col("seq") - 1) * delay),
        )
        if self.epoch_fetch_capacity is not None:
            f = f.withColumn(
                "demand", F.count(F.lit(1)).over(Window.partitionBy("host", *keys))
            )
        return f

    def _admit(self, seeds: DataFrame, epoch: int):
        """Admission: frontier → seen anti-join → robots gate → politeness
        schedule → per-host budget. Returns ``(scheduled, denied,
        deferred_out, n_deferred)``; ``denied`` is None without robots
        rules and ``deferred_out`` None without a budget. The admission
        frame is materialised when it has more than one consumer (see the
        module docstring)."""
        frontier = self._frontier_for(seeds, epoch)

        # dedup vs seen: the exact anti-join on url_hash  [shuffle: url_hash]
        seen = self.catalog.read(self.spark, "seen", upto_epoch=epoch - 1)
        if seen is not None:
            frontier = frontier.join(seen.select("url_hash"), "url_hash", "left_anti")

        # robots gate (north_rule) + schedule  [shuffle: salted host].
        # Denied URLs are still committed to `seen` via a fetched row with
        # status=robots_denied — admitted exactly once, never fetched
        admitted = self._admission(frontier, epoch)
        allowed = F.col("robots_allowed")
        over, n_over, deferred_out = F.lit(False), 0, None
        cap = self.max_per_host_per_epoch
        if cap is not None or self.epoch_fetch_capacity is not None:
            # per-host epoch budget: overflow (seq > budget) is deferred to
            # the next epoch's frontier with its priority intact — bounded
            # state per host per epoch, nothing lost. What the budget needs
            # is observed on the checkpoint's own job: with a per-host cap
            # alone, the count of rows past it; with an epoch capacity, the
            # per-host demand the water-fill needs, one (host, demand) per
            # allowed (host, salt) group
            observed = Observation()
            if self.epoch_fetch_capacity is None:
                over = F.col("seq") > cap
                admitted = admitted.observe(
                    observed, F.count(F.when(allowed & over, 1)).alias("over")
                ).localCheckpoint()
                n_over = observed.get["over"]
            else:
                admitted = admitted.observe(
                    observed,
                    F.collect_list(
                        F.when((F.col("seq") == 1) & allowed, F.struct("host", "demand"))
                    ).alias("demand"),
                ).localCheckpoint()
                # the list arrives in task-completion order: key it by host
                demand = {r["host"]: r["demand"] for r in observed.get["demand"]}
                over = over_budget(demand, self.epoch_fetch_capacity, cap)
                n_over = rows_over_budget(demand, self.epoch_fetch_capacity, cap)
            deferred_out = admitted.filter(allowed & over).select(
                "url", "priority", "host", "canonical_url", "url_hash", "depth"
            )
        elif self.host_rules is not None:
            admitted = admitted.localCheckpoint()
        denied = None if self.host_rules is None else admitted.filter(~allowed)
        return admitted.filter(allowed & ~over), denied, deferred_out, n_over

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

        scheduled, denied, deferred_out, n_deferred = self._admit(seeds, epoch)

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

        # fetch = left join against the offline corpus on canonical_url.
        # While the `pages` checkpoint is under the session's 64 MB
        # autoBroadcastJoinThreshold (as on the crawl_frontier benchmark),
        # the planner broadcasts the whole corpus and exchanges only the
        # scheduled side; past it, this is a shuffle join that exchanges
        # both sides, the corpus included, every epoch
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
                )
            )
        # extract + expand + metrics in the Arrow pass that already holds
        # each fetched batch (extract.fetched_pass): ONE python parse per ok
        # page yields its table rows and its outlinks, each carrying the
        # page's depth, and each partition ends with its metrics row. The
        # pass's frame is the epoch's one materialisation after admission,
        # without html; every commit is a filter on it. The epoch
        # tallies ride on its checkpoint's job, which a resumed epoch runs
        # too (its commits of already-committed tables run no job)
        kind = F.col("kind")
        parts, tallied = _parts(kind), Observation()
        frame = X.fetched_pass(fetched).observe(
            tallied, *(F.count(F.when(p, 1)).alias(k) for k, p in parts.items())
        ).localCheckpoint()
        n = tallied.get
        fetched = frame.filter(parts["fetched"])
        page_url = F.col("canonical_url").alias("url")
        outlinks = X.resolve_links(
            frame.filter(parts["links"]).select(page_url, "link", "depth")
        ).select(F.col("url").alias("from_url"), "resolved_url", "depth")
        extracted = frame.filter(parts["rows"]).select(
            page_url, "name", "price", "change", F.lit(epoch).alias("epoch")
        )

        # commit epoch snapshots in one staged write (EpochCatalog.commit_epochs):
        # every table's rows in one Spark job, then each table's rename and
        # manifest in list order, `seen` last, so a crash can never mark a
        # URL seen without its fetched row committed. Each table writes
        # ceil(rows / ROWS_PER_FILE) files, its rows counted on the
        # checkpoint (outlinks: at most one per link)
        commits = [
            ("fetched", fetched.select(
                "url", "canonical_url", "url_hash", "host", "priority", "depth", "seq",
                "fetch_ts", "text", "lang", kind.alias("status"), F.lit(epoch).alias("epoch"),
            ), n["fetched"]),
            ("extracted", extracted, n["rows"]),
            ("outlinks", outlinks, n["links"]),
            ("metrics", frame.filter(parts["metrics"]).select(
                F.lit(epoch).alias("epoch"), "partition_id", "scraped_count",
                "error_count", "start_ts", "end_ts",
            ), n["metrics"]),
        ]
        if deferred_out is not None:
            commits.append(("deferred", deferred_out, n_deferred))
        commits.append(("seen", fetched.select(
            "url_hash", "canonical_url", F.lit(epoch).alias("first_seen_epoch"),
        ), n["fetched"]))
        self.catalog.commit_epochs(
            epoch,
            [(table, _sized(df, rows)) for table, df, rows in commits],
            lineage={"fetched": n["fetched"], "ok": n["ok"]},
        )
        return {"epoch": epoch, "fetched": n["fetched"], "ok": n["ok"]}

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


def _over_hosts(demand: dict, capacity: int, max_per_host: int | None):
    """(host, budget) for every non-null host whose water-filled budget
    (capped by ``max_per_host``) is below its demand."""
    for host, (budget, _satisfied) in A.waterfill_budgets(demand, capacity).items():
        if max_per_host is not None:
            budget = min(budget, max_per_host)
        if host is not None and budget < demand[host]:
            yield host, budget


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
    for host, budget in _over_hosts(demand, capacity, max_per_host):
        hosts_at[budget].append(host)
    over = F.col("host").isNull()
    for budget, hosts in sorted(hosts_at.items()):
        over = over | (F.col("host").isin(sorted(hosts)) & (F.col("seq") > budget))
    return over


def rows_over_budget(
    demand: dict, capacity: int, max_per_host: int | None
) -> int:
    """How many schedule rows :func:`over_budget` marks, from the same
    ``demand`` dict: a null host's rows and each host's rows past its
    budget. The deferred commit is sized from this count, so it is exact,
    not a bound: the total demand, say, would split a commit of a few
    deferred rows from a large frontier into many near-empty files."""
    return demand.get(None, 0) + sum(
        demand[host] - budget for host, budget in _over_hosts(demand, capacity, max_per_host)
    )


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
