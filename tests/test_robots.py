"""robots.txt enforcement (north_rule operator — no reference analogue)."""

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.functions import urltools as U
from web_crawler_spark.operators import robots as RB
from web_crawler_spark.operators.robots import parse_robots_text
from web_crawler_spark.sources.robots import ROBOTS_BODIES


def test_parse_groups_and_delays():
    rows = parse_robots_text("h", ROBOTS_BODIES["finance.sina.com.cn"])
    agents = {r[1] for r in rows}
    assert agents == {"sparkcrawl", "*"}
    star_rules = [(r[2], r[3]) for r in rows if r[1] == "*"]
    assert ("disallow", "/") in star_rules
    sc = [(r[2], r[3], r[4]) for r in rows if r[1] == "sparkcrawl"]
    assert ("disallow", "/internal/", None) in sc
    assert any(r[0] == "crawl-delay" and r[2] == 0.5 for r in sc)


def test_parse_empty_disallow_and_comments():
    rows = parse_robots_text("h", ROBOTS_BODIES["api.coingecko.com"])
    # empty Disallow emits nothing; unknown directives ignored
    assert [r for r in rows if r[2] in ("allow", "disallow")] == []


@pytest.fixture(scope="module")
def robots_pages(spark):
    return spark.createDataFrame(
        sorted(ROBOTS_BODIES.items()), "host string, body string"
    )


def _frontier(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return U.with_url_columns(df)


def test_apply_robots_longest_match(spark, robots_pages):
    rules = RB.parse_robots(robots_pages)
    urls = [
        "https://markets.businessinsider.com/ok/page",
        "https://markets.businessinsider.com/private/secret",
        "https://markets.businessinsider.com/private/public-annex/x",  # allow override
        "https://data.worldbank.org/seed/1",     # blocked
        "https://data.worldbank.org/seed/10",    # prefix match → blocked
        "https://data.worldbank.org/seed/2",     # allowed
        "https://example-commodities.net/anything",  # no robots → allowed
    ]
    got = {r["url"] for r in RB.apply_robots(_frontier(spark, urls), rules, "sparkcrawl").collect()}
    assert got == {
        "https://markets.businessinsider.com/ok/page",
        "https://markets.businessinsider.com/private/public-annex/x",
        "https://data.worldbank.org/seed/2",
        "https://example-commodities.net/anything",
    }


def test_agent_specific_group_wins(spark, robots_pages):
    rules = RB.parse_robots(robots_pages)
    urls = [
        "https://finance.sina.com.cn/quotes/x",      # * blocked, sparkcrawl ok
        "https://finance.sina.com.cn/internal/y",    # sparkcrawl blocked
    ]
    ours = {r["url"] for r in RB.apply_robots(_frontier(spark, urls), rules, "sparkcrawl").collect()}
    assert ours == {"https://finance.sina.com.cn/quotes/x"}
    generic = {r["url"] for r in RB.apply_robots(_frontier(spark, urls), rules, "otherbot").collect()}
    assert generic == set()  # '*' group: Disallow: /


def test_crawl_delays(spark, robots_pages):
    rules = RB.parse_robots(robots_pages)
    d = {r["host"]: r["delay_seconds"] for r in RB.crawl_delays(rules, "sparkcrawl", 2.0).collect()}
    assert d["finance.sina.com.cn"] == 0.5   # agent-specific beats default
    assert d["markets.businessinsider.com"] == 1.0


def test_schedule_with_delays(spark, robots_pages):
    rules = RB.parse_robots(robots_pages)
    delays = RB.crawl_delays(rules, "sparkcrawl", 2.0)
    frontier = spark.createDataFrame(
        [(f"https://markets.businessinsider.com/p{i}",
          "markets.businessinsider.com", i) for i in range(4)]
        + [(f"https://example-commodities.net/p{i}",
            "example-commodities.net", i) for i in range(4)],
        "url string, host string, priority int",
    )
    sched = RB.politeness_schedule_with_delays(
        frontier, F.lit("2025-07-22 09:00:00").cast("timestamp"), delays, 2.0
    )
    rows = {(r["host"], r["seq"]): r["scheduled_ts"] for r in sched.collect()}
    # hot host: crawl-delay 1s; default host: 2s
    bi = "markets.businessinsider.com"
    ec = "example-commodities.net"
    assert (rows[(bi, 2)] - rows[(bi, 1)]).total_seconds() == 1.0
    assert (rows[(ec, 2)] - rows[(ec, 1)]).total_seconds() == 2.0


def test_engine_with_robots(spark, robots_pages, tmp_path):
    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import generate_seeds

    pages = generate_pages(spark, 60, seed=42)
    seeds = generate_seeds(spark, n_per_host=4, hot_factor=2, n_epochs=1)
    eng = CrawlEngine(
        spark, str(tmp_path / "cat"), pages, max_depth=0,
        robots_pages=robots_pages, agent="sparkcrawl",
    )
    eng.run(seeds, n_epochs=1)
    fetched = eng.catalog.read(spark, "fetched")
    by_status = {
        (r["host"], r["status"]): r["n"]
        for r in fetched.groupBy("host", "status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # worldbank /seed/1* denied (seeds are /seed/0../seed/3 → exactly /seed/1)
    assert by_status.get(("data.worldbank.org", "robots_denied"), 0) == 1
    # denied URLs are still in seen exactly once
    seen = eng.catalog.read(spark, "seen")
    assert seen.groupBy("url_hash").count().filter(F.col("count") > 1).count() == 0
    # sina: '*' blocked but agent=sparkcrawl allowed except /internal/
    assert ("finance.sina.com.cn", "robots_denied") not in by_status


def test_sitemap_directive_and_locations(spark):
    """Sitemap: lines are group-independent (RFC 9309 'other records') and
    surface as agent-'*' sitemap rules regardless of surrounding groups."""
    from web_crawler_spark.operators import robots as RB

    body = (
        "User-agent: googlebot\nDisallow: /private\n"
        "Sitemap: https://h1/sm.xml\n"
        "\nUser-agent: *\nAllow: /\nSitemap: https://h1/sm2.xml.gz\n"
    )
    pages = spark.createDataFrame([("h1", body), ("h2", "Disallow: /x")], ["host", "body"])
    rules = RB.parse_robots(pages)
    locs = {
        (r["host"], r["agent"], r["path_prefix"])
        for r in rules.collect() if r["rule"] == "sitemap"
    }
    assert locs == {
        ("h1", "*", "https://h1/sm.xml"), ("h1", "*", "https://h1/sm2.xml.gz")
    }
    # pre-existing rule kinds unaffected
    kinds = {r["rule"] for r in rules.collect()}
    assert {"disallow", "allow", "sitemap"} <= kinds


def test_wildcard_and_anchor_patterns(spark):
    """RFC 9309 §2.2.3: '*' spans any run, trailing '$' anchors the end;
    regex metacharacters in paths stay literal; longest raw pattern still
    wins (an Allow with a longer wildcard pattern overrides)."""
    pages = spark.createDataFrame(
        [("w.com",
          "User-agent: *\n"
          "Disallow: /*.pdf$\n"
          "Disallow: /cgi*/run\n"
          "Disallow: /a+b/\n"           # '+' literal, not regex
          "Allow: /cgi-public*/run\n")],
        "host string, body string",
    )
    rules = RB.parse_robots(pages)
    urls = [
        ("https://w.com/x/doc.pdf", False),       # *.pdf$ blocks
        ("https://w.com/x/doc.pdf?v=1", True),    # query not in PATH; .pdf$ holds on path -> blocked? path is /x/doc.pdf
        ("https://w.com/x/doc.pdfx", True),       # $ anchor respected
        ("https://w.com/cgi-bin/run", False),     # /cgi*/run blocks
        ("https://w.com/cgi-public/run", True),   # longer Allow wins
        ("https://w.com/a+b/page", False),        # literal '+'
        ("https://w.com/apb/page", True),         # '+' NOT a regex quantifier
    ]
    frontier = spark.createDataFrame(
        [("w.com", u) for u, _ in urls], "host string, canonical_url string"
    )
    allowed = {r["canonical_url"]
               for r in RB.apply_robots(frontier, rules, "anybot").collect()}
    for u, want in urls:
        if u == "https://w.com/x/doc.pdf?v=1":
            continue  # asserted separately below
        assert (u in allowed) == want, u
    # the $ anchor applies to the PATH component: a query string does not
    # un-anchor it (try_parse_url PATH strips the query)
    assert "https://w.com/x/doc.pdf?v=1" not in allowed


def test_meta_robots_flags(spark):
    from web_crawler_spark.operators.robots import meta_robots_flags

    rows = [
        (1, '<html><meta name="robots" content="noindex, follow"><body>x'),
        (2, '<meta content="nofollow" name="robots">'),
        (3, '<meta name="robots" content="none">'),
        (4, '<meta name="robots" content="index, follow">'),
        (5, '<meta name="viewport" content="noindex">'),   # wrong meta
        (6, "no meta at all"),
        (7, "<META NAME='ROBOTS' CONTENT='NOINDEX'>"),      # case/quote variants
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    got = {r["doc_id"]: (r["noindex"], r["nofollow"])
           for r in meta_robots_flags(df).collect()}
    assert got[1] == (True, False)
    assert got[2] == (False, True)
    assert got[3] == (True, True)
    assert got[4] == (False, False)
    assert got[5] == (False, False)
    assert got[6] == (False, False)
    assert got[7] == (True, False)


def test_meta_robots_header_channel(spark):
    from web_crawler_spark.operators.robots import meta_robots_flags

    df = spark.createDataFrame(
        [(1, "<html>clean</html>", "noindex"), (2, "<html>x</html>", "")],
        ["doc_id", "html", "x_robots_tag"],
    )
    got = {r["doc_id"]: r["noindex"]
           for r in meta_robots_flags(df, header_col="x_robots_tag").collect()}
    assert got == {1: True, 2: False}


def test_sitemap_robots_conflicts_audit(spark):
    from web_crawler_spark.operators import robots as RB

    rules = RB.parse_robots(spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /hidden/\nAllow: /hidden/ok/\n")],
        "host string, body string",
    ))
    entries = spark.createDataFrame(
        [("https://a.com/hidden/1",),      # advertised AND disallowed
         ("https://A.com/hidden/2",),      # host case-folds, still caught
         ("https://a.com/hidden/ok/3",),   # allow override -> not a conflict
         ("https://a.com/pub/4",),         # unmatched -> allowed
         ("https://b.com/hidden/5",)],     # no rules for b.com -> allowed
        "loc string",
    )
    out = RB.sitemap_robots_conflicts(entries, rules).collect()
    assert sorted((r["url"], r["disallow_prefix"]) for r in out) == [
        ("https://A.com/hidden/2", "/hidden/"),
        ("https://a.com/hidden/1", "/hidden/"),
    ]


def test_canonical_robots_conflicts_audit(spark):
    from web_crawler_spark.operators import robots as RB

    rules = RB.parse_robots(spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /hidden/\n")],
        "host string, body string",
    ))
    pages = spark.createDataFrame([
        # declares canonical into the disallowed tree -> conflict, cross-page
        ("https://a.com/dup1",
         '<html><head><link rel="canonical" href="/hidden/main"></head></html>'),
        # self-canonical inside the disallowed tree -> conflict, not cross
        ("https://a.com/hidden/self",
         '<html><head><link rel="canonical" href="/hidden/self"></head></html>'),
        # canonical to an allowed target -> no conflict
        ("https://a.com/dup2",
         '<html><head><link rel="canonical" href="/ok/main"></head></html>'),
        # no declaration -> self-canonical, allowed -> no conflict
        ("https://a.com/plain", "<html><head></head></html>"),
    ], "url string, html string")
    out = {r["url"]: r for r in
           RB.canonical_robots_conflicts(pages, rules).collect()}
    assert set(out) == {"https://a.com/dup1", "https://a.com/hidden/self"}
    assert out["https://a.com/dup1"]["is_cross_page"] is True
    assert out["https://a.com/dup1"]["canonical_target"] == "https://a.com/hidden/main"
    assert out["https://a.com/hidden/self"]["is_cross_page"] is False
    assert out["https://a.com/dup1"]["disallow_prefix"] == "/hidden/"


def test_robots_rule_churn_classes(spark):
    before = spark.createDataFrame(
        [
            ("tight.com", "User-agent: *\nDisallow: /a/\n"),
            ("loose.com", "User-agent: *\nDisallow: /a/\nDisallow: /b/\n"),
            ("mixed.com", "User-agent: *\nDisallow: /a/\nAllow: /a/x/\n"),
            ("delay.com", "User-agent: *\nDisallow: /a/\nCrawl-delay: 2\n"),
            ("same.com", "User-agent: *\nDisallow: /a/\n"),
            ("gone.com", "User-agent: *\nDisallow: /a/\n"),
        ],
        "host string, body string",
    )
    after = spark.createDataFrame(
        [
            ("tight.com", "User-agent: *\nDisallow: /a/\nDisallow: /b/\n"),
            ("loose.com", "User-agent: *\nDisallow: /a/\n"),
            # drops the Allow override AND drops a Disallow -> mixed
            ("mixed.com", "User-agent: *\nDisallow: /b/\n"),
            ("delay.com", "User-agent: *\nDisallow: /a/\nCrawl-delay: 7\n"),
            ("same.com", "User-agent: *\nDisallow: /a/\n"),
            # gone.com vanished entirely: whole group reads as removed
        ],
        "host string, body string",
    )
    got = {
        (r.host, r.agent): (
            r.n_added_disallow, r.n_removed_disallow,
            r.n_added_allow, r.n_removed_allow,
            r.delay_before, r.delay_after, r.change_class,
        )
        for r in RB.robots_rule_churn(
            RB.parse_robots(before), RB.parse_robots(after)
        ).collect()
    }
    assert got[("tight.com", "*")] == (1, 0, 0, 0, None, None, "tightened")
    assert got[("loose.com", "*")] == (0, 1, 0, 0, None, None, "loosened")
    assert got[("mixed.com", "*")] == (1, 1, 0, 1, None, None, "mixed")
    assert got[("delay.com", "*")] == (0, 0, 0, 0, 2.0, 7.0, "delay_only")
    assert ("same.com", "*") not in got
    assert got[("gone.com", "*")] == (0, 1, 0, 0, None, None, "loosened")


def test_robots_rule_churn_per_agent_groups(spark):
    body_b = (
        "User-agent: a\nDisallow: /x/\n\n"
        "User-agent: b\nDisallow: /y/\n"
    )
    body_a = (
        "User-agent: a\nDisallow: /x/\nDisallow: /z/\n\n"
        "User-agent: b\nDisallow: /y/\n"
    )
    before = spark.createDataFrame([("h.com", body_b)], "host string, body string")
    after = spark.createDataFrame([("h.com", body_a)], "host string, body string")
    rows = RB.robots_rule_churn(
        RB.parse_robots(before), RB.parse_robots(after)
    ).collect()
    # only agent a's group changed
    assert [(r.host, r.agent, r.change_class) for r in rows] == [
        ("h.com", "a", "tightened")
    ]


def test_robots_complexity_census(spark):
    pages = spark.createDataFrame(
        [
            ("simple.com", "User-agent: *\nDisallow: /a/\n"),
            ("multi.com",
             "User-agent: bot\nDisallow: /x/\nAllow: /x/pub/\n"
             "Crawl-delay: 1.5\n\nUser-agent: *\nDisallow: /y/\n"),
            ("wild.com",
             "User-agent: *\nDisallow: /*.php$\nAllow: /p*q/\n"
             "Sitemap: https://wild.com/a.xml\n"
             "Sitemap: https://wild.com/b.xml\n"),
            ("empty.com", "# comments only\n"),
        ],
        "host string, body string",
    )
    got = {
        r.host: (r.n_groups, r.n_rules, r.n_allow, r.n_disallow,
                 r.n_wildcard_rules, r.has_crawl_delay, r.n_sitemaps)
        for r in RB.robots_complexity(RB.parse_robots(pages)).collect()
    }
    assert got == {
        "simple.com": (1, 1, 0, 1, 0, False, 0),
        "multi.com": (2, 3, 1, 2, 0, True, 0),
        "wild.com": (1, 2, 1, 1, 2, False, 2),
    }
    assert "empty.com" not in got
