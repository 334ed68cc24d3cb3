"""Domain-blocklist gate (operators/urlfilter.py).

Semantics under test (C4/RefinedWeb/UT1 convention):
- an entry blocks the exact host AND every subdomain (label-boundary suffix);
- ``notexample.com`` is NOT blocked by ``example.com`` (no substring match);
- complement mode returns exactly the blocked rows;
- the physical plan contains no shuffle (broadcast joins only).
"""

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.operators import urlfilter as UF


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, "https://example.com/a"),            # exact hit
        (2, "https://a.b.example.com/x"),        # deep subdomain hit
        (3, "https://notexample.com/y"),         # substring — must SURVIVE
        (4, "https://good.org/z"),               # clean
        (5, "https://sub.bad.net/q"),            # subdomain of blocked bad.net
        (6, "https://bad.net.evil.io/w"),        # blocked domain as INFIX — survives
        (7, "HTTPS://EXAMPLE.COM:443/upper"),    # case/port-insensitive host
    ]
    return spark.createDataFrame(rows, ["id", "url"])


@pytest.fixture()
def blocklist(spark):
    return spark.createDataFrame(
        [("example.com",), ("BAD.net",), ("bad.net",)], ["domain"]
    )  # duplicate + mixed case: must be lowercased and deduped, no row fan-out


def test_blocklist_semantics(corpus, blocklist):
    kept = UF.domain_blocklist_filter(corpus, blocklist)
    assert sorted(r.id for r in kept.collect()) == [3, 4, 6]
    # complement is exactly the blocked set, and no helper columns leak
    blocked = UF.domain_blocklist_filter(corpus, blocklist, keep="blocked")
    assert sorted(r.id for r in blocked.collect()) == [1, 2, 5, 7]
    assert kept.columns == corpus.columns


def test_blocklist_no_fanout_on_duplicate_entries(corpus, blocklist):
    # duplicated blocklist domains must not duplicate surviving rows
    kept = UF.domain_blocklist_filter(corpus, blocklist)
    assert kept.count() == kept.select("id").distinct().count()


def test_blocklist_plan_probe_side_never_shuffles(corpus, blocklist):
    kept = UF.domain_blocklist_filter(corpus, blocklist, max_labels=6)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    # one broadcast hash join per probed depth (host + depths 2..6), and no
    # sort-merge join / probe-side exchange anywhere: the corpus streams
    assert plan.count("BroadcastHashJoin") == 6
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the deduped blocklist is materialized once (localCheckpoint), so no
    # Exchange survives in the executed plan at all — every join reads the
    # checkpointed build side
    assert "Exchange hashpartitioning" not in plan


def test_crawl_trap_detection(spark):
    from web_crawler_spark.operators.urlfilter import detect_crawl_traps

    rows = (
        # calendar trap: 30 URLs, one content fingerprint
        [(f"https://t.com/cal/2024/{i:02d}", "same") for i in range(30)]
        # benign archive: 30 URLs, all-distinct content
        + [(f"https://ok.com/post/{i}", f"fp{i}") for i in range(30)]
        # below min_family
        + [("https://ok.com/about", "about")]
    )
    pages = spark.createDataFrame(rows, "url string, fp string")
    traps = detect_crawl_traps(
        pages, fingerprint_col="fp", min_family=20, max_content_ratio=0.2
    )
    got = {r["family"]: r for r in traps.collect()}
    assert got["t.com/cal/N/N"]["is_trap"] is True
    assert got["t.com/cal/N/N"]["n_urls"] == 30
    assert got["t.com/cal/N/N"]["n_content"] == 1
    assert got["ok.com/post/N"]["is_trap"] is False
    assert got["ok.com/about"]["is_trap"] is False

    # URL-explosion-only mode (no fingerprint column)
    t2 = detect_crawl_traps(pages, min_family=25)
    got2 = {r["family"]: r["is_trap"] for r in t2.collect()}
    assert got2["t.com/cal/N/N"] is True and got2["ok.com/about"] is False


def test_url_family_normalization(spark):
    from web_crawler_spark.operators.urlfilter import url_family

    df = spark.createDataFrame(
        [
            ("https://A.com/Page/123?x=1#f",),
            ("https://a.com/page/999",),
            ("https://a.com",),  # empty path -> '/'
        ],
        ["url"],
    )
    fams = [r["f"] for r in df.select(url_family("url").alias("f")).collect()]
    assert fams[0] == fams[1] == "a.com/page/N"
    assert fams[2] == "a.com/"


def test_dust_param_mining_and_strip(spark):
    """Insignificant-param mining: a tracking param (content never
    changes) mines true, a pagination param (content changes) mines
    false, and one counterexample group vetoes an otherwise-clean key."""
    from web_crawler_spark.operators import urlfilter as UF

    rows = []
    # utm: 4 groups x 2 variants, fingerprint constant within each group
    for b in range(4):
        for u in range(2):
            rows.append((f"https://s.com/a/{b}?utm={u}", f"fp-{b}"))
    # page: 3 groups x 2 variants, fingerprint differs with page
    for b in range(3):
        for p in range(2):
            rows.append((f"https://s.com/b/{b}?page={p}", f"fp-{b}-{p}"))
    # mostly: clean in 3 groups but one counterexample -> vetoed
    for b in range(3):
        for v in range(2):
            rows.append((f"https://s.com/c/{b}?mostly={v}", f"fp-c{b}"))
    rows.append(("https://s.com/c/9?mostly=0", "fp-c9-a"))
    rows.append(("https://s.com/c/9?mostly=1", "fp-c9-b"))

    pages = spark.createDataFrame(rows, "url string, fingerprint string")
    got = {r["param"]: r for r in UF.insignificant_params(pages, min_groups=3).collect()}
    assert got["utm"]["insignificant"] is True
    assert got["utm"]["evidence_groups"] == 4 and got["utm"]["clean_groups"] == 4
    assert got["page"]["insignificant"] is False
    assert got["mostly"]["insignificant"] is False      # 4 evidence, 3 clean
    assert got["mostly"]["clean_groups"] == 3

    stripped = UF.strip_params(
        spark.createDataFrame(
            [("https://s.com/a/1?utm=9&page=2",),
             ("https://s.com/a/1?utm=9",),
             ("https://s.com/plain",)], "url string"),
        ["utm", "sid"],
    ).collect()
    assert [r["url"] for r in stripped] == [
        "https://s.com/a/1?page=2",
        "https://s.com/a/1",          # empty query drops the '?'
        "https://s.com/plain",
    ]


def test_soft_404_detection(spark):
    from web_crawler_spark.operators.urlfilter import soft_404_flags

    long_pad = " real article content" * 30
    rows = [
        (1, "https://e.com/a", 200, "Welcome!" + long_pad),           # clean
        (2, "https://e.com/b", 200, "Sorry, this page was not found." + long_pad),
        (3, "https://e.com/404", 200, "redirected"),                  # thin + error URL
        (4, "https://e.com/c", 404, "page not found"),                # REAL 404: not soft
        (5, "https://e.com/d", 200, "Error 404 - not found"),
        (6, "https://e.com/e", 200,
         long_pad + " the history of HTTP: in 1990 the 404 code was introduced"
         + " as part of the status registry" + " pad" * 600
         ),                                       # prose MENTION of 404, not error phrasing
        (7, "https://e.com/f", 200, "This article no longer exists" + long_pad),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "http_status", "text"])
    got = {r["doc_id"]: r["soft_404"] for r in soft_404_flags(df).collect()}
    assert got == {1: False, 2: True, 3: True, 4: False, 5: True, 6: False, 7: True}


# --- mirror_hosts (Bharat & Broder 1999) ----------------------------------

def _mirror_pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def test_mirror_hosts_full_and_partial_clone(spark):
    from web_crawler_spark.operators.urlfilter import (
        mirror_hosts_by_path as mirror_hosts,
    )

    rows = []
    for i in range(10):
        rows.append((f"https://a.ex/p{i}", f"doc {i}"))
        rows.append((f"https://b.ex/p{i}", f"doc {i}"))  # full mirror
        if i < 8:
            rows.append((f"https://c.ex/p{i}", f"doc {i}"))  # 80% clone
    rows += [(f"https://c.ex/q{i}", f"own {i}") for i in range(2)]
    got = {
        (r["host_a"], r["host_b"]): r
        for r in mirror_hosts(_mirror_pages(spark, rows)).collect()
    }
    ab = got[("a.ex", "b.ex")]
    assert (ab["shared"], ab["n_a"], ab["n_b"]) == (10, 10, 10)
    assert ab["overlap_milli"] == 1000 and ab["is_mirror"]
    ac = got[("a.ex", "c.ex")]
    assert (ac["shared"], ac["n_b"]) == (8, 10)
    assert ac["overlap_milli"] == 800 and ac["is_mirror"]


def test_mirror_hosts_same_text_different_path_never_pairs(spark):
    from web_crawler_spark.operators.urlfilter import (
        mirror_hosts_by_path as mirror_hosts,
    )

    rows = [(f"https://x.ex/x{i}", "boilerplate") for i in range(5)]
    rows += [(f"https://y.ex/y{i}", "boilerplate") for i in range(5)]
    assert mirror_hosts(_mirror_pages(spark, rows)).count() == 0


def test_mirror_hosts_min_shared_and_key_cap(spark):
    from web_crawler_spark.operators.urlfilter import (
        mirror_hosts_by_path as mirror_hosts,
    )

    # only 2 shared paths < min_shared=3 -> no row
    rows = [(f"https://n.ex/s{i}", f"s {i}") for i in range(2)]
    rows += [(f"https://m.ex/s{i}", f"s {i}") for i in range(2)]
    assert mirror_hosts(_mirror_pages(spark, rows)).count() == 0
    # a key served by >max_key_hosts hosts is dropped before pairing
    mass = [(f"https://h{i}.ex/common", "massdup") for i in range(20)]
    assert (
        mirror_hosts(_mirror_pages(spark, mass), max_key_hosts=16).count()
        == 0
    )
    # the same key under the cap pairs every host combination
    under = [(f"https://h{i}.ex/c{j}", f"d {j}") for i in range(3)
             for j in range(3)]
    out = mirror_hosts(_mirror_pages(spark, under)).collect()
    assert len(out) == 3 and all(r["is_mirror"] for r in out)


def test_cloaking_flags_classes(spark):
    """cloaking_flags (Wu & Davison): disjoint-sides flagged; shared fp,
    full dynamism, and one-sided fetch histories must all clear."""
    from web_crawler_spark.operators.urlfilter import cloaking_flags

    rows = [
        # cloaked: stable per side, disjoint across sides
        ("u_cloak", "bot", "A"), ("u_cloak", "bot", "A"),
        ("u_cloak", "browser", "B"), ("u_cloak", "browser", "B"),
        # clean: one shared fingerprint
        ("u_clean", "bot", "S"), ("u_clean", "browser", "S"),
        # partial overlap: one shared fp clears the flag
        ("u_part", "bot", "X"), ("u_part", "bot", "S2"),
        ("u_part", "browser", "S2"),
        # dynamic: every fetch unique -> guard holds even though disjoint
        ("u_dyn", "bot", "d1"), ("u_dyn", "browser", "d2"),
        ("u_dyn", "bot", "d3"), ("u_dyn", "browser", "d4"),
        # bot-only history
        ("u_bot", "bot", "Z"), ("u_bot", "bot", "Z"),
    ]
    df = spark.createDataFrame(rows, ["url", "agent_class", "content_fp"])
    got = {r["url"]: r for r in cloaking_flags(df).collect()}
    assert got["u_cloak"]["cloaked"] and got["u_cloak"]["shared_fps"] == 0
    assert not got["u_clean"]["cloaked"] and got["u_clean"]["shared_fps"] == 1
    assert not got["u_part"]["cloaked"] and got["u_part"]["shared_fps"] == 1
    assert not got["u_dyn"]["cloaked"] and got["u_dyn"]["dynamic"]
    assert not got["u_bot"]["cloaked"] and got["u_bot"]["n_browser"] == 0
    assert got["u_part"]["d_bot"] == 2 and got["u_part"]["d_browser"] == 1


def test_frontier_funnel_stages(spark):
    from web_crawler_spark.operators import robots as RB
    from web_crawler_spark.operators import urlfilter as UF

    candidates = spark.createDataFrame(
        [
            # two surface variants of one URL (case + fragment)
            ("https://a.com/p/1",), ("HTTPS://A.COM/p/1#frag",),
            ("https://a.com/p/2",),          # already in the seen set
            ("https://a.com/priv/3",),       # robots-disallowed
            ("https://b.com/priv/4",),       # no rules host: allowed
            ("https://a.com/p/5",),
        ],
        "url string",
    )
    seen = spark.createDataFrame(
        [("https://a.com/p/2",)], "canonical_url string"
    )
    rules = RB.parse_robots(
        spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /priv/\n")],
            "host string, body string",
        )
    )
    rows = {
        r.stage: (r.stage_id, r.n_urls, r.n_dropped, r.drop_share_milli)
        for r in UF.frontier_funnel(candidates, seen, rules).collect()
    }
    assert rows == {
        "raw_candidates": (0, 6, 0, 0),
        "after_batch_dedup": (1, 5, 1, 166),
        "after_seen_filter": (2, 4, 1, 200),
        "after_robots": (3, 3, 1, 250),
    }
