"""Public-suffix-list (eTLD+1) registrable-domain extraction.

A crawl engine needs the *registrable domain* ("site"), not the raw host:
per-site politeness grouping (``a.blogspot.com`` and ``b.blogspot.com``
are different sites; ``www.example.co.uk`` and ``shop.example.co.uk`` are
the same), domain-diversity quotas in corpus mixing, mirror detection, and
per-site crawl budgets all key on eTLD+1. The reference crawler never
needed this (its seed list is a closed allowlist of ~10 hosts,
pacong/config/settings.yaml:41-60), but a 100 TB open-web corpus cannot
group by "host minus two labels" — that is wrong for every multi-label
registry suffix (``co.uk``) and every private suffix (``github.io``).

Semantics implement the Mozilla Public Suffix List algorithm
(https://publicsuffix.org/list/ — the list itself is MPL-2.0, the
algorithm is public):

- a *normal* rule ``co.uk`` marks ``co.uk`` a public suffix;
- a *wildcard* rule ``*.ck`` marks every direct child of ``ck`` a public
  suffix;
- an *exception* rule ``!www.ck`` overrides a wildcard: ``www.ck`` is
  registrable and its public suffix is ``ck``;
- exception rules beat everything; otherwise the longest matching rule
  prevails; if nothing matches, the implicit rule ``*`` applies (the bare
  TLD is the public suffix).

The registrable domain (eTLD+1) is the public suffix plus one label, or
NULL when the host *is* a public suffix.

``DEFAULT_PSL`` below is a committed **snapshot subset** of the public
list — the high-traffic ICANN registry suffixes plus the common private
(hosting-platform) suffixes, and the canonical wildcard/exception
exemplars. Production runs should pass the full ~9k-rule list file via
``parse_psl(open(path).read())``; the plan shape is identical (the rule
table is broadcast either way — the full list is <300 KB).

Scale plan — the same zero-shuffle idiom as
``operators/urlfilter.py::domain_blocklist_filter``: rather than exploding
each host into its label-suffix chain (a corpus-wide shuffle + group-back),
we compute the last-k-label suffix for k = 1..max_labels as plain
``substring_index`` columns and chain one **broadcast LEFT OUTER
equi-join per depth** against the (tiny, deduplicated) rule table, then
fold the prevailing rule with one ``coalesce``/``greatest`` expression.
Every join is a streaming BroadcastHashJoin: zero probe-side shuffles and
zero explodes at any corpus size (plan-asserted in tests/test_psl.py).

Hosts are expected post-canonicalization (ASCII/punycode, lowercase —
``urltools.url_host`` output). Unicode labels must be IDNA-encoded
upstream; this module does not transcode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "DEFAULT_PSL",
    "parse_psl",
    "psl_rules_df",
    "with_registrable_domain",
]

# Snapshot subset of the Public Suffix List (publicsuffix.org). Format is
# the list's own: comments with //, one rule per line, private-domain
# section delimited by the standard markers.
DEFAULT_PSL = """\
// ===BEGIN ICANN DOMAINS===
com
net
org
io
co
uk
co.uk
org.uk
ac.uk
gov.uk
me.uk
net.uk
sch.uk
jp
co.jp
ne.jp
or.jp
ac.jp
go.jp
ad.jp
// the PSL's canonical wildcard + exception exemplars
*.ck
!www.ck
*.kawasaki.jp
!city.kawasaki.jp
au
com.au
net.au
org.au
edu.au
gov.au
id.au
de
fr
cn
com.cn
net.cn
org.cn
gov.cn
edu.cn
us
br
com.br
net.br
org.br
gov.br
in
co.in
net.in
org.in
gov.in
ac.in
ru
nz
co.nz
net.nz
org.nz
za
co.za
org.za
web.za
mx
com.mx
ar
com.ar
tr
com.tr
sg
com.sg
hk
com.hk
tw
com.tw
kr
co.kr
it
nl
se
pl
es
ca
ch
app
dev
ai
// ===END ICANN DOMAINS===
// ===BEGIN PRIVATE DOMAINS===
github.io
gitlab.io
blogspot.com
herokuapp.com
s3.amazonaws.com
*.compute.amazonaws.com
cloudfront.net
azurewebsites.net
netlify.app
vercel.app
web.app
firebaseapp.com
pages.dev
workers.dev
wordpress.com
appspot.com
// ===END PRIVATE DOMAINS===
"""

_PRIVATE_BEGIN = "===BEGIN PRIVATE DOMAINS==="


def parse_psl(text: str, icann_only: bool = False) -> list[tuple[str, str]]:
    """Parse PSL text into ``[(suffix, kind)]``, kind in normal/wildcard/exception.

    Handles the list's real format: ``//`` comments, blank lines, the
    private-domain section marker (skipped entirely when ``icann_only``),
    and rule decorations (``*.`` prefix, ``!`` prefix). Rules are
    lowercased; anything after whitespace on a line is ignored (the
    published list annotates some rules that way).
    """
    rules: list[tuple[str, str]] = []
    in_private = False
    for raw in text.splitlines():
        line = raw.strip()
        if not line:
            continue
        if line.startswith("//"):
            if _PRIVATE_BEGIN in line:
                in_private = True
            continue
        if icann_only and in_private:
            continue
        rule = line.split()[0].lower().rstrip(".")
        if rule.startswith("!"):
            rules.append((rule[1:], "exception"))
        elif rule.startswith("*."):
            rules.append((rule[2:], "wildcard"))
        else:
            rules.append((rule, "normal"))
    return rules


def psl_rules_df(
    spark: SparkSession, text: str | None = None, icann_only: bool = False
) -> DataFrame:
    """Rule table keyed by the literal suffix string each host probe can hit.

    One row per distinct key with three nullable label-count columns —
    the *public-suffix length in labels* implied by each rule kind when a
    host's last-k-label suffix equals ``key``:

    - ``ps_normal`` = rule label count (rule ``co.uk`` → key ``co.uk``, 2)
    - ``ps_wild``   = parent label count + 1 (rule ``*.ck`` → key ``ck``, 2);
      only applicable when the host has ≥ key_labels+1 labels (the ``*``
      must consume a real label) — ``with_registrable_domain`` gates this
    - ``ps_exc``    = rule label count − 1 (rule ``!www.ck`` → key
      ``www.ck``, 1): the exception IS registrable, so its public suffix
      is the rule minus its leftmost label

    Multiple rules sharing a key keep the max per kind (longest match).
    """
    rules = parse_psl(DEFAULT_PSL if text is None else text, icann_only=icann_only)
    rows = []
    for suffix, kind in rules:
        n = suffix.count(".") + 1
        rows.append(
            (
                suffix,
                n if kind == "normal" else None,
                n + 1 if kind == "wildcard" else None,
                n - 1 if kind == "exception" else None,
            )
        )
    df = spark.createDataFrame(
        rows, "key string, ps_normal int, ps_wild int, ps_exc int"
    )
    return df.groupBy("key").agg(
        F.max("ps_normal").alias("ps_normal"),
        F.max("ps_wild").alias("ps_wild"),
        F.max("ps_exc").alias("ps_exc"),
    )


def with_registrable_domain(
    df: DataFrame,
    host_col: str = "host",
    rules: DataFrame | None = None,
    out_col: str = "registrable_domain",
    suffix_col: str | None = "public_suffix",
    max_labels: int = 6,
) -> DataFrame:
    """Append ``public_suffix`` and ``registrable_domain`` (eTLD+1) columns.

    ``rules`` defaults to the committed snapshot
    (``psl_rules_df(spark)``); pass the full-list table for production.
    ``max_labels`` bounds the probed rule depth (the published list's
    deepest rule is 5 labels; 6 is safe headroom). Hosts deeper than
    ``max_labels`` still resolve correctly as long as no *rule* is deeper.

    Plan: ``max_labels`` broadcast hash joins + one projection — zero
    shuffles, zero explodes on the probe side.
    """
    spark = df.sparkSession
    if rules is None:
        # materialize the snapshot table ONCE so the max_labels broadcasts
        # all read the same blocks instead of re-running the rule agg per
        # join (the blocklist's localCheckpoint discipline); callers
        # passing a custom/full-list table should pre-checkpoint likewise
        rules = psl_rules_df(spark).localCheckpoint(eager=True)
    dim = rules.select("key", "ps_normal", "ps_wild", "ps_exc")

    host = F.regexp_replace(F.lower(F.col(host_col)), r"\.$", "")
    out = df.withColumn("__psl_host", host).withColumn(
        "__psl_nlab",
        F.size(F.split(F.col("__psl_host"), r"\.")),
    )
    nlab = F.col("__psl_nlab")

    for k in range(1, max_labels + 1):
        r_k = F.broadcast(
            dim.select(
                F.col("key").alias(f"__psl_key{k}"),
                F.col("ps_normal").alias(f"__psl_n{k}"),
                F.col("ps_wild").alias(f"__psl_w{k}"),
                F.col("ps_exc").alias(f"__psl_e{k}"),
            )
        )
        # Gate the probe on label depth: substring_index returns the whole
        # host when it has < k labels, which would re-probe shallower keys
        # at the wrong depth.
        probe = F.when(nlab >= k, F.substring_index(F.col("__psl_host"), ".", -k))
        out = out.join(r_k, probe == F.col(f"__psl_key{k}"), "left")

    ks = range(1, max_labels + 1)
    # Exceptions win outright; prefer the deepest if several ever matched.
    exc = F.coalesce(*[F.col(f"__psl_e{k}") for k in reversed(ks)])
    # Wildcard *.X (key depth k) only matches hosts with ≥ k+1 labels.
    wilds = [F.when(nlab >= k + 1, F.col(f"__psl_w{k}")) for k in ks]
    normals = [F.col(f"__psl_n{k}") for k in ks]
    # greatest() skips NULLs; lit(1) is the implicit "*" rule.
    ps = F.coalesce(exc, F.greatest(*normals, *wilds, F.lit(1)))

    out = out.withColumn("__psl_ps", ps)
    public_suffix = F.expr("substring_index(__psl_host, '.', -__psl_ps)")
    registrable = F.when(
        nlab > F.col("__psl_ps"),
        F.expr("substring_index(__psl_host, '.', -(__psl_ps + 1))"),
    )
    if suffix_col:
        out = out.withColumn(suffix_col, public_suffix)
    out = out.withColumn(out_col, registrable)
    drop = ["__psl_host", "__psl_nlab", "__psl_ps"]
    for k in ks:
        drop += [f"__psl_key{k}", f"__psl_n{k}", f"__psl_w{k}", f"__psl_e{k}"]
    return out.drop(*drop)
