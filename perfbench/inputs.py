"""Seeded benchmark inputs.

Crawl inputs come from the package's own generators (``generate_pages``,
``seeds_from_pages``) plus robots.txt bodies made here: one body per seed
host that disallows every page-class path the host serves whose page
number ends in one digit (``Disallow: /{class}/*{digit}$``, a tenth of the
host's seed paths whatever the digit) and sets a per-host ``Crawl-delay``.

The analytics tables (``events``, ``documents``) follow the shape of the
repository's sf0.001 test data (1000 events over 15 users and 5 event
types; 500 documents over a 31-word vocabulary with ~5% near-duplicates),
written as parquet so the registered queries and their DuckDB oracles
read them the same way they read the repository's test data.

The same seed always gives the same inputs.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

# seed host -> page classes it serves, in the URL scheme of
# ``sources.seeds.seeds_from_pages`` (https://{host}/{class}/{k}?b=2&a=1)
HOST_CLASSES = {
    "markets.businessinsider.com": ["commodity_table", "nasty"],
    "example-commodities.net": ["simple_table"],
    "api.coingecko.com": ["json_api"],
    "finance.sina.com.cn": ["hq_str"],
    "data.worldbank.org": ["links"],
}
AGENT = "sparkcrawl"
CRAWL_DELAYS = [0.5, 1.0, 1.5, 2.0, 3.0]

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def robots_bodies(seed: int) -> dict[str, str]:
    """host -> robots.txt body; the denied last digit and the delay vary by
    seed, the denied share does not."""
    rng = random.Random(seed)
    out = {}
    for host, classes in HOST_CLASSES.items():
        digit = rng.randint(0, 9)
        delay = rng.choice(CRAWL_DELAYS)
        lines = ["User-agent: *"]
        lines += [f"Disallow: /{cls}/*{digit}$" for cls in classes]
        lines.append(f"Crawl-delay: {delay}")
        out[host] = "\n".join(lines) + "\n"
    return out


def crawl_inputs(spark, seed: int, n_pages: int, n_per_host: int, n_epochs: int):
    """(pages, seeds, robots) DataFrames, materialized.

    ``seeds_from_pages`` has no seed of its own; its URL space follows the
    corpus size, so the seed moves the corpus size within ±150 pages as
    well as the page bodies and the robots bodies."""
    from web_crawler_spark.sources.pages import generate_pages
    from web_crawler_spark.sources.seeds import seeds_from_pages

    n = n_pages + 50 * (seed % 7) - 150
    pages = generate_pages(spark, n, seed=seed, partitions=4).localCheckpoint()
    seeds = seeds_from_pages(
        spark, n, n_per_host=n_per_host, hot_factor=10, n_epochs=n_epochs
    ).localCheckpoint()
    robots = spark.createDataFrame(
        sorted(robots_bodies(seed).items()), "host string, body string"
    )
    return pages, seeds, robots


def write_analytics_tables(out_dir: str, seed: int, n_events: int = 1000,
                           n_docs: int = 500) -> str:
    """Write ``events.parquet`` and ``documents.parquet`` under ``out_dir``."""
    import pandas as pd

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_users = max(2, n_events * 15 // 1000)
    t = datetime(2024, 1, 1)
    rows = []
    for i in range(n_events):
        t += timedelta(microseconds=rng.randint(1, 2 * 2_592_000_000_000 // n_events))
        rows.append((
            i, t, rng.randrange(n_users), rng.choice(EVENT_TYPES),
            round(rng.expovariate(1 / 50.0), 2), f'{{"k": {rng.randrange(100)}}}',
        ))
    events = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    events["ts"] = events["ts"].astype("datetime64[us]")
    events.to_parquet(os.path.join(out_dir, "events.parquet"), index=False)

    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < 0.05:  # near-duplicate of an earlier doc
            base = rng.choice(texts).removesuffix(" dup").removesuffix(" dup")
            text = base + " dup" * rng.randint(1, 3)
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))
        texts.append(text)
    docs = pd.DataFrame({
        "doc_id": range(n_docs),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(x) for x in texts],
    })
    docs.to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)
    return out_dir
