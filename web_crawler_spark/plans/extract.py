"""HTML → rows extraction (SURVEY §2.8 X7/X9/X11 + the outlink 'expand'
stage the north_rule adds).

The reference parses with BeautifulSoup(html.parser) + ``get_text(strip=
True)`` (pacong/scrapers/business_insider.py:97-158, simple_generic.py:
114-142). This container has no bs4, so the engine pins an equivalent
contract on stdlib ``html.parser``:

* tables are walked in document order; a ``<tr>`` inside nested tables
  belongs to every open ancestor table (BS ``find_all('tr')`` descends);
* cell text = every descendant text chunk, each ``.strip()``-ed, joined
  with '' — exactly ``get_text(strip=True)``;
* fixtures are well-formed (explicitly closed tags), which is the subset
  where html.parser and BS agree byte-for-byte.

Everything runs inside ``mapInPandas`` or ``mapInArrow`` — Arrow batches
in, Arrow batches out, 1→N rows per page. Python is unavoidable here (real
HTML parsing); batching keeps it off the per-row slow path. At 100 TB this
stage is embarrassingly parallel: no shuffle. The crawl epoch runs its
extraction inside :func:`fetched_pass`, the Arrow pass that already holds
each fetched batch, instead of as a stage of its own.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Pure-Python core (unit-testable without Spark)
# ---------------------------------------------------------------------------


class _TableParser(HTMLParser):
    """Collect (cells per row per table) + links + visible text in one pass.

    Malformed-HTML recovery (HTML5 implied end tags, the behavior of
    bs4+lxml/html5lib on real crawl HTML): ``_scope`` tracks the open
    table/tr/td nesting, and a new ``<tr>`` closes any open cell/row of the
    *current* table (a nested table's rows are untouched because the scope
    walk stops at 'table'); ``<td>/<th>`` close an open sibling cell;
    ``</tr>``/``</table>`` close whatever is still open inside them.
    Well-formed documents take the exact round-1 strict path.
    """

    _SKIP_TEXT_IN = {"script", "style"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tables: list[list[list[str]]] = []   # table -> rows -> cells
        self._open_tables: list[list[list[str]]] = []
        self._open_rows: list[list[str]] = []      # row shared by open tables
        self._open_cells: list[list[str]] = []     # text chunks per open cell
        self._scope: list[str] = []                # open table/tr/td nesting
        self.links: list[str] = []
        self.link_rels: list[tuple[str, bool]] = []  # (href, nofollow)
        self._text_chunks: list[str] = []
        self._suppress = 0

    # -- implied-end-tag helpers --------------------------------------------

    def _close_cell(self) -> None:
        self._scope.pop()
        chunks = self._open_cells.pop()
        # get_text(strip=True): strip each chunk, join non-empty with ''
        text = "".join(c.strip() for c in chunks)
        if self._open_rows:
            self._open_rows[-1].append(text)

    def _close_row(self) -> None:
        self._scope.pop()
        if self._open_rows:
            self._open_rows.pop()

    def _imply_end(self, closers: tuple[str, ...]) -> None:
        while self._scope and self._scope[-1] in closers:
            if self._scope[-1] == "tr":
                self._close_row()
            else:
                self._close_cell()

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in self._SKIP_TEXT_IN:
            self._suppress += 1
            return
        if tag == "table":
            t: list[list[str]] = []
            self.tables.append(t)
            self._open_tables.append(t)
            self._scope.append("table")
        elif tag == "tr" and self._open_tables:
            self._imply_end(("td", "th", "tr"))
            row: list[str] = []
            self._open_rows.append(row)
            for t in self._open_tables:
                t.append(row)
            self._scope.append("tr")
        elif tag in ("td", "th"):
            self._imply_end(("td", "th"))
            if self._open_rows:
                chunks: list[str] = []
                self._open_cells.append(chunks)
                self._scope.append(tag)
        elif tag == "a":
            href, rel = None, ""
            for k, v in attrs:
                if k == "href" and v and href is None:
                    href = v
                elif k == "rel" and v:
                    rel = v
            if href:
                self.links.append(href)
                # rel is a space-separated token list (HTML spec); nofollow
                # anywhere in it excludes the edge from link-graph credit
                self.link_rels.append((href, "nofollow" in rel.lower().split()))

    def handle_endtag(self, tag: str) -> None:
        if tag in self._SKIP_TEXT_IN:
            self._suppress = max(0, self._suppress - 1)
            return
        if tag == "table" and self._open_tables:
            self._imply_end(("td", "th", "tr"))
            self._open_tables.pop()
            if self._scope and self._scope[-1] == "table":
                self._scope.pop()
        elif tag == "tr":
            self._imply_end(("td", "th"))
            if self._scope and self._scope[-1] == "tr":
                self._close_row()
        elif tag in ("td", "th"):
            if self._scope and self._scope[-1] in ("td", "th"):
                self._close_cell()

    def handle_data(self, data: str) -> None:
        if self._suppress:
            return
        for chunks in self._open_cells:
            chunks.append(data)
        if data.strip():
            self._text_chunks.append(data.strip())

    @property
    def text(self) -> str:
        return " ".join(self._text_chunks)


def parse_html(html: str) -> _TableParser:
    p = _TableParser()
    p.feed(html)
    p.close()
    return p


_PRICE_RE = re.compile(r"(\d+,?\d*\.?\d*)")
_DIGIT_RE = re.compile(r"\d+\.?\d*")


def extract_commodity_rows(html: str) -> list[dict]:
    """business_insider row semantics (business_insider.py:114-158):
    ≥3 cells; name filters (P1); first later cell with digits → price
    (comma-stripped regex); first later cell with % or +/- → change."""
    return _commodity_rows_from_parser(parse_html(html))


def _commodity_rows_from_parser(parsed: _TableParser) -> list[dict]:
    out = []
    for table in parsed.tables:
        for cells in table:
            if len(cells) < 3:
                continue
            name = cells[0]
            if (
                not name
                or len(name) <= 2
                or name.isdigit()
                or "commodity" in name.lower()
                or "price" in name.lower()
            ):
                continue
            price = None
            change = None
            for text in cells[1:]:
                if price is None and _DIGIT_RE.search(text):
                    m = _PRICE_RE.search(text.replace(",", ""))
                    if m:
                        try:
                            price = float(m.group(1))
                        except ValueError:
                            continue
                if change is None and ("%" in text or "+" in text or "-" in text):
                    change = text
            if name and price is not None:
                out.append({"name": name, "price": price, "change": change})
    return out


def extract_simple_rows(html: str) -> list[dict]:
    """simple_generic HTML semantics (simple_generic.py:114-142): ≥2 cells,
    price from cell[1], drop header names {name, symbol, commodity}."""
    out = []
    for table in parse_html(html).tables:
        for cells in table:
            if len(cells) < 2:
                continue
            name, price_text = cells[0], cells[1]
            m = _PRICE_RE.search(price_text.replace(",", ""))
            if m and name and name.lower() not in ("name", "symbol", "commodity"):
                try:
                    out.append({"name": name, "current_price": float(m.group(1))})
                except ValueError:
                    continue
    return out


def extract_links_rel(html: str) -> list[tuple[str, bool]]:
    """(href, nofollow) in document order — rel="nofollow" (or any
    space-separated rel token list containing it) marks edges the link
    graph must not credit (the link-spam opt-out PageRank/TrustRank/
    anchor aggregation honor)."""
    return parse_html(html).link_rels


def extract_text(html: str) -> str:
    """The byte-identity contract column (input_hint): stripped visible text
    chunks joined with single spaces, scripts/styles skipped."""
    return parse_html(html).text


# ---------------------------------------------------------------------------
# X9 CSS-selector extraction (generic_scraper.py:140-247 semantics)
# ---------------------------------------------------------------------------


def _transform_value(value: str, transform: str) -> str:
    """generic_scraper._transform_value (233-246), byte-for-byte: float =
    first [\\d.,]+ run after comma-strip else the original string."""
    if transform == "float":
        numbers = re.findall(r"[\d.,]+", value.replace(",", ""))
        return numbers[0] if numbers else value
    if transform == "lowercase":
        return value.lower()
    if transform == "uppercase":
        return value.upper()
    if transform == "strip_currency":
        return re.sub(r"[^\d.,]", "", value)
    return value


def _extract_field_value(container, rule):
    """generic_scraper._extract_field_value (190-229): str rule = selector →
    get_text(strip=True); dict rule = optional selector (miss → None) /
    attribute pull / regex group(1) / transform; falsy values → None."""
    from . import cssdom

    if isinstance(rule, str):
        element = cssdom.select_one(container, rule)
        return element.get_text(strip=True) if element else None
    if isinstance(rule, dict):
        selector = rule.get("selector")
        attribute = rule.get("attribute")
        regex_pattern = rule.get("regex")
        transform = rule.get("transform")
        if selector:
            element = cssdom.select_one(container, selector)
            if not element:
                return None
        else:
            element = container
        if attribute:
            value = element.get(attribute)
        else:
            value = element.get_text(strip=True)
        if not value:
            return None
        if regex_pattern:
            m = re.search(regex_pattern, str(value))
            value = m.group(1) if m else None
        if value and transform:
            value = _transform_value(value, transform)
        return value
    return None


def extract_config_items(
    html: str, extraction: dict, required_fields: list[str] | None = None
) -> list[dict]:
    """generic_scraper._parse_html (140-188): select item containers by CSS
    (default scan = every tr/div/li in document order), extract each field
    by rule, keep items that carry every required field (default ['name'],
    generic_scraper.py:179)."""
    from . import cssdom

    root = cssdom.parse_dom(html)
    container_selector = extraction.get("container")
    if container_selector:
        containers = cssdom.select(root, container_selector)
    else:
        containers = cssdom.find_all(root, ["tr", "div", "li"])
    field_rules: dict = extraction.get("fields", {})
    required = required_fields if required_fields is not None else ["name"]
    out = []
    for container in containers:
        item: dict = {}
        for field_name, rule in field_rules.items():
            value = _extract_field_value(container, rule)
            if value:
                item[field_name] = value
        if all(f in item for f in required):
            out.append(item)
    return out


# ---------------------------------------------------------------------------
# Spark stages (mapInPandas — Arrow batches, 1→N rows)
# ---------------------------------------------------------------------------

COMMODITY_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("change", T.StringType()),
    ]
)

TEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
    ]
)


def _decode(b) -> str:
    if b is None:
        return ""
    if isinstance(b, (bytes, bytearray)):
        return bytes(b).decode("utf-8", errors="replace")
    return str(b)


def _has_table(pages: DataFrame) -> DataFrame:
    """JVM-side prefilter: a page whose bytes never contain '<table'
    (case-insensitive) cannot yield a table element from the stdlib parser
    (tag-opens require the literal '<' + name; the parser matches tag names
    case-insensitively, hence the lower()). Result-identical — such pages
    produce zero rows either way — but the Python stage never sees them,
    which on real crawl data (most pages have no tables) is the difference
    between decoding the whole corpus in Python and decoding the relevant
    slice. Stays inside whole-stage codegen."""
    html_str = F.when(
        F.col("html").isNull(), F.lit("")
    ).otherwise(F.col("html").cast("string"))
    return pages.filter(F.lower(html_str).contains("<table"))


def commodity_table_stage(pages: DataFrame) -> DataFrame:
    """pages(url, html) → (url, name, price, change) rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                for r in extract_commodity_rows(_decode(html)):
                    rows.append((url, r["name"], r["price"], r["change"]))
            yield pd.DataFrame(rows, columns=["url", "name", "price", "change"])

    return _has_table(pages.select("url", "html")).mapInPandas(gen, COMMODITY_SCHEMA)


COMBINED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("change", T.StringType()),
        T.StructField("link", T.StringType()),
    ]
)


def combined_extract_stage(pages: DataFrame) -> DataFrame:
    """ONE HTML parse per page emitting BOTH commodity-table rows (link
    NULL) and outlink rows (name/price NULL) — the streaming parser
    collects tables and hrefs in the same pass, so separate link and
    commodity-table stages would pay the parse twice. Callers split the
    result by null-ness of `link`; materialize it (localCheckpoint) before
    splitting or each branch re-runs the stage. Rows are byte-identical to
    :func:`commodity_table_stage` plus one row per ``parse_html(html).links``
    href.

    Every input column other than ``url`` and ``html`` passes through
    unchanged onto each of its page's output rows, after the
    :data:`COMBINED_SCHEMA` columns: a key the caller needs downstream (the
    crawl's ``depth``) rides through the Arrow stage instead of being
    joined back on ``url``. A ``(url, html)`` input gives exactly
    :data:`COMBINED_SCHEMA`."""
    carried = [c for c in pages.columns if c not in ("url", "html")]
    schema = T.StructType(
        COMBINED_SCHEMA.fields + [pages.schema[c] for c in carried]
    )
    columns = [f.name for f in schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html, *rest in zip(
                pdf["url"], pdf["html"], *(pdf[c] for c in carried)
            ):
                rows.extend((url, *r, *rest) for r in page_rows(html))
            yield pd.DataFrame(rows, columns=columns)

    return pages.select("url", "html", *carried).mapInPandas(gen, schema)


def page_rows(html) -> Iterator[tuple]:
    """The ``(name, price, change, link)`` rows of one page, from one
    parse: its commodity-table rows (link None), then one row per href
    (name, price and change None). Both :func:`combined_extract_stage` and
    :func:`fetched_pass` extract a page through this."""
    parsed = parse_html(_decode(html))
    for r in _commodity_rows_from_parser(parsed):
        yield r["name"], r["price"], r["change"], None
    for link in parsed.links:
        yield None, None, None, link


# the ``kind`` of a :func:`fetched_pass` row that is not a fetched row (a
# fetched row's kind is its fetch status: ok, error or robots_denied)
ROW, LINK, METRICS = "row", "link", "metrics"

METRICS_FIELDS = [
    T.StructField("scraped_count", T.LongType()),
    T.StructField("error_count", T.LongType()),
    T.StructField("start_ts", T.TimestampType()),
    T.StructField("end_ts", T.TimestampType()),
]


def fetched_pass(fetched: DataFrame) -> DataFrame:
    """The crawl epoch's one Arrow pass over its ``fetched`` plan: per
    partition, the fetched rows without ``html``, the extraction of their
    ``ok`` pages, and one per-partition metrics row, in one frame.

    ``fetched`` carries ``status``, ``html``, ``canonical_url``, ``depth``
    and ``fetch_ts``. Every row of the result has a ``kind`` and the
    ``partition_id`` of the task that made it, and the columns of its kind
    (the others are null):

    * a fetched row, whose kind is its ``status``: every input column but
      ``status`` and ``html``, passed through as the Arrow arrays the
      batch arrived in;
    * an extraction row of an ``ok`` page, kind :data:`ROW` or
      :data:`LINK`: the page's ``canonical_url`` and ``depth`` and one
      :func:`page_rows` row (``name``, ``price``, ``change``, ``link``),
      the rows :func:`combined_extract_stage` makes of the page;
    * the last row of a non-empty partition, kind :data:`METRICS`: its
      ok and other row counts (``scraped_count``, ``error_count``) and the
      least and greatest ``fetch_ts`` (``start_ts``, ``end_ts``; null when
      every ``fetch_ts`` is) — the rows of a ``groupBy`` on
      ``spark_partition_id()`` over the same plan, without its exchange.

    ``kind`` and ``partition_id`` are never null."""
    carried = [c for c in fetched.columns if c not in ("status", "html")]
    schema = T.StructType(
        [
            T.StructField("kind", T.StringType(), False),
            T.StructField("partition_id", T.IntegerType(), False),
        ]
        + [T.StructField(c, fetched.schema[c].dataType) for c in carried]
        + COMBINED_SCHEMA.fields[1:]
        + METRICS_FIELDS
    )

    def arrow_schema(batch: pa.RecordBatch) -> pa.Schema:
        # strings and timestamps take the types the batch arrived in
        string, ts = batch.schema.field("status").type, batch.schema.field("fetch_ts").type
        types = {c: batch.schema.field(c).type for c in carried}
        types.update(kind=string, partition_id=pa.int32(), name=string, price=pa.float64(),
                     change=string, link=string, scraped_count=pa.int64(),
                     error_count=pa.int64(), start_ts=ts, end_ts=ts)
        return pa.schema([(f.name, types[f.name]) for f in schema.fields])

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = pa.scalar(TaskContext.get().partitionId(), pa.int32())
        out, n, n_ok, stamps = None, 0, 0, []
        for batch in batches:
            if not batch.num_rows:
                continue
            if out is None:
                out = arrow_schema(batch)
            ok = pc.equal(batch.column("status"), "ok")
            n += batch.num_rows
            n_ok += pc.sum(ok).as_py()
            stamps.append(batch.column("fetch_ts"))
            yield _arrow_rows(out, batch.num_rows, pid, kind=batch.column("status"),
                              **{c: batch.column(c) for c in carried})
            found = [
                (url, depth, *r)
                for url, html, depth in zip(*(
                    pc.filter(batch.column(c), ok).to_pylist()
                    for c in ("canonical_url", "html", "depth")
                ))
                for r in page_rows(html)
            ]
            if found:
                url, depth, name, price, change, link = zip(*found)
                yield _arrow_rows(
                    out, len(found), pid, kind=[ROW if h is None else LINK for h in link],
                    canonical_url=url, depth=depth, name=name, price=price,
                    change=change, link=link,
                )
        if n:
            span = pc.min_max(pa.chunked_array(stamps)).as_py()
            yield _arrow_rows(
                out, 1, pid, kind=[METRICS], scraped_count=[n_ok], error_count=[n - n_ok],
                start_ts=[span["min"]], end_ts=[span["max"]],
            )

    return fetched.mapInArrow(gen, schema)


def _arrow_rows(schema: pa.Schema, n: int, pid: pa.Scalar, **cols) -> pa.RecordBatch:
    """``n`` rows of ``schema``: ``partition_id`` ``pid``, the given
    columns (Arrow arrays as they are, sequences converted) and nulls in
    every other column."""
    cols["partition_id"] = pa.repeat(pid, n)
    return pa.RecordBatch.from_arrays(
        [
            pa.nulls(n, f.type) if f.name not in cols
            else cols[f.name] if isinstance(cols[f.name], pa.Array)
            else pa.array(cols[f.name], f.type)
            for f in schema
        ],
        schema=schema,
    )


def text_stage(pages: DataFrame) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "extracted_text": [extract_text(_decode(h)) for h in pdf["html"]],
                }
            )

    return pages.select("url", "html").mapInPandas(gen, TEXT_SCHEMA)


def css_config_stage(pages: DataFrame, config: dict) -> DataFrame:
    """X9 config-driven HTML extraction: pages(url, html) → one row per
    extracted item with a string column per configured field.

    The per-page work (CSS container select + field rules,
    generic_scraper.py:140-229) runs in a mapInPandas Arrow stage — the
    only Python in the plan, batched, shuffle-free, scanning (url, html)
    only. Cleaning / validation stay native Column expressions downstream
    (SourceRegistry.build). At 100 TB this stage is embarrassingly
    parallel; HTML bytes never shuffle.
    """
    extraction = config.get("extraction", {})
    field_names = list(extraction.get("fields", {}).keys())
    required = config.get("required_fields")
    schema = T.StructType(
        [T.StructField("url", T.StringType())]
        + [T.StructField(f, T.StringType()) for f in field_names]
    )
    cols = ["url", *field_names]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                for item in extract_config_items(_decode(html), extraction, required):
                    rows.append((url, *[item.get(f) for f in field_names]))
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", "html").mapInPandas(gen, schema)


def resolve_links(links: DataFrame, base_col: str = "url", link_col: str = "link") -> DataFrame:
    """Relative-href resolution with native expressions (no UDF):
    absolute stays; '//host/p' inherits protocol; '/p' inherits authority;
    fragments-only dropped; other relative paths resolved against the base
    directory. Covers the fixture grammar (F-1 class 5)."""
    base = F.col(base_col)
    link = F.col(link_col)
    proto = F.lower(F.try_parse_url(base, F.lit("PROTOCOL")))
    authority = F.try_parse_url(base, F.lit("AUTHORITY"))
    base_path = F.coalesce(F.try_parse_url(base, F.lit("PATH")), F.lit("/"))
    base_dir = F.regexp_replace(base_path, r"[^/]*$", "")
    resolved = (
        F.when(link.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), link)
        .when(link.startswith("//"), F.concat(proto, F.lit(":"), link))
        .when(link.startswith("/"), F.concat(proto, F.lit("://"), authority, link))
        .when(link.startswith("#"), F.lit(None))
        .otherwise(F.concat(proto, F.lit("://"), authority, base_dir, link))
    )
    return links.withColumn("resolved_url", resolved).filter(
        F.col("resolved_url").isNotNull()
    )


# ---------------------------------------------------------------------------
# JSON API parsing — fully native (S7/S8)
# ---------------------------------------------------------------------------


def coingecko_stage(pages: DataFrame, body_col: str = "html") -> DataFrame:
    """S7 (simple_generic.py:87-112): ``{"coin": {"usd": 117000.0}}`` body →
    (url, name, current_price) rows with change_percent defaulted to 0.0.
    from_json + explode(map) — no Python."""
    body = F.col(body_col).cast("string")
    parsed = F.from_json(body, "map<string, map<string,double>>")
    exploded = pages.select(
        "url", F.explode(parsed).alias("name", "quote")
    )
    return exploded.select(
        "url",
        "name",
        F.col("quote")["usd"].alias("current_price"),
        F.lit(0.0).alias("change_percent"),
    ).filter(F.col("current_price").isNotNull())


def tables_to_markdown(html: str) -> list[str]:
    """Render each ``<table>`` as GitHub-flavored Markdown (first row =
    header, ragged rows right-padded, pipes escaped) — the normalization
    LLM corpora apply so tabular structure survives into plain-text
    training data instead of collapsing into word soup. Rides the same
    malformed-HTML-recovering ``_TableParser`` as the X7 extraction."""
    rendered = []
    for tbl in parse_html(html).tables:
        rows = [r for r in tbl if r]
        if not rows:
            continue
        width = max(len(r) for r in rows)

        def fmt(r: list[str]) -> str:
            cells = [c.replace("|", "\\|").replace("\n", " ") for c in r]
            cells += [""] * (width - len(cells))
            return "| " + " | ".join(cells) + " |"

        lines = [fmt(rows[0]), "| " + " | ".join(["---"] * width) + " |"]
        lines += [fmt(r) for r in rows[1:]]
        rendered.append("\n".join(lines))
    return rendered


def markdown_tables_stage(df, html_col: str = "html", id_col: str = "url"):
    """Arrow-batched table→Markdown rendering: one row per table per
    page — (id, table_idx, markdown). Corrupt HTML degrades to zero
    tables for that page, never a stage failure."""
    import pandas as pd
    from pyspark.sql import types as ST

    schema = ST.StructType(
        [
            df.schema[id_col],
            ST.StructField("table_idx", ST.IntegerType()),
            ST.StructField("markdown", ST.StringType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids, idxs, mds = [], [], []
            for rid, html in zip(pdf[id_col], pdf[html_col]):
                try:
                    tables = tables_to_markdown(html or "")
                except Exception:
                    tables = []
                for i, md in enumerate(tables):
                    ids.append(rid)
                    idxs.append(i)
                    mds.append(md)
            yield pd.DataFrame({id_col: ids, "table_idx": idxs, "markdown": mds})

    return df.select(id_col, html_col).mapInPandas(gen, schema)
