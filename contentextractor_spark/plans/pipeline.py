"""Spark assembly of the extraction pipeline (SURVEY.md §3 "Spark lifecycle").

Plan shape — ONE narrow stage after ONE explicit shuffle:

    scan(url, html[, lang])                       ← column-pruned parquet/Iceberg
      → repartition(P, xxhash64(url, SALT))      ← the only shuffle; full-url
                                                    hash ⇒ skewed hosts spread
                                                    uniformly (north rule:
                                                    salted repartitioning)
      → mapInPandas(_extract_batches)            ← Arrow-batched, iterator API;
                                                    all per-doc state stays in
                                                    the Python worker
      → write output + derive lineage            ← per-bucket metrics enable
                                                    idempotent resume by
                                                    anti-join

Every bucketed page stage (extract_pages, extract_pdf_pages and the five
DOM walkers: links, tables, lists, meta_robots, headings) is this shape,
written once: `_bucketed_stage` is the keying + repartition + mapInPandas
tail, and `_page_batches` is the one mapInPandas body.  The harness reads
the partition id once per task, skips empty batches, keeps a NULL url
NULL, turns NULL html into b"", and calls the stage's per-page function
`rows(data) -> list[tuple]` inside the per-URL catch-all; `@_page_body`
binds each per-page function to it under the stage's body name.

Why this scales to 10^12 docs / 100 TB:
 - no wide aggregation, no join in the hot path — shuffle volume is exactly
   one pass over (url, html);
 - Arrow batch size is bounded (ARROW_BATCH_ROWS) so a batch of ~10-500 KB
   pages fits executor memory; giant-page value skew is contained to one
   batch, not one partition (full-url hashing randomizes placement);
 - lineage rows are tiny (one per bucket) — the resume anti-join broadcasts.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .. import extractor
from ..extractor import EXTRACTOR_VERSION, extract_document
from ..operators import dom
from ..operators.pdfparse import extract_pdf

# Arrow batch sizing (SURVEY.md §4.2): default 10k rows/batch would hold
# ~1 GB of raw HTML per in-flight batch — OOM risk; tiny batches pay a
# per-batch pipe/flush tax (measured: 512→3.5k docs/s, 1024→8k docs/s on
# 32 cores).  1024 rows × ~120 KB worst-case page ≈ 125 MB per batch.
ARROW_BATCH_ROWS = 1024
SALT_SEED = 42

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("start_line", IntegerType()),
            StructField("end_line", IntegerType()),
            StructField("char_start", IntegerType()),
            StructField("char_end", IntegerType()),
        ]
    )
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("keywords", StringType()),
        StructField("main_text", StringType()),
        StructField("spans", SPAN_TYPE),
        StructField("keyword_list", StringType()),
        StructField("threshold", IntegerType()),
        StructField("status", StringType()),
        StructField("bucket_id", IntegerType()),
        StructField("partition_id", IntegerType()),
    ]
)

LINEAGE_SCHEMA = StructType(
    [
        StructField("bucket_id", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("url_min", StringType()),
        StructField("url_max", StringType()),
        StructField("row_count", LongType()),
        StructField("error_count", LongType()),
        StructField("extractor_version", StringType()),
        StructField("status", StringType()),
        StructField("ts", TimestampType()),
        StructField("run_id", StringType()),  # commit token (exactly-once read)
    ]
)


def build_spark(
    app: str = "contentextractor-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Session with the scale-relevant knobs set (AQE, Arrow batching)."""
    import os as _os

    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    return (
        # local mode defaults to a 1g JVM heap — 32 concurrent parquet
        # reader tasks with ~100 KB binary cells need far more headroom
        b.config(
            "spark.driver.memory", _os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # pin the session timezone: date_trunc/window boundaries and
        # timestamp rendering must not depend on the host TZ (a
        # fractional-offset host would shift hour edges vs the DuckDB
        # oracle's naive-timestamp truncation)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.files.maxPartitionBytes", "268435456")
        .getOrCreate()
    )


_PYFILES_SHIPPED: set[str] = set()


def ensure_pyfiles(spark: SparkSession) -> None:
    """Ship this package to executors via addPyFile (the programmatic twin
    of `spark-submit --py-files`).  Driver-side sys.path edits do NOT reach
    Python workers — without this, running the pipeline from a cwd outside
    the repo fails with ModuleNotFoundError in the executors."""
    import os
    import tempfile
    import zipfile

    sc = spark.sparkContext
    key = sc.applicationId
    if key in _PYFILES_SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # ALWAYS build a fresh private zip (mkstemp: unique name, 0600): a
    # predictable pid-keyed path reused a stale zip after package edits —
    # executors silently ran old code — and was pre-creatable by another
    # local user (r3 review).  One zip per application; pennies.
    fd, zip_path = tempfile.mkstemp(prefix="cx_spark_pyfiles_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    _PYFILES_SHIPPED.add(key)


def _page_batches(
    batches: Iterator[pd.DataFrame],
    rows: Callable[[bytes], list[tuple]],
    schema: StructType,
    payload: str,
) -> Iterator[pd.DataFrame]:
    """The ONE bucketed mapInPandas body — runs on executors; one Arrow
    batch at a time so per-batch memory stays bounded regardless of input
    partition size.  Every page calls ``rows(data)`` (NULL payload → b"")
    inside the per-URL catch-all, mirroring the reference's extractor
    error contract (ContentExtractor.java:200-207): a page whose function
    raises contributes zero rows.  Each returned tuple becomes one output
    row (url, *tuple, bucket_id, partition_id) in ``schema``'s order."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    columns = schema.fieldNames()[:-1]

    for pdf in batches:
        if len(pdf) == 0:
            continue
        out: list[tuple] = []
        for u, data, bucket in zip(pdf["url"], pdf[payload], pdf["bucket_id"]):
            try:
                found = rows(bytes(data) if data is not None else b"")
            except Exception:  # noqa: BLE001 — per-URL catch-all
                continue
            # astype(str) would turn a NULL url into the literal 'None',
            # corrupting output keys and lineage url ranges (r3 review)
            us = None if u is None else str(u)
            out.extend((us, *r, bucket) for r in found)
        if out:
            frame = pd.DataFrame(out, columns=columns)
            frame["partition_id"] = pid
            yield frame


def _page_body(schema: StructType, payload: str = "html"):
    """Decorator: bind a per-page function ``rows(data) -> list[tuple]``
    to _page_batches as the mapInPandas body of ``schema``.  The body
    keeps the function's module-level name, so it pickles by reference
    and can be swapped by name like any module global."""

    def bind(rows):
        @functools.wraps(rows)
        def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            return _page_batches(batches, rows, schema, payload)

        return body

    return bind


@_page_body(EXTRACT_SCHEMA)
def _extract_batches(data: bytes) -> list[tuple]:
    """mapInPandas body: page → ONE extraction row.  ``extract_document``
    is this module's global, read per call, and keeps its D2 meta-charset
    re-decode; it never raises (its own per-URL catch-all sets status)."""
    res = extract_document(data)
    spans = [
        {"start_line": s[0], "end_line": s[1], "char_start": s[2], "char_end": s[3]}
        for s in res.spans
    ]
    return [
        (
            res.title, res.description, res.keywords, res.main_text, spans,
            res.keyword_list, res.threshold, res.status,
        )
    ]


def _bucket_key(num_buckets: int) -> Column:
    """pmod(xxhash64(url, SALT_SEED), n) as int — the ONE definition of
    the bucket key.  salted_bucket (every bucketed stage, batch and
    stream) and resume_filter both read it, so the salt-parity invariant
    (resume_filter / read_committed_output must compute the same bucket
    for the same url as the stage that wrote it) is structural, never
    hand-synced copies (r3 session-2 review)."""
    return F.pmod(F.xxhash64(F.col("url"), F.lit(SALT_SEED)), F.lit(num_buckets)).cast(
        "int"
    )


def salted_bucket(df: DataFrame, payload_col: str, num_buckets: int) -> DataFrame:
    """(url, payload) + bucket_id = _bucket_key(num_buckets)."""
    return df.select("url", payload_col).withColumn("bucket_id", _bucket_key(num_buckets))


def _keyed_pages(df: DataFrame, payload_col: str, num_buckets: int) -> DataFrame:
    """ensure_pyfiles + salted_bucket: the keying path shared by every
    bucketed stage, batch (_bucketed_stage) and stream (stream_extract_*)."""
    ensure_pyfiles(df.sparkSession)
    return salted_bucket(df, payload_col, num_buckets)


def _bucketed_stage(
    df: DataFrame, payload_col: str, num_buckets: int, body, schema: StructType
) -> DataFrame:
    """The batch plan of every bucketed stage: keying → ONE salted
    repartition on bucket_id → mapInPandas(body)."""
    keyed = _keyed_pages(df, payload_col, num_buckets)
    partitioned = keyed.repartition(num_buckets, F.col("bucket_id"))
    return partitioned.mapInPandas(body, schema=schema)


def extract_pages(pages: DataFrame, num_buckets: int = 32) -> DataFrame:
    """The flagship operator: pages(url, html, ...) → extraction columns.

    Bucketing: bucket_id = pmod(xxhash64(url, SALT), num_buckets).  Hashing
    the FULL url (not the host) spreads skewed hosts across all buckets —
    the "salted repartitioning for skewed hosts" of the north rule; SALT
    decorrelates from any upstream xxhash64 layout.  repartition() on the
    bucket column is the pipeline's only shuffle.
    """
    return _bucketed_stage(pages, "html", num_buckets, _extract_batches, EXTRACT_SCHEMA)


PDF_EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("n_objects", IntegerType()),
        StructField("status", StringType()),
        StructField("bucket_id", IntegerType()),
        StructField("partition_id", IntegerType()),
    ]
)


@_page_body(PDF_EXTRACT_SCHEMA, payload="pdf")
def _extract_pdf_batches(data: bytes) -> list[tuple]:
    """mapInPandas body for PDF extraction — same bounded-batch discipline
    as _extract_batches (one Arrow batch of raw bytes in flight per task)."""
    res = extract_pdf(data)
    return [(res.text, res.n_pages, res.n_objects, res.status)]


def extract_pdf_pages(docs: DataFrame, num_buckets: int = 32) -> DataFrame:
    """PDF/layout member of the extraction family (north rule: "HTML
    boilerplate strip, PDF/layout parse, DOM heuristics"): docs(url,
    pdf:binary) → (url, text, n_pages, n_objects, status, ...).

    Identical scale shape to extract_pages — column-pruned scan →
    one salted repartition on pmod(xxhash64(url, SALT)) → mapInPandas
    (operators/pdfparse.py, stdlib-only parser) — so every plan-level
    property argued there (bounded Arrow batches, skew spread, single
    shuffle) carries over unchanged."""
    return _bucketed_stage(
        docs, "pdf", num_buckets, _extract_pdf_batches, PDF_EXTRACT_SCHEMA
    )


def _parse_page(data: bytes):
    """decode + parse shared by the five DOM walkers.  decode_html has NO
    meta-charset recheck: only extract_document re-decodes on a declared
    charset (D2), and each walker keeps exactly the input it always had
    (D3 — do not unify the two decodes).  Both functions are read through
    their modules per call."""
    return dom.parse_xml(extractor.decode_html(data))


LINKS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("href", StringType()),
        StructField("anchor", StringType()),
        StructField("link_idx", IntegerType()),
        StructField("bucket_id", IntegerType()),
        StructField("partition_id", IntegerType()),
    ]
)


@_page_body(LINKS_SCHEMA)
def _extract_link_batches(data: bytes) -> list[tuple]:
    """mapInPandas body: page → one row per <a href>, in DOCUMENT ORDER
    (the DOM walk is preorder DFS, so link_idx is layout-stable).  Same
    bounded-batch discipline as _extract_batches; a page that fails to
    decode or parse contributes zero links (per-URL catch-all, mirroring
    the reference's extractor error contract)."""
    links = (
        el
        for el in _parse_page(data).iter_elements()
        if el.tag == "a" and el.has_attr("href")
    )
    return [(el.attr("href"), el.text(), i) for i, el in enumerate(links)]


def extract_links(pages: DataFrame, num_buckets: int = 32) -> DataFrame:
    """Link extraction — pages(url, html) → one row per <a href>, the feed
    for the host link graph (canonicalize_urls → domain grouping →
    analysis.pagerank).  Identical scale shape to extract_pages: pruned
    scan → ONE salted repartition → mapInPandas flat-map; output volume is
    links-per-page bounded per Arrow batch, and the flat-map never
    shuffles."""
    return _bucketed_stage(
        pages, "html", num_buckets, _extract_link_batches, LINKS_SCHEMA
    )


TABLES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("table_idx", IntegerType()),
        StructField("row_idx", IntegerType()),
        StructField("col_idx", IntegerType()),
        StructField("is_header", IntegerType()),
        StructField("cell", StringType()),
        StructField("bucket_id", IntegerType()),
        StructField("partition_id", IntegerType()),
    ]
)


def _own_table_descendants(el):
    """Preorder element descendants of `el`, NOT descending into nested
    <table> subtrees (the nested table is still YIELDED — it gets its own
    table_idx from the outer walk — but its rows/cells belong to it, not
    to the enclosing table)."""
    stack = [c for c in reversed(el.children) if c.__class__.__name__ == "Element"]
    while stack:
        n = stack.pop()
        yield n
        if n.tag != "table":
            stack.extend(
                [c for c in reversed(n.children) if c.__class__.__name__ == "Element"]
            )


@_page_body(TABLES_SCHEMA)
def _extract_table_batches(data: bytes) -> list[tuple]:
    """mapInPandas body: page → one row per table CELL, in document order
    (tables numbered by preorder position — nested tables get their own
    index; rows by <tr> order within their table, cells by <td>/<th>
    order within their row).  Grid positions are PHYSICAL: colspan/
    rowspan attributes do not shift later cells (documented — span
    expansion is a presentation concern; training-data consumers want
    the cell stream).  Cell text is jsoup-normalized Element.text(), so
    a cell that CONTAINS a nested table also includes that table's text
    (jsoup semantics).  A page that fails to decode or parse contributes
    zero rows (the extractor error contract)."""
    out: list[tuple] = []
    tables = (el for el in _parse_page(data).iter_elements() if el.tag == "table")
    for t_idx, table in enumerate(tables):
        trs = (n for n in _own_table_descendants(table) if n.tag == "tr")
        for r_idx, tr in enumerate(trs):
            cells = (n for n in _own_table_descendants(tr) if n.tag in ("td", "th"))
            out.extend(
                (t_idx, r_idx, c_idx, 1 if cell.tag == "th" else 0, cell.text())
                for c_idx, cell in enumerate(cells)
            )
    return out


def extract_tables(pages: DataFrame, num_buckets: int = 32) -> DataFrame:
    """Table extraction — pages(url, html) → one row per table cell, the
    structured-data feed (entity tables, infoboxes, data sheets) next to
    extract_links.  Identical scale shape to extract_pages: pruned scan →
    ONE salted repartition → mapInPandas flat-map; no shuffle after the
    flat-map, output volume bounded per Arrow batch."""
    return _bucketed_stage(
        pages, "html", num_buckets, _extract_table_batches, TABLES_SCHEMA
    )


LISTS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("list_idx", IntegerType()),
        StructField("list_type", StringType()),
        StructField("item_idx", IntegerType()),
        StructField("item", StringType()),
        StructField("bucket_id", IntegerType()),
        StructField("partition_id", IntegerType()),
    ]
)


def _own_list_descendants(el):
    """Preorder element descendants of `el`, NOT descending into nested
    <ul>/<ol> subtrees — the table-walker convention (`
    _own_table_descendants`): the nested list is still YIELDED (the outer
    document walk gives it its own list_idx) but its <li> items belong to
    it, not to the enclosing list."""
    stack = [c for c in reversed(el.children) if c.__class__.__name__ == "Element"]
    while stack:
        n = stack.pop()
        yield n
        if n.tag not in ("ul", "ol"):
            stack.extend(
                [c for c in reversed(n.children) if c.__class__.__name__ == "Element"]
            )


@_page_body(LISTS_SCHEMA)
def _extract_list_batches(data: bytes) -> list[tuple]:
    """mapInPandas body: page → one row per list ITEM, in document order
    (lists numbered by preorder position over <ul>/<ol> — nested lists
    get their own list_idx; items by <li> order within their OWN list,
    nested subtrees excluded).  Item text is jsoup-normalized
    Element.text(), so an item that CONTAINS a nested list also includes
    that list's text (jsoup semantics — same rule as table cells).  A
    page that fails to decode or parse contributes zero rows (the
    extractor error contract)."""
    out: list[tuple] = []
    lists = (el for el in _parse_page(data).iter_elements() if el.tag in ("ul", "ol"))
    for l_idx, lst in enumerate(lists):
        items = (n for n in _own_list_descendants(lst) if n.tag == "li")
        out.extend((l_idx, lst.tag, i_idx, li.text()) for i_idx, li in enumerate(items))
    return out


def extract_lists(pages: DataFrame, num_buckets: int = 32) -> DataFrame:
    """List extraction — pages(url, html) → one row per <li> item, the
    enumerable-content feed (navigation menus, step lists, bullet facts)
    completing the structured-extraction trio with extract_tables and
    extract_headings.  Identical scale shape to extract_pages: pruned
    scan → ONE salted repartition → mapInPandas flat-map; no shuffle
    after the flat-map, output volume bounded per Arrow batch."""
    return _bucketed_stage(
        pages, "html", num_buckets, _extract_list_batches, LISTS_SCHEMA
    )


META_ROBOTS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("noindex", IntegerType()),
        StructField("nofollow", IntegerType()),
        StructField("content", StringType()),
        StructField("bucket_id", IntegerType()),
        StructField("partition_id", IntegerType()),
    ]
)


@_page_body(META_ROBOTS_SCHEMA)
def _extract_meta_robots_batches(data: bytes) -> list[tuple]:
    """mapInPandas body: page → ONE row with its robots-meta verdict.
    Directive semantics (the robots-meta convention): tokens are
    comma-separated, trimmed, case-insensitive; 'none' ≡ noindex,
    nofollow; 'all' asserts neither; multiple robots metas UNION their
    directives (any noindex counts); `content` is the first robots
    meta's content in document order, null when the page has none.  A
    page that fails to decode/parse contributes zero rows (the
    extractor error contract — a crashed page must not read as
    'indexable')."""
    contents = [
        el.attr("content")
        for el in _parse_page(data).iter_elements()
        if el.tag == "meta" and el.attr("name").strip().lower() == "robots"
    ]
    noindex = nofollow = 0
    for c in contents:
        for tok in (c or "").split(","):
            t = tok.strip().lower()
            if t in ("noindex", "none"):
                noindex = 1
            if t in ("nofollow", "none"):
                nofollow = 1
    return [(noindex, nofollow, contents[0] if contents else None)]


def extract_meta_robots(pages: DataFrame, num_buckets: int = 32) -> DataFrame:
    """Robots-meta verdicts — pages(url, html) → one row per parsed page
    with (noindex, nofollow), the page-level compliance gate next to the
    robots.txt path gate (analysis.apply_robots): corpora that honor
    noindex filter on this column before training.  Same scale shape as
    extract_pages: salted repartition → mapInPandas, no shuffle after."""
    return _bucketed_stage(
        pages, "html", num_buckets, _extract_meta_robots_batches, META_ROBOTS_SCHEMA
    )


HEADINGS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("h_idx", IntegerType()),
        StructField("level", IntegerType()),
        StructField("sec", StringType()),
        StructField("text", StringType()),
        StructField("bucket_id", IntegerType()),
        StructField("partition_id", IntegerType()),
    ]
)

_HEADING_LEVELS = {f"h{i}": i for i in range(1, 7)}


@_page_body(HEADINGS_SCHEMA)
def _extract_heading_batches(data: bytes) -> list[tuple]:
    """mapInPandas body: page → one row per h1–h6 heading in document
    (preorder) order, with OUTLINE numbering: per-level counters — a
    level-L heading increments counter[L], resets counters below, and
    `sec` is the dotted join of counters 1..L.  A document that opens at
    h2 (no h1 yet) numbers '0.1' — skipped levels keep their 0 rather
    than inventing a parent ('1' then an h3 gives '1.0.1'), so the
    numbering is a pure function of the heading sequence (what the SQL
    oracle replays).  Heading text is jsoup-normalized Element.text().
    A page that fails to decode or parse contributes zero rows (the
    extractor error contract)."""
    heads = [
        (_HEADING_LEVELS[el.tag], el.text())
        for el in _parse_page(data).iter_elements()
        if el.tag in _HEADING_LEVELS
    ]
    out: list[tuple] = []
    counters = [0] * 7
    for h_idx, (level, text) in enumerate(heads):
        counters[level] += 1
        counters[level + 1:] = [0] * (6 - level)
        out.append((h_idx, level, ".".join(map(str, counters[1:level + 1])), text))
    return out


def extract_headings(pages: DataFrame, num_buckets: int = 32) -> DataFrame:
    """Document-outline extraction — pages(url, html) → one row per
    heading with its level and dotted section number: the structure feed
    for section-aware chunking (split-on-heading beats split-on-bytes for
    RAG/training windows) and per-section dedup.  Same scale shape as
    extract_pages: pruned scan → ONE salted repartition → mapInPandas
    flat-map, no shuffle after."""
    return _bucketed_stage(
        pages, "html", num_buckets, _extract_heading_batches, HEADINGS_SCHEMA
    )


SITEMAP_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("pos", IntegerType()),
        StructField("loc", StringType()),
        StructField("is_index", IntegerType()),
    ]
)


def _sitemap_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: sitemap XML → one row per <loc>, in document
    order.  is_index=1 when the document root is <sitemapindex> (the locs
    then name child sitemaps, not pages).  A body that fails to parse
    contributes zero rows (the extractor error contract)."""
    from ..operators.dom import parse_xml

    for pdf in batches:
        if len(pdf) == 0:
            continue
        hosts: list = []
        poss: list = []
        locs: list = []
        idxs: list = []
        for h, xml in zip(pdf["host"], pdf["xml"]):
            try:
                doc = parse_xml(xml if xml is not None else "")
                root_index = any(
                    el.tag == "sitemapindex" for el in doc.iter_elements()
                )
                found = [
                    el.text()
                    for el in doc.iter_elements()
                    if el.tag == "loc"
                ]
            except Exception:  # noqa: BLE001 — per-row catch-all
                found, root_index = [], False
            for i, loc in enumerate(found):
                hosts.append(None if h is None else str(h))
                poss.append(i)
                locs.append(loc)
                idxs.append(1 if root_index else 0)
        if hosts:
            yield pd.DataFrame(
                {"host": hosts, "pos": poss, "loc": locs, "is_index": idxs}
            )


def parse_sitemaps(sitemaps: DataFrame) -> DataFrame:
    """Sitemap ingestion — (host, xml) → one row per <loc> (document
    order), the crawl-frontier feed next to the robots gate
    (analysis.parse_robots/apply_robots).  Runs through the SAME real
    XML DOM the extractor uses, so namespace-free <urlset>/<sitemapindex>
    bodies parse exactly like Jsoup XML mode.

    Scale note: the sitemap table is per-HOST (orders of magnitude
    smaller than pages), so no salted repartition — Spark's input split
    already spreads it; if a pathological host ships a giant sitemap,
    route through salted_bucket exactly like extract_links."""
    ensure_pyfiles(sitemaps.sparkSession)
    return sitemaps.mapInPandas(_sitemap_batches, schema=SITEMAP_SCHEMA)


FEED_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("pos", IntegerType()),
        StructField("link", StringType()),
        StructField("title", StringType()),
        StructField("kind", StringType()),
    ]
)


def _feed_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: RSS/Atom feed XML → one row per item/entry in
    document order.  RSS: <item> with <link> TEXT; Atom: <entry> with
    <link href=...> (self-closing — the XML parser never pushes it, so
    a text-form link inside an Atom entry would be a different row: the
    two conventions are structurally distinguishable, not sniffed from
    a content-type header).  A body that fails to parse contributes
    zero rows (the extractor error contract)."""
    from ..operators.dom import parse_xml

    for pdf in batches:
        if len(pdf) == 0:
            continue
        out: dict[str, list] = {
            "host": [], "pos": [], "link": [], "title": [], "kind": [],
        }
        for h, xml in zip(pdf["host"], pdf["xml"]):
            try:
                doc = parse_xml(xml if xml is not None else "")
                els = list(doc.iter_elements())
            except Exception:  # noqa: BLE001 — per-row catch-all
                els = []
            entries = [e for e in els if e.tag == "entry"]
            kind = "atom"
            if not entries:
                entries = [e for e in els if e.tag == "item"]
                kind = "rss"
            for i, item in enumerate(entries):
                link = title = None
                for el in item.iter_elements():
                    if el.tag == "link" and link is None:
                        link = el.attr("href") if kind == "atom" else el.text()
                    elif el.tag == "title" and title is None:
                        title = el.text()
                out["host"].append(None if h is None else str(h))
                out["pos"].append(i)
                out["link"].append(link)
                out["title"].append(title)
                out["kind"].append(kind)
        if out["host"]:
            yield pd.DataFrame(out)


def parse_feeds(feeds: DataFrame) -> DataFrame:
    """Feed ingestion — (host, xml) → one row per RSS <item> / Atom
    <entry> in document order: the freshness-crawl discovery channel
    next to parse_sitemaps (sitemaps enumerate the site; feeds announce
    what changed today, which is what a recrawl scheduler actually
    polls).  Runs through the same real XML DOM as the extractor.

    Scale note: the parse_sitemaps argument verbatim — feed tables are
    per-host, so the input split spreads them; a pathological host
    routes through salted_bucket like extract_links."""
    ensure_pyfiles(feeds.sparkSession)
    return feeds.mapInPandas(_feed_batches, schema=FEED_SCHEMA)


def lineage_metrics(extracted: DataFrame) -> DataFrame:
    """Per-bucket lineage/metrics rows (north rule: partition id, url range,
    row counts, extractor-version hash).  Derived from the output with one
    tiny aggregation — no executor-side side channel needed.  When the
    output carries a run_id (run_extraction), it is propagated so readers
    can commit-filter (see read_committed_output)."""
    has_run_id = "run_id" in extracted.columns
    run_id = F.first("run_id") if has_run_id else F.lit(None).cast("string")
    n_runs = (
        F.countDistinct("run_id") if has_run_id else F.lit(0).cast("long")
    )
    agg = extracted.groupBy("bucket_id").agg(
        F.first("partition_id").alias("partition_id"),
        F.min("url").alias("url_min"),
        F.max("url").alias("url_max"),
        F.count(F.lit(1)).alias("row_count"),
        F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("error_count"),
        F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
        F.lit("done").alias("status"),
        F.current_timestamp().alias("ts"),
        run_id.alias("run_id"),
        n_runs.alias("_n_runs"),
    )
    # a lineage row is a COMMIT RECORD for exactly one run: aggregating a
    # multi-run table would stamp counts spanning every run with an
    # arbitrary first() run_id — possibly COMMITTING orphan rows a crashed
    # run left behind (r3 review).  Same shuffle, zero extra jobs; the
    # filter both forces the check and keeps it un-prunable.
    return agg.filter(
        F.assert_true(
            F.col("_n_runs") <= 1,
            F.concat(
                F.lit("lineage_metrics: bucket "),
                F.col("bucket_id").cast("string"),
                F.lit(
                    " spans multiple run_ids — refusing to emit a commit "
                    "record over a mixed-run table (filter to one run first)"
                ),
            ),
        ).isNull()
    ).drop("_n_runs")


def resume_filter(
    pages: DataFrame, lineage: DataFrame, num_buckets: int = 32
) -> DataFrame:
    """Idempotent resume (SURVEY.md §4.2): drop pages whose bucket already
    has a `done` lineage row for the current extractor version.  The lineage
    side is tiny → broadcast anti-join, no extra shuffle of the big side."""
    done = (
        lineage.filter(
            (F.col("status") == "done")
            & (F.col("extractor_version") == EXTRACTOR_VERSION)
        )
        .select("bucket_id")
        .distinct()
    )
    keyed = pages.withColumn("bucket_id", _bucket_key(num_buckets))
    return keyed.join(F.broadcast(done), "bucket_id", "left_anti").drop("bucket_id")


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str | None = None,
    lineage_path: str | None = None,
    num_buckets: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """End-to-end job: (optionally resume-filtered) extract + lineage write.

    At 100 TB the writes are partitioned by bucket_id so a re-run targets
    only missing buckets; with Iceberg both writes become a single
    transactional `writeTo(...).append()` each.
    """
    if lineage_path is not None:
        from pyspark.errors import AnalysisException

        try:
            existing = spark.read.parquet(lineage_path)
            pages = resume_filter(pages, existing, num_buckets)
        except AnalysisException as e:
            # ONLY "lineage doesn't exist yet" means full run; a corrupt or
            # unreadable lineage table must fail loudly — at 100 TB silently
            # ignoring it would trigger a full recompute (and duplicate
            # output rows under mode=append).  Structured error class, not
            # message substring (ADVICE r2): the rendered text is not a
            # stable API across Spark versions.
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            # else: no lineage yet → full run
    import uuid

    run_id = uuid.uuid4().hex
    extracted = extract_pages(pages, num_buckets=num_buckets).withColumn(
        "run_id", F.lit(run_id)
    )
    if output_path is not None:
        extracted.write.mode("append").partitionBy("bucket_id").parquet(output_path)
        written = spark.read.parquet(output_path)
        # lineage describes THIS batch only (rows actually just written) —
        # the commit record for (bucket_id, run_id)
        extracted = written
        batch = written.filter(F.col("run_id") == run_id)
    else:
        batch = extracted
        if lineage_path is not None:
            # without a persist the lineage write below runs the full
            # extraction once and the caller's materialization runs it
            # AGAIN — the parquet re-read plays this role in the
            # output_path branch (r3 review)
            batch = extracted.persist()
            extracted = batch
    lineage = lineage_metrics(batch)
    if lineage_path is not None:
        lineage.write.mode("append").parquet(lineage_path)
        lineage = spark.read.parquet(lineage_path)
        if output_path is not None:
            # exactly-once read contract: only rows whose (bucket_id,
            # run_id) has a lineage commit row are visible.  A crash
            # BETWEEN the two appends leaves orphan output rows with a
            # run_id absent from lineage; the next resume reprocesses the
            # bucket and the orphans stay invisible — no duplicates, no
            # transactions needed (Iceberg's single atomic append is the
            # one-line upgrade).  The semi-join side is the tiny lineage
            # table → broadcast, no shuffle of the big side.
            extracted = read_committed_output(spark, output_path, lineage_path)
    return extracted, lineage


def read_committed_output(
    spark: SparkSession, output_path: str, lineage_path: str
) -> DataFrame:
    """Committed view of the output table: semi-join against the lineage
    commit records on (bucket_id, run_id), dropping orphan rows from a run
    that died between the output append and the lineage append."""
    out = spark.read.parquet(output_path)
    commits = spark.read.parquet(lineage_path).select("bucket_id", "run_id").distinct()
    return out.join(F.broadcast(commits), ["bucket_id", "run_id"], "left_semi")


# --- bucketed table layout (Iceberg bucket(N, url) stand-in) ----------------

def write_pages_by_crawl_date(pages: DataFrame, path: str) -> None:
    """Crawl-date-partitioned page store — the INCREMENTAL half of the
    north rule's Iceberg layout, next to write_bucketed_table's
    bucket(N, url): Iceberg would declare ``days(warc_ts)``; the parquet
    stand-in derives ``crawl_date`` and partitions by it (the same
    directory layout Iceberg's transform produces).  At 10^12 rows this
    is what makes per-crawl runs cheap: an extraction over one crawl
    window prunes every other day AT THE SCAN (PartitionFilters — plan-
    audited in tests/test_crawl_partitions.py) instead of filtering
    100 TB row-by-row.  warc_ts stays as a column; crawl_date is derived,
    not a move."""
    (
        pages.withColumn("crawl_date", F.to_date("warc_ts"))
        .write.mode("overwrite")
        .partitionBy("crawl_date")
        .parquet(path)
    )


def read_pages_window(
    spark: SparkSession, path: str, start_date: str, end_date: str
) -> DataFrame:
    """Read a crawl window with partition pruning: the predicate is on
    the PARTITION column, so it lands in the scan's PartitionFilters and
    non-matching crawl_date= directories are never opened.  Dates are
    'YYYY-MM-DD' strings, both ends inclusive."""
    df = spark.read.parquet(path)
    return df.filter(
        (F.col("crawl_date") >= F.lit(start_date).cast("date"))
        & (F.col("crawl_date") <= F.lit(end_date).cast("date"))
    )


def write_bucketed_table(
    df: DataFrame, table: str, num_buckets: int = 32, key: str = "url"
) -> None:
    """Persist with Spark bucketing — the sandbox stand-in for Iceberg's
    ``bucket(N, url)`` partition transform (north rule layout).  Two tables
    bucketed the same way join WITHOUT a shuffle (co-located join); the
    resume anti-join and any url-keyed enrichment join become shuffle-free.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


# --- S6 debug side-channels (SURVEY.md §2.1) --------------------------------

DEBUG_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("density", ArrayType(IntegerType())),
        StructField("blocks", ArrayType(
            StructType(
                [
                    StructField("start_line", IntegerType()),
                    StructField("end_line", IntegerType()),
                    StructField("block_max", IntegerType()),
                    StructField("block_sum", IntegerType()),
                ]
            )
        )),
        StructField("threshold", IntegerType()),
        StructField("status", StringType()),
    ]
)


def _debug_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..extractor import decode_html, extract_from_html
    from ..functions.textextract import parse as _te_parse
    from ..operators.dom import parse_xml as _parse_xml
    from ..operators.tagfilter import tag_filtering as _tf

    for pdf in batches:
        if len(pdf) == 0:
            continue
        out = {"url": [], "density": [], "blocks": [], "threshold": [], "status": []}
        for url, data in zip(pdf["url"], pdf["html"]):
            density, blocks, threshold, status = [], [], -1, "ok"
            try:
                html = decode_html(bytes(data) if data is not None else b"")
                body_html = _tf(_parse_xml(html).select_first("body"))
                if body_html is not None:
                    res = _te_parse(body_html)
                    density = [int(x) for x in res.density]
                    blocks = [
                        {
                            "start_line": b[0],
                            "end_line": b[1],
                            "block_max": int(b[2]),
                            "block_sum": int(b[3]),
                        }
                        for b in res.blocks
                    ]
                    threshold = res.threshold
            except Exception as e:  # noqa: BLE001
                status = f"error:{type(e).__name__}"
            out["url"].append(None if url is None else str(url))
            out["density"].append(density)
            out["blocks"].append(blocks)
            out["threshold"].append(threshold)
            out["status"].append(status)
        yield pd.DataFrame(out)


def extract_debug_channels(pages: DataFrame) -> DataFrame:
    """S6 (TextExtract.java:39-41,113-115,295,316,320): the reference dumps
    per-url density/block/f2 CSVs to local files for manual inspection.
    The Spark-native equivalent: the same per-document arrays emitted as a
    queryable side table — never executor-local file writes."""
    ensure_pyfiles(pages.sparkSession)
    return pages.select("url", "html").mapInPandas(_debug_batches, schema=DEBUG_SCHEMA)
