"""Viewer query surface (SURVEY.md §2.C C1-C15) + maintenance ops
(§2.D D1-D3) as composable DataFrame functions.

The reference compiles each of these to one SQL statement via the
Django ORM (/root/reference/viewer/views.py, crawler/search.py,
crawler/management/commands/manage_crawls.py); here each is a lazy
DataFrame transformation so Catalyst fuses scoping + filter +
projection + sort + limit exactly like the ORM's single statement —
and pushes the predicates into the Parquet/Iceberg scan.

Scale notes:
* every search is a narrow filter+project over the pages table
  (partition-pruned by crawl_id on a multi-crawl store) — no shuffle
  except the explicit orderBy for pagination;
* the component/link searches (C4/C5) are an ``exists`` row filter
  over the row's own array (the reference needs a bridge-table join
  here, we don't); only their CSV forks explode, one row per match;
* the latest-finished-crawl scope is a broadcast semi-join against a
  one-row DataFrame (LatestCrawlManager analogue, models.py:55-64).
"""

from __future__ import annotations

import re
from typing import Optional
from urllib.parse import quote_plus

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference viewer/serializers.py:19-26 — suffixes stripped at render.
TITLE_SUFFIXES = (
    " | Consumer Financial Protection Bureau",
    " | Oficina para la Protección Financiera del Consumidor",
)

PAGE_SIZE = 25  # settings.py:131 (DRF PAGE_SIZE)


# --------------------------------------------------------------------
# Scoping (models.py:55-64 LatestCrawlManager)
# --------------------------------------------------------------------

def latest_finished_crawl_id(crawls: DataFrame) -> Optional[int]:
    """The reference resolves the scope crawl with its own query first
    (models.py:59); same here — a driver-side lookup of one row."""
    row = (
        crawls.filter(F.col("status") == "Finished")
        .orderBy(F.desc("started"))
        .select("crawl_id")
        .head(1)
    )
    return row[0]["crawl_id"] if row else None


def scope_to_crawl(requests: DataFrame, crawl_id: Optional[int]) -> DataFrame:
    """Scope any Request-shaped table (pages/errors/redirects) to one
    crawl; no finished crawl => empty result (models.py:61-62)."""
    if crawl_id is None:
        return requests.filter(F.lit(False))
    return requests.filter(F.col("crawl_id") == F.lit(crawl_id))


# --------------------------------------------------------------------
# C1 projection + C2/C3 substring searches (crawler/search.py)
# --------------------------------------------------------------------

PAGE_VALUES = ["timestamp", "url", "title", "language"]


def page_values(pages: DataFrame) -> DataFrame:
    """C1: every search returns [timestamp,url,title,language]
    ordered by url (search.py:7; models.py:76 Meta.ordering)."""
    return pages.select(*PAGE_VALUES).orderBy("url")


def _icontains(col, q: str):
    """Django __icontains => case-insensitive substring."""
    return F.contains(F.lower(col), F.lit(q.lower()))


def search_empty(pages: DataFrame) -> DataFrame:
    """C3 (search.py:49-50)."""
    return page_values(pages)


# Each family's rows come from one unordered match function, shared by
# the ordered search_* below and the viewer envelope, which orders and
# pages them itself.

def match_title(pages: DataFrame, q: str) -> DataFrame:
    return pages.filter(_icontains(F.col("title"), q))


def match_url(pages: DataFrame, q: str) -> DataFrame:
    return pages.filter(_icontains(F.col("url"), q))


def match_text(pages: DataFrame, q: str) -> DataFrame:
    return pages.filter(_icontains(F.col("text"), q))


def match_html(pages: DataFrame, q: str) -> DataFrame:
    return pages.filter(_icontains(F.col("html"), q))


def search_title(pages: DataFrame, q: str) -> DataFrame:
    return page_values(match_title(pages, q))


def search_url(pages: DataFrame, q: str) -> DataFrame:
    return page_values(match_url(pages, q))


def search_text(pages: DataFrame, q: str) -> DataFrame:
    return page_values(match_text(pages, q))


def search_html(pages: DataFrame, q: str) -> DataFrame:
    return page_values(match_html(pages, q))


# --------------------------------------------------------------------
# C4/C5 array searches with the distinct-vs-CSV plan fork
# (search.py:10-42; views.py:119-120,143-148)
# --------------------------------------------------------------------

# the column each CSV fork adds: the matching array element
FORK_COLUMNS = {"components": "class_name", "links": "href"}


def _match_array(
    pages: DataFrame, array: str, fork_column: str, pred, csv_fork: bool
) -> DataFrame:
    """Pages with at least one ``array`` element satisfying ``pred``:
    a row filter, so each page appears once with no explode and no
    dedup (the reference's ``.distinct()`` over Page rows). The CSV
    fork is one row per (page, matching element), the element in
    ``fork_column``."""
    if csv_fork:
        return pages.select(
            *PAGE_VALUES, F.explode(array).alias(fork_column)
        ).filter(pred(F.col(fork_column)))
    return pages.filter(F.exists(array, pred))


def match_components(
    pages: DataFrame, q: str, csv_fork: bool = False
) -> DataFrame:
    return _match_array(
        pages, "components", FORK_COLUMNS["components"],
        lambda c: _icontains(c, q), csv_fork,
    )


def match_links(
    pages: DataFrame, q: str, csv_fork: bool = False
) -> DataFrame:
    """href icontains q OR icontains quote_plus(q) — the encoded form
    catches redirector-style URLs (search.py:25-42)."""
    return _match_array(
        pages, "links", FORK_COLUMNS["links"],
        lambda h: _icontains(h, q) | _icontains(h, quote_plus(q)),
        csv_fork,
    )


def search_components(
    pages: DataFrame, q: str, include_class_names: bool = False
) -> DataFrame:
    """C4: pages having a design-system component class matching q.

    Default (HTML/JSON): one row per matching page (search.py:20).
    CSV fork (include_class_names): one row per (page, matching
    class), extra column class_name (search.py:16-19, no distinct).
    """
    matched = match_components(pages, q, csv_fork=include_class_names)
    if include_class_names:
        return matched.orderBy("url", "class_name")
    return page_values(matched)


def search_links(
    pages: DataFrame, q: str, include_hrefs: bool = False
) -> DataFrame:
    """C5: pages with a link matching q (see ``match_links``); the CSV
    fork adds the matching href."""
    matched = match_links(pages, q, csv_fork=include_hrefs)
    if include_hrefs:
        return matched.orderBy("url", "href")
    return page_values(matched)


MATCH_DISPATCH = {
    "title": match_title,
    "url": match_url,
    "text": match_text,
    "html": match_html,
    "components": match_components,
    "links": match_links,
}

SEARCH_DISPATCH = {
    "title": search_title,
    "url": search_url,
    "text": search_text,
    "html": search_html,
    "components": search_components,
    "links": search_links,
}


def search(pages: DataFrame, search_type: Optional[str], q: Optional[str]) -> DataFrame:
    """views.py:109-132 dispatch: unknown type or empty q falls back
    to search_empty (tested at viewer/tests/test_views.py:80-83)."""
    if not q or search_type not in SEARCH_DISPATCH:
        return search_empty(pages)
    return SEARCH_DISPATCH[search_type](pages, q)


# --------------------------------------------------------------------
# C6 secondary equality filters (django-filter; views.py:93,102,110)
# --------------------------------------------------------------------

def filter_language(pages: DataFrame, language: str) -> DataFrame:
    return pages.filter(F.col("language") == F.lit(language))


def filter_status_code(requests: DataFrame, status_code: int) -> DataFrame:
    return requests.filter(F.col("status_code") == F.lit(status_code))


# --------------------------------------------------------------------
# C7/C8 ordering + pagination (settings.py:131, pagination.py:5-16)
# --------------------------------------------------------------------

def paginate(
    ordered: DataFrame, page_number: int, page_size: int = PAGE_SIZE
) -> DataFrame:
    """LIMIT/OFFSET page over an already-ordered DataFrame. The caller
    ordered by a deterministic key (url / class_name), so pages are
    stable — same contract as the reference's Meta.ordering."""
    return ordered.offset((page_number - 1) * page_size).limit(page_size)


def page_count(total: int, page_size: int = PAGE_SIZE) -> int:
    return max(1, -(-total // page_size))


# --------------------------------------------------------------------
# C9 page detail, C10 component list (views.py:151-159, 79-88)
# --------------------------------------------------------------------

def page_detail(pages: DataFrame, url: str) -> DataFrame:
    """Exact-match lookup returning the full nested row (components /
    links arrays in place of the reference's prefetched M2M)."""
    return pages.filter(F.col("url") == F.lit(url)).limit(1)


def component_list(pages: DataFrame) -> DataFrame:
    """All component class names, ordered (models.py:88) — derived by
    re-exploding the pages table (valid, but rescans every page). The
    distinct is the one exchange; its few rows are coalesced to one
    partition and sorted there, in the same binary string order as
    ``orderBy`` but with no range partitioning and its sampling job."""
    return (
        pages.select(F.explode("components").alias("class_name"))
        .distinct()
        .coalesce(1)
        .sortWithinPartitions("class_name")
    )


def component_list_from_dim(dim_components: DataFrame) -> DataFrame:
    """C10 off the materialized dimension (CrawlStore
    ``dim_components``, maintained per-superstep by the MERGE upsert in
    operators/dims.py — reference models.py:84-88's unique Component
    table). Keys are unique by construction, so this is a pure
    scan+sort: no explode, no distinct, no pages rescan."""
    return dim_components.select("class_name").orderBy("class_name")


# --------------------------------------------------------------------
# C11 crawl stats (viewer/context_processors.py:6-27)
# --------------------------------------------------------------------

def crawl_stats(pages: DataFrame) -> DataFrame:
    """count/min/max over page timestamps + duration in seconds."""
    return pages.agg(
        F.count("timestamp").alias("count"),
        F.min("timestamp").alias("start"),
        F.max("timestamp").alias("end"),
    ).withColumn(
        "duration_s",
        F.unix_timestamp("end") - F.unix_timestamp("start"),
    )


# --------------------------------------------------------------------
# C12 title scrub (viewer/serializers.py:19-35)
# --------------------------------------------------------------------

def scrub_title(col):
    out = col
    for suffix in TITLE_SUFFIXES:
        # literal suffix strip, anchored at end (the reference uses
        # str.removesuffix — not a regex — so escape the literal)
        out = F.regexp_replace(out, re.escape(suffix) + "$", "")
    return out


def with_scrubbed_titles(df: DataFrame) -> DataFrame:
    return df.withColumn("title", scrub_title(F.col("title")))


# --------------------------------------------------------------------
# C13 computed redirect flags (models.py:172-178)
# --------------------------------------------------------------------

def with_redirect_flags(redirects: DataFrame) -> DataFrame:
    url, loc = F.col("url"), F.col("location")
    https_of_url = F.concat(F.lit("https://"), F.expr("substring(url, 8)"))
    return redirects.withColumn(
        "is_http_to_https",
        url.startswith("http://") & (loc == https_of_url),
    ).withColumn(
        "is_append_slash",
        (~url.endswith("/")) & (loc == F.concat(url, F.lit("/"))),
    )


# --------------------------------------------------------------------
# C14 CSV export (views.py:38-76; serializers.py:31-49,73-94)
# --------------------------------------------------------------------

CSV_HEADERS = {
    "pages": PAGE_VALUES,
    "components": PAGE_VALUES + ["class_name"],
    "links": PAGE_VALUES + ["href"],
    "errors": ["timestamp", "url", "status_code", "referrer"],
    "redirects": [
        "timestamp",
        "url",
        "status_code",
        "referrer",
        "location",
        "is_http_to_https",
        "is_append_slash",
    ],
}


def render_csv(df: DataFrame, columns) -> bytes:
    """Driver-side CSV render with UTF-8 BOM, matching the reference's
    attachment bytes (views.py:44-62: BOM + fixed header). Pagination
    is disabled in CSV mode, like BetterCSVsMixin."""
    pdf = df.select(*columns).toPandas()
    return pdf.to_csv(index=False).encode("utf-8-sig")


def _csv_cell(col, dtype, ts_with_fraction: bool = False):
    """Render one column to its pandas-``to_csv`` string form with
    native expressions, so the distributed export is byte-identical
    to the driver-side render: timestamps as
    'YYYY-MM-DD HH:MM:SS[.ffffff]' (pandas formats a datetime column
    uniformly — the fraction appears on every row iff any row has a
    non-zero sub-second part, hence the column-level
    ``ts_with_fraction`` flag), booleans as True/False, NULL empty."""
    if isinstance(dtype, T.TimestampType):
        base = F.date_format(col, "yyyy-MM-dd HH:mm:ss")
        if not ts_with_fraction:
            return base
        micros = F.unix_micros(col) % F.lit(1_000_000)
        return F.concat(
            base, F.lit("."), F.lpad(micros.cast("string"), 6, "0")
        )
    if isinstance(dtype, T.BooleanType):
        return F.when(col, "True").when(~col, "False")
    return col.cast("string")


def export_csv_distributed(df: DataFrame, columns, out_path: str) -> str:
    """C14 at export scale: the unpaginated CSV attachment written by
    the cluster instead of `toPandas()` on the driver (VERDICT r1 #9
    — the driver-side render matches the reference but cannot hold a
    100×-scale export).

    Each task streams its partition straight to a data-only CSV part
    file (`df.write.csv` — no driver materialization, no pandas);
    the driver then concatenates the ordered part files behind one
    BOM + header into the final attachment, a pure sequential I/O
    pass over bytes that never parses a row. An ordered input is
    range-partitioned by its sort, so part-file name order IS row
    order. Output bytes are identical to ``render_csv``: cells are
    pre-rendered to pandas' string forms (timestamps, booleans,
    NULLs) natively, and the writer is configured for
    QUOTE_MINIMAL/double-quote escaping/unquoted empties to match
    ``DataFrame.to_csv``. Returns the final file path.
    """
    import csv as _csv
    import io
    import os
    import shutil

    dtypes = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))
    ts_cols = [c for c in columns if isinstance(dtypes[c], T.TimestampType)]
    frac = {}
    if ts_cols:
        # one tiny column-pruned aggregate decides each timestamp
        # column's uniform format (pandas column-level .%f semantics)
        row = df.agg(
            *[
                F.max((F.unix_micros(F.col(c)) % 1_000_000) != 0).alias(c)
                for c in ts_cols
            ]
        ).first()
        frac = {c: bool(row[c]) for c in ts_cols}
    cells = df.select(
        *[
            _csv_cell(F.col(c), dtypes[c], frac.get(c, False)).alias(c)
            for c in columns
        ]
    )
    parts_dir = out_path + ".parts"
    (
        cells.write.mode("overwrite")
        # pandas-parity dialect: double-quote escaping, quote only
        # when needed, empty string written unquoted (= NULL's form)
        .option("escape", '"')
        .option("emptyValue", "")
        .option("header", "false")
        .csv(parts_dir)
    )
    buf = io.StringIO()
    _csv.writer(buf, lineterminator="\n").writerow(columns)
    with open(out_path, "wb") as out:
        out.write(b"\xef\xbb\xbf")  # UTF-8 BOM (views.py:44-62 parity)
        out.write(buf.getvalue().encode("utf-8"))
        for name in sorted(os.listdir(parts_dir)):
            if name.startswith("part-"):
                with open(os.path.join(parts_dir, name), "rb") as part:
                    shutil.copyfileobj(part, out)
    shutil.rmtree(parts_dir)
    return out_path


def csv_filename(pages: DataFrame, prefix: str = "pages") -> str:
    """`pages-YYYYMMDD.csv` from the crawl's MIN(timestamp)
    (views.py:64-76 -> context_processors.py)."""
    row = pages.agg(F.min("timestamp").alias("start")).first()
    start = row["start"]
    datestr = start.strftime("%Y%m%d") if start is not None else "00000000"
    return f"{prefix}-{datestr}.csv"


# --------------------------------------------------------------------
# C15 results summary (viewer/templatetags/viewer.py:14-40)
# --------------------------------------------------------------------

_SUMMARY_NOUN = {
    "title": 'in the page title',
    "url": 'in the URL',
    "text": 'in the full text',
    "html": 'in the HTML',
    "components": 'in the design components',
    "links": 'in the links',
}


def results_summary(count: int, search_type: Optional[str], q: Optional[str]) -> str:
    noun = "page" if count == 1 else "pages"
    if not q or search_type not in _SUMMARY_NOUN:
        return f"{count} {noun}"
    shown = q if len(q) <= 24 else q[:24] + "…"
    return f'{count} {noun} with "{shown}" {_SUMMARY_NOUN[search_type]}'


# --------------------------------------------------------------------
# D1-D3 maintenance (manage_crawls.py)
# --------------------------------------------------------------------

def list_crawls(crawls: DataFrame) -> DataFrame:
    """D1: newest first (manage_crawls.py:14-17)."""
    return crawls.orderBy(F.desc("started"))


def delete_crawl(tables: dict, crawl_id: int) -> dict:
    """D2: cascade delete one crawl's rows from every Request-shaped
    table — expressed as the surviving DataFrames (on Iceberg this is
    `DELETE WHERE crawl_id = ?` / a partition drop)."""
    return {
        name: df.filter(F.col("crawl_id") != F.lit(crawl_id))
        for name, df in tables.items()
    }


def clean_crawls(crawls: DataFrame, keep: int = 10) -> DataFrame:
    """D3: crawl ids to delete — non-latest Started crawls plus
    everything beyond the newest `keep` per terminal status
    (manage_crawls.py:33-69, the reference's correlated-subquery top-K
    rewritten as the window it always was)."""
    w = Window.partitionBy("status").orderBy(F.desc("started"), F.desc("crawl_id"))
    ranked = crawls.withColumn("_rn", F.row_number().over(w))
    started_stale = ranked.filter((F.col("status") == "Started") & (F.col("_rn") > 1))
    terminal_stale = ranked.filter(
        F.col("status").isin("Finished", "Failed") & (F.col("_rn") > keep)
    )
    return started_stale.unionByName(terminal_stale).select("crawl_id")
