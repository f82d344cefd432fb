"""Arrow-batched pandas UDFs — the only Python that runs on executors.

Per the build contract ("vectorized pandas/Arrow UDFs, no per-row
Python" at the Spark level), exactly one UDF runs in the crawl hot
path:

* ``crawl_extract_udf`` — the §2.B extraction kernel over
  ``html:binary`` (reference: crawler/parser.py via
  crawler/models.py:116-140) fused with frontier-link resolution
  (urljoin + unwrap; reference: wpull URL resolution +
  plugin.py:134-157), so a superstep's Python runs once, in the
  cached extraction stage, and the harvest → policy → seen anti-join
  → numbering chain that reads the cache is JVM-only.

``extract_udf`` is the same kernel without the link resolution, for
callers outside the crawl loop (the catalog, the streaming ingest,
the kernel benches). Both share one per-row body.

Both are scalar pandas UDFs: one Arrow batch in, one Arrow batch out.
Batch size should be bounded for multi-MB html blobs via
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in session
builders here to 256).
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from website_indexer_spark.functions.extract import (
    ExtractedPage,
    extract_page_fields,
)
from website_indexer_spark.functions.urltools import (
    canonicalize_url,
    unwrap_external_site,
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("components", T.ArrayType(T.StringType())),
    ]
)


CRAWL_EXTRACTED_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields
    + [T.StructField("out_links", T.ArrayType(T.StringType()))]
)


def _extract_one(blob, host: Optional[str]) -> Optional[ExtractedPage]:
    """The kernel on one html cell. NULL html, undecodable bytes and
    no-title pages all give None (caller drops rows with null title,
    mirroring models.py:125-126)."""
    if blob is None:
        return None
    if isinstance(blob, (bytes, bytearray)):
        try:
            blob = bytes(blob).decode("utf-8")
        except UnicodeDecodeError:
            return None
    try:
        return extract_page_fields(blob, host or "")
    except Exception:
        # parse-guard, mirrors the reference's tolerate-and-drop
        # behavior for unparseable pages; also catches ParseTimeout —
        # the kernel's 5 s per-document budget (extract.PARSE_BUDGET_S,
        # reference parser.py:46-58) — so one pathological page can
        # never stall the Arrow batch's task
        return None


def _extracted_frame(pages: List[Optional[ExtractedPage]]) -> pd.DataFrame:
    """EXTRACTED_SCHEMA columns; a None page is an all-NULL row."""
    return pd.DataFrame(
        {
            name: [None if p is None else getattr(p, name) for p in pages]
            for name in EXTRACTED_SCHEMA.fieldNames()
        }
    )


def resolve_links(
    base_url: str, hrefs: List[str], start_host: Optional[str]
) -> List[str]:
    """Resolve raw hrefs to absolute canonical URLs for the frontier:
    urljoin against ``base_url``, fragment strip, host normalization,
    /external-site/ unwrap. Unresolvable hrefs are dropped; the first
    occurrence of a URL keeps its place (the input order is the
    parser's sorted hrefs, parser.py:115)."""
    resolved: List[str] = []
    seen = set()
    for href in hrefs:
        canon = canonicalize_url(href, base_url)
        if canon is None:
            continue
        unwrapped = unwrap_external_site(canon, start_host or "")
        if unwrapped is not canon:
            # unwrap may yield a relative/odd URL — re-canonicalize.
            # Identity returns skip this: the canonical form is a
            # fixed point (pinned by test_properties idempotence),
            # so re-canonicalizing an unchanged URL is a no-op.
            canon = canonicalize_url(unwrapped, base_url)
        if canon is None or canon in seen:
            continue
        seen.add(canon)
        resolved.append(canon)
    return resolved


@pandas_udf(EXTRACTED_SCHEMA)
def extract_udf(html: pd.Series, start_host: pd.Series) -> pd.DataFrame:
    """Vectorized §2.B kernel. NULL html or no-title page => all-NULL
    struct fields."""
    return _extracted_frame(
        [_extract_one(blob, host) for blob, host in zip(html, start_host)]
    )


def _crawl_extract(
    html: pd.Series, url: pd.Series, location: pd.Series, start_host: pd.Series
) -> pd.DataFrame:
    """``extract_udf`` plus ``out_links``, the row's frontier
    candidates resolved against its ``url``: a page's extracted links;
    for a row without a page but with a ``location``, that redirect
    target; otherwise NULL."""
    pages = [_extract_one(blob, host) for blob, host in zip(html, start_host)]
    out_links: List[Optional[List[str]]] = []
    for page, base, loc, host in zip(pages, url, location, start_host):
        if page is not None:
            out_links.append(resolve_links(base, page.links, host))
        elif loc is not None:
            out_links.append(resolve_links(base, [loc], host))
        else:
            out_links.append(None)
    frame = _extracted_frame(pages)
    frame["out_links"] = out_links
    return frame


# Deterministic in fact, but declared otherwise so the optimizer keeps
# the call in its own projection: a deterministic UDF is copied into
# every filter pushed below that projection (route_and_extract's
# record_type filter reads ex.title), which parses every page twice.
crawl_extract_udf = pandas_udf(
    _crawl_extract, CRAWL_EXTRACTED_SCHEMA
).asNondeterministic()


def with_url_parts(df, url_col: str = "url"):
    """Native-column URL part extraction (no UDF): host(:port), path,
    query — the inputs of the §2.A policy cascade."""
    url = F.col(url_col)
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    # parse_url has no port accessor that includes default-port logic;
    # extract it from the authority.
    authority = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    scheme = F.lower(F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1))
    default_port = F.when(scheme == "http", F.lit("80")).when(
        scheme == "https", F.lit("443")
    )
    host_with_port = F.when(
        (port != "") & (port != default_port), F.concat(host, F.lit(":"), port)
    ).otherwise(host)
    return (
        df.withColumn("host", host_with_port)
        .withColumn("url_path", F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")))
        .withColumn("url_query", F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit("")))
    )
