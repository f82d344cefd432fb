"""Simulated-reference oracle: a faithful single-threaded Python
re-implementation of the reference crawler's accept/route cascade
(/root/reference/crawler/wpull/plugin.py:92-281) over an in-memory
web_pages dict, used as the arbiter for Spark crawl-equivalence tests.

BFS by level, FIFO within level, serial — matching wpull's
--recursive --level traversal (crawler/wpull/crawler.py:29-51).
It is itself validated against the reference's own fixture goldens
(crawler/fixtures/sample.json) in test_crawl.py.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from website_indexer_spark.functions.extract import extract_page_fields
from website_indexer_spark.functions.urltools import (
    canonicalize_url,
    hostname_with_port,
    unwrap_external_site,
)

SKIP_URLS = [
    re.compile(p)
    for p in [
        r"^https://www\.facebook\.com/dialog/share\?.*",
        r"^https://twitter\.com/intent/tweet\?.*",
        r"^https://x\.com/intent/tweet\?.*",
        r"^https://www\.linkedin\.com/shareArticle\?.*",
    ]
]
HEAD_URLS = [re.compile(r"https://files\.consumerfinance\.gov/.*")]
EXTERNAL_SITE = re.compile("/external-site/")


@dataclass
class WebResponse:
    html: Optional[bytes] = None
    status_code: int = 200
    location: Optional[str] = None
    content_type: str = "text/html"


@dataclass
class OracleResult:
    pages: Dict[str, dict] = field(default_factory=dict)
    errors: List[dict] = field(default_factory=list)
    redirects: List[dict] = field(default_factory=list)
    requested: List[str] = field(default_factory=list)  # in visit order
    visit_order: List[Tuple[int, str]] = field(default_factory=list)


def crawl(
    web: Dict[str, WebResponse],
    seed_url: str,
    max_pages: int = 0,
    depth_cap: int = 0,
) -> OracleResult:
    """Level-synchronized BFS with the engine's documented total order:
    items are visited in (depth, discovery_seq) order, where
    discovery_seq is assigned at enqueue time over each wave's
    candidates sorted by (depth, parent_seq, canonical_url).

    The reference cascade (accept/route/extract) is reproduced
    exactly; the *intra-level order* is engine-defined — wpull's
    internal dequeue order is an undocumented artifact of its URL
    table (see sample/crawl.warc.gz analysis in README).
    """
    from urllib import parse as urlparse_mod

    start_host = hostname_with_port(seed_url)
    result = OracleResult()

    seed = canonicalize_url(seed_url)
    seed = unwrap_external_site(seed, start_host)
    # wave entries: (depth, discovery_seq, url, parent_url, parent_host)
    wave = [(0, 0, seed, seed, start_host)]
    enqueued = {seed}
    seq_counter = 1

    def accept(url: str, parent_host: str) -> Optional[str]:
        """Returns fetch method if accepted, else None (plugin.py:92-168)."""
        if max_pages and len(result.requested) >= max_pages:
            return None
        if url in result.requested:
            return None
        if any(p.match(url) for p in SKIP_URLS):
            return None
        if parent_host != start_host:
            return None
        if any(p.match(url) for p in HEAD_URLS):
            return "HEAD"
        host = hostname_with_port(url)
        if host == start_host:
            split = urlparse_mod.urlsplit(url)
            if "." in split.path:
                return None
            qs = urlparse_mod.parse_qs(split.query)
            if qs and list(qs.keys()) != ["page"]:
                return None
        return "GET"

    while wave:
        # candidates discovered this wave: (depth, parent_seq, url,
        # parent_url, parent_host) — seq assigned after the wave, over
        # candidates sorted by (depth, parent_seq, url)
        candidates = []
        for depth, seq, url, parent_url, parent_host in sorted(wave):
            method = accept(url, parent_host)
            if method is None:
                continue
            result.requested.append(url)
            result.visit_order.append((depth, url))
            referrer = parent_url if parent_url != url else None

            resp = web.get(url)
            status = resp.status_code if resp else 0
            if (
                resp
                and resp.status_code == 200
                and resp.html is None
                and not resp.location
            ):
                status = 0

            if status == 0 or status >= 400:
                result.errors.append(
                    {"url": url, "status_code": status, "referrer": referrer}
                )
                continue
            if 300 <= status < 400:
                result.redirects.append(
                    {
                        "url": url,
                        "status_code": status,
                        "referrer": referrer,
                        "location": resp.location,
                    }
                )
                if resp.location:
                    loc = canonicalize_url(resp.location, url)
                    if loc:
                        loc = unwrap_external_site(loc, start_host)
                        loc = canonicalize_url(loc, url)
                    # plugin.py:236-245 — never follow redirects that
                    # don't point at the start domain.
                    if loc and hostname_with_port(loc) != start_host:
                        loc = None
                    if loc:
                        candidates.append((depth, seq, loc, url, hostname_with_port(url)))
                continue

            host = hostname_with_port(url)
            if host != start_host:
                continue  # external 200: not recorded (plugin.py:256-259)
            if not (resp.content_type or "").startswith("text/html"):
                continue
            try:
                html = resp.html.decode("utf-8")
            except UnicodeDecodeError:
                continue
            page = extract_page_fields(html, start_host)
            if page is None:
                continue
            result.pages[url] = {
                "url": url,
                "title": page.title,
                "language": page.language,
                "text": page.text,
                "links": page.links,
                "components": page.components,
                "depth": depth,
            }
            if depth_cap and depth + 1 > depth_cap:
                continue
            seen_local = set()
            for href in page.links:
                canon = canonicalize_url(href, url)
                if canon is None:
                    continue
                canon = unwrap_external_site(canon, start_host)
                canon = canonicalize_url(canon, url)
                if canon is None or canon in seen_local:
                    continue
                seen_local.add(canon)
                candidates.append((depth + 1, seq, canon, url, host))

        # enqueue: dedup within wave + against everything ever
        # enqueued, then assign discovery_seq in sorted order —
        # mirrors the driver's assign_ordered_seq contract
        wave = []
        for depth, parent_seq, url, parent_url, parent_host in sorted(
            candidates, key=lambda t: (t[0], t[1], t[2])
        ):
            if url in enqueued:
                continue
            enqueued.add(url)
            wave.append((depth, seq_counter, url, parent_url, parent_host))
            seq_counter += 1

    return result


def fixture_site() -> Tuple[Dict[str, WebResponse], str]:
    """The reference sample site as a web_pages dict (sample/src/*)."""
    import pathlib

    src = pathlib.Path("/root/reference/sample/src")
    home = src.joinpath("index.html").read_bytes()
    child = src.joinpath("child", "index.html").read_bytes()
    web = {
        "http://localhost:8000/": WebResponse(html=home),
        "http://localhost:8000/child/": WebResponse(html=child),
        "http://localhost:8000/child/?page=2": WebResponse(html=child),
        "https://example.com/": WebResponse(html=b"<html><body>external</body></html>"),
        "https://example.com/file.xlsx": WebResponse(
            html=None, status_code=404, content_type="application/octet-stream"
        ),
        "https://example.org/": WebResponse(html=b"<html><body>external</body></html>"),
    }
    return web, "http://localhost:8000/"


def fan_site() -> Tuple[Dict[str, WebResponse], str]:
    """A synthetic site that needs no reference files. Home links to
    a0..a2, a 404 and a redirect; each a_i links home, to b_i and to
    the next a; each b_i links home and back to a_i. Supersteps request
    1, 5 and 3 URLs, and every page links to keys committed earlier, so
    a seen set that lost them fetches those pages twice. Every page
    carries the ``o-fan`` component, and home also ``m-nav``."""
    H = "https://fan.test"

    def page(*links, components="o-fan"):
        body = " ".join(f'<a href="{href}">x</a>' for href in links)
        return WebResponse(
            html=(
                "<html><head><title>t</title></head><body>"
                f'<div class="{components}">{body}</div></body></html>'
            ).encode()
        )

    web = {
        f"{H}/": page(
            "/a0/", "/a1/", "/a2/", "/gone/", "/old/", components="o-fan m-nav"
        ),
        f"{H}/gone/": WebResponse(html=None, status_code=404),
        f"{H}/old/": WebResponse(html=None, status_code=301, location=f"{H}/a0/"),
    }
    for i in range(3):
        web[f"{H}/a{i}/"] = page("/", f"/b{i}/", f"/a{(i + 1) % 3}/")
        web[f"{H}/b{i}/"] = page("/", f"/a{i}/")
    return web, f"{H}/"
