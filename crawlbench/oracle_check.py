"""Untimed check of the timed crawl against the single-threaded
reference oracle (``tests/oracle_crawler.crawl``) run over the same
generated corpus."""

from __future__ import annotations

import hashlib
from typing import Dict, List

from tests.oracle_crawler import OracleResult, WebResponse, crawl


def oracle_web(web) -> Dict[str, WebResponse]:
    """The corpus DataFrame as the oracle's url -> response dict."""
    rows = web.select(
        "url", "html", "status_code", "location", "content_type"
    ).collect()
    return {
        r["url"]: WebResponse(
            html=bytes(r["html"]) if r["html"] is not None else None,
            status_code=r["status_code"],
            location=r["location"],
            content_type=r["content_type"],
        )
        for r in rows
    }


def run_oracle(
    web: Dict[str, WebResponse], seed_url: str, max_pages: int
) -> OracleResult:
    return crawl(web, seed_url, max_pages=max_pages)


def _digest(text) -> str:
    return hashlib.md5((text or "").encode("utf-8")).hexdigest()


def check_crawl(result, oracle: OracleResult) -> List[str]:
    """Mismatches between a ``CrawlResult`` and the oracle: requested
    URL set, page URL set, per-page text digest, and the error and
    redirect URL sets and counts."""
    store = result.store
    problems: List[str] = []

    def same(label: str, got: set, want: set) -> None:
        if got != want:
            extra, missing = sorted(got - want)[:3], sorted(want - got)[:3]
            problems.append(
                f"{label}: {len(got)} vs oracle {len(want)} "
                f"(extra {extra}, missing {missing})"
            )

    seen = {r["url"] for r in store.read_all("seen").select("url").collect()}
    same("requested urls", seen, set(oracle.requested))
    if result.requested != len(oracle.requested):
        problems.append(
            f"requested count {result.requested} vs {len(oracle.requested)}"
        )
    pages = {
        r["url"]: _digest(r["text"])
        for r in store.read_all("pages").select("url", "text").collect()
    }
    same("page urls", set(pages), set(oracle.pages))
    bad = [
        u for u, d in pages.items()
        if u in oracle.pages and d != _digest(oracle.pages[u]["text"])
    ]
    if bad:
        problems.append(f"text digest differs on {len(bad)} pages, e.g. {bad[:3]}")
    for name, want in (("errors", oracle.errors), ("redirects", oracle.redirects)):
        got = {r["url"] for r in store.read_all(name).select("url").collect()}
        same(f"{name} urls", got, {e["url"] for e in want})
        if getattr(result, name) != len(want):
            problems.append(
                f"{name} count {getattr(result, name)} vs oracle {len(want)}"
            )
    return problems
