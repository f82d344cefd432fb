"""The viewer phase: a seeded request mix against ``ViewerApp`` over
the timed crawl's own store, one closed-loop client, and the untimed
check of every response against counts computed from the oracle crawl.
"""

from __future__ import annotations

import csv
import io
import random
import time
from dataclasses import dataclass
from typing import Dict, List, Optional
from urllib.parse import quote_plus

# rows per page of the reference viewer (DRF PAGE_SIZE)
PAGE_SIZE = 25

# Relative weights of the reference viewer's query families. CSV
# exports are timed apart from the rest so that one whole-table export
# cannot set the JSON tail.
FAMILY_WEIGHTS = (
    ("list", 4),
    ("search_title", 2),
    ("search_url", 2),
    ("search_text", 2),
    ("search_html", 1),
    ("search_components", 2),
    ("search_links", 2),
    ("detail", 3),
    ("errors", 2),
    ("redirects", 2),
    ("components", 1),
    ("csv", 1),
)

# requests in one deck; the phase always sends whole decks, so every run
# has the same family composition
DECK_SIZE = sum(w for _, w in FAMILY_WEIGHTS)

TEXT_TERMS = ("loan", "credit", "mortgage", "bureau", "payment", "school", "qqqq")
HTML_TERMS = ("<h1>", "m-pagination", 'lang="es"', "facebook", "<table")
COMPONENT_TERMS = ("o-hero", "o-table", "m-notification", "a-btn", "m-")
LINK_TERMS = ("/p1", "gone", "facebook.com", "external-site", ".pdf", "move")


@dataclass
class Request:
    family: str
    path: str
    params: Dict[str, str]


@dataclass
class Sample:
    request: Request
    ms: float
    response: object  # the Response, or None when handle() raised
    error: str = ""


def build_mix(
    seed: int, n: int, start_host: str, host_pages: int, counts: Dict[str, int]
) -> List[Request]:
    """``n`` requests in the fixed family proportions: the families
    are dealt in shuffled decks that hold each family as often as its
    weight, so every prefix of one deck's length has the same mix.
    ``counts`` (pages/errors/redirects from the crawl result) bounds the
    page numbers asked for, so most list requests land on a real page
    and a few ask one past the end."""
    rng = random.Random(f"viewer-{seed}")
    families = [f for f, w in FAMILY_WEIGHTS for _ in range(w)]

    def page_no(total: int) -> str:
        last = max(1, -(-total // PAGE_SIZE))
        r = rng.random()
        if r < 0.1:
            return "last"
        if r < 0.15:
            return str(last + 1)  # out of range -> 404 "Invalid page."
        return str(rng.randint(1, last))

    out: List[Request] = []
    deck: List[str] = []
    for _ in range(n):
        if not deck:
            deck = list(families)
            rng.shuffle(deck)
        fam = deck.pop()
        if fam == "list":
            params = {"page": page_no(counts["pages"])}
            if rng.random() < 0.25:
                params["language"] = rng.choice(("en", "es"))
            out.append(Request(fam, "/", params))
        elif fam.startswith("search_"):
            stype = fam[len("search_"):]
            q = {
                "title": lambda: f"page 0/{rng.randrange(host_pages)}",
                "url": lambda: f"/p{rng.randrange(host_pages)}",
                "text": lambda: rng.choice(TEXT_TERMS),
                "html": lambda: rng.choice(HTML_TERMS),
                "components": lambda: rng.choice(COMPONENT_TERMS),
                "links": lambda: rng.choice(LINK_TERMS),
            }[stype]()
            # the searches are case-insensitive; a query in another case
            # than the data shows whether they still are
            q = rng.choice((str.lower, str.upper, str.title))(q)
            params = {"q": q, "search_type": stype}
            if rng.random() < 0.2:
                params["page"] = "2"
            out.append(Request(fam, "/", params))
        elif fam == "detail":
            url = f"https://{start_host}/p{rng.randrange(host_pages)}/"
            out.append(Request(fam, "/page/", {"url": url}))
        elif fam in ("errors", "redirects"):
            params = {"page": page_no(counts[fam])}
            if rng.random() < 0.3:
                params["status_code"] = "404" if fam == "errors" else "301"
                params["page"] = "1"
            out.append(Request(fam, f"/{fam}/", params))
        elif fam == "components":
            out.append(Request(fam, "/components/", {}))
        else:  # csv
            path, params = rng.choice(
                (
                    ("/", {}),
                    ("/", {"q": "o-", "search_type": "components"}),
                    ("/errors/", {}),
                    ("/redirects/", {}),
                )
            )
            out.append(Request(fam, path, dict(params, format="csv")))
    return out


def one_per_family(requests: List[Request]) -> List[Request]:
    """The first request of each family in ``requests``."""
    first: Dict[str, Request] = {}
    for req in requests:
        first.setdefault(req.family, req)
    return list(first.values())


def run_phase(
    app, mix: List[Request], deadline: float, min_requests: int
) -> List[Sample]:
    """Closed loop, one client: send the next request only after the
    previous reply. Cycles through ``mix`` until at least
    ``min_requests`` were sent and ``deadline`` (perf_counter) passed,
    then finishes the current deck."""
    samples: List[Sample] = []
    while (
        len(samples) < min_requests
        or time.perf_counter() < deadline
        or len(samples) % DECK_SIZE
    ):
        samples.append(send(app, mix[len(samples) % len(mix)]))
    return samples


def send(app, req: Request) -> Sample:
    """One request, timed; a request that raises is recorded, not fatal."""
    t0 = time.perf_counter()
    try:
        resp, err = app.handle(req.path, req.params), ""
    except Exception as exc:
        resp, err = None, f"{type(exc).__name__}: {exc}"
    return Sample(req, (time.perf_counter() - t0) * 1000.0, resp, err)


def rows_returned(sample: Sample) -> int:
    """Rows a response carries (JSON results, list entries or CSV rows)."""
    resp = sample.response
    if resp is None or resp.status != 200:
        return 0
    if sample.request.family == "csv":
        return max(0, len(_csv_rows(resp.body)) - 1)
    body = resp.json()
    if isinstance(body, list):
        return len(body)
    return len(body.get("results", [])) if "results" in body else 1


def _csv_rows(body: bytes) -> List[List[str]]:
    text = body.decode("utf-8-sig")
    return list(csv.reader(io.StringIO(text)))


# --------------------------------------------------------------------
# Untimed check
# --------------------------------------------------------------------

class ExpectedCounts:
    """The row count each request should report, computed in plain
    Python from the oracle crawl (``tests/oracle_crawler``) and the
    corpus html, with the reference viewer's semantics: searches are
    case-insensitive substring matches over the raw fields, the
    components/links searches count distinct pages (one row per match
    in their CSV form), the component list is the distinct class
    names. Nothing here goes through ``plans.queries`` or Spark."""

    def __init__(self, oracle, html_by_url: Dict[str, Optional[bytes]]):
        self.pages = list(oracle.pages.values())
        self.html = {
            u: (html_by_url.get(u) or b"").decode("utf-8").lower()
            for u in oracle.pages
        }
        self.requests = {"errors": oracle.errors, "redirects": oracle.redirects}

    def count(self, path: str, params: Dict[str, str]) -> int:
        if path == "/":
            return self._pages(params)
        if path == "/components/":
            return len({c for p in self.pages for c in p["components"]})
        rows = self.requests[path.strip("/")]
        if params.get("status_code"):
            rows = [r for r in rows if r["status_code"] == int(params["status_code"])]
        return len(rows)

    def _pages(self, params: Dict[str, str]) -> int:
        q, st = (params.get("q") or ""), params.get("search_type")
        ql = q.lower()
        csv_out = params.get("format") == "csv"
        pages = self.pages
        if params.get("language"):
            pages = [p for p in pages if p["language"] == params["language"]]

        def has(value) -> bool:
            return value is not None and ql in value.lower()

        if not q or st not in ("title", "url", "text", "html", "components", "links"):
            return len(pages)
        if st == "html":
            return sum(1 for p in pages if ql in self.html[p["url"]])
        if st in ("title", "url", "text"):
            return sum(1 for p in pages if has(p[st]))
        if st == "components":
            hits = [sum(1 for c in p["components"] if has(c)) for p in pages]
        else:
            # an href matches q or its form-encoded spelling
            enc = quote_plus(q).lower()
            hits = [
                sum(1 for h in p["links"] if has(h) or enc in h.lower())
                for p in pages
            ]
        return sum(hits) if csv_out else sum(1 for h in hits if h)


def check_sample(
    s: Sample, expected: ExpectedCounts, oracle_pages: Dict[str, dict]
) -> Optional[str]:
    """None when the response is right, else what is wrong with it."""
    req, resp = s.request, s.response
    if resp is None:
        return f"{req.path} {req.params}: raised {s.error}"
    if req.family == "detail":
        url = req.params["url"]
        want = oracle_pages.get(url)
        if want is None:
            return None if resp.status == 404 else f"detail {url}: expected 404"
        if resp.status != 200:
            return f"detail {url}: status {resp.status}"
        body = resp.json()
        if body["text"] != want["text"] or body["title"] != want["title"]:
            return f"detail {url}: text/title differ from the oracle"
        return None
    n = expected.count(req.path, req.params)
    if req.family == "csv":
        rows = _csv_rows(resp.body)
        if resp.status != 200 or len(rows) - 1 != n:
            return f"csv {req.path} {req.params}: {len(rows) - 1} rows, expected {n}"
        return None
    if req.family == "components":
        got = len(resp.json())
        return None if got == n else f"components: {got} entries, expected {n}"
    last = max(1, -(-n // PAGE_SIZE))
    raw = req.params.get("page", "1")
    page = last if raw == "last" else int(raw)
    if page > last:
        ok = resp.status == 404 and resp.json() == {"detail": "Invalid page."}
        return None if ok else f"{req.path} {req.params}: expected 404"
    if resp.status != 200:
        return f"{req.path} {req.params}: status {resp.status}"
    body = resp.json()
    # at most PAGE_SIZE rows, and exactly what the count leaves this page
    want_rows = min(PAGE_SIZE, n - (page - 1) * PAGE_SIZE)
    if body["count"] != n:
        return f"{req.path} {req.params}: count {body['count']}, expected {n}"
    if len(body["results"]) != want_rows:
        return f"{req.path} {req.params}: {len(body['results'])} rows on page {page}"
    return None
