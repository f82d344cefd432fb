"""HTTP-envelope parity tests (VERDICT r3 missing #1), modeled on the
reference's viewer/tests/test_views.py: the five endpoints, DRF's
paginated JSON envelope + BetterPageNumberPagination extras, the CSV
attachment bytes (BOM, csv_header names, CRLF, dated filename), the
detail view's 404, and the WSGI adapter."""

import codecs
import itertools
from datetime import datetime
from io import BytesIO

import pytest

from website_indexer_spark.plans import envelope as E


def _ts(s):
    return datetime.fromisoformat(s)


SUFFIX = " | Consumer Financial Protection Bureau"


@pytest.fixture(scope="module")
def app(spark):
    crawls = spark.createDataFrame(
        [
            (1, "Finished", _ts("2026-01-01T10:00:00")),
            (2, "Finished", _ts("2026-02-01T10:00:00")),  # scoped
            (3, "Started", _ts("2026-03-01T10:00:00")),
        ],
        "crawl_id long, status string, started timestamp",
    )
    pages = spark.createDataFrame(
        [
            (2, _ts("2026-02-01T10:00:01"), "https://h.test/", "Sample homepage" + SUFFIX,
             "en", "<html><a href=\"https://example.com/\">x</a></html>",
             "sample home text",
             ["./file.xlsx", "https://example.com/"], ["o-sample"]),
            (2, _ts("2026-02-01T10:00:02"), "https://h.test/child/", "Sample child page",
             "en", "<html>child</html>", "sample child page text",
             ["/"], ["m-child"]),
            (2, _ts("2026-02-01T10:00:03"), "https://h.test/es/", "Página",
             "es", "<html>es</html>", "texto", [], []),
            # out-of-scope crawl 1 row must never appear
            (1, _ts("2026-01-01T10:00:01"), "https://h.test/old/", "Old",
             "en", "<html>old</html>", "old", [], []),
        ],
        "crawl_id long, timestamp timestamp, url string, title string, "
        "language string, html string, text string, links array<string>, "
        "components array<string>",
    )
    errors = spark.createDataFrame(
        [
            (2, _ts("2026-02-01T10:00:04"), "https://example.com/file.xlsx",
             404, "https://h.test/"),
            (2, _ts("2026-02-01T10:00:05"), "https://h.test/boom/",
             500, "https://h.test/"),
        ],
        "crawl_id long, timestamp timestamp, url string, "
        "status_code int, referrer string",
    )
    redirects = spark.createDataFrame(
        [
            (2, _ts("2026-02-01T10:00:06"), "http://h.test/r/",
             301, "https://h.test/", "https://h.test/r/"),
        ],
        "crawl_id long, timestamp timestamp, url string, "
        "status_code int, referrer string, location string",
    )
    return E.ViewerApp(
        {
            "pages": pages,
            "errors": errors,
            "redirects": redirects,
            "crawls": crawls,
        },
        base_url="http://testserver",
    )


def get_csv_rows(app, path, **params):
    """The reference's CSVTestMixin.get_csv: 200, text/csv, BOM."""
    params["format"] = "csv"
    resp = app.handle(path, params)
    assert resp.status == 200
    assert resp.content_type == "text/csv; charset=utf-8"
    rows = BytesIO(resp.body).readlines()
    assert rows[0].startswith(codecs.BOM_UTF8)
    rows[0] = rows[0][len(codecs.BOM_UTF8):]
    return rows, resp.headers


def test_envelope_shape_and_scope(app):
    resp = app.handle("/", {})
    assert resp.status == 200 and resp.content_type == "application/json"
    data = resp.json()
    assert list(data) == [
        "count", "next", "previous", "results", "num_pages", "page_number",
    ]
    assert data["count"] == 3  # crawl-1 row scoped out
    assert data["num_pages"] == 1 and data["page_number"] == 1
    assert data["next"] is None and data["previous"] is None
    first = data["results"][0]
    # serializer field order, scrubbed title, ISO-Z timestamp
    assert list(first) == ["timestamp", "url", "title", "language"]
    assert first["title"] == "Sample homepage"
    assert first["timestamp"] == "2026-02-01T10:00:01Z"


def test_search_dispatch_and_fallback(app):
    results = app.handle("/", {"search_type": "text", "q": "child page"})
    assert [r["title"] for r in results.json()["results"]] == [
        "Sample child page"
    ]
    # invalid search_type falls back to everything (test_views.py:80-83)
    assert app.handle("/", {"search_type": "invalid"}).json()["count"] == 3
    # title search matches the RAW title (scrub happens at render)
    hit = app.handle("/", {"search_type": "title", "q": "financial protection"})
    assert hit.json()["count"] == 1
    # language filter (views.py:110)
    assert app.handle("/", {"language": "es"}).json()["count"] == 1


def test_pagination_links_and_invalid_page(app, monkeypatch):
    monkeypatch.setattr(E, "PAGE_SIZE", 2)
    p1 = app.handle("/", {}).json()
    assert p1["num_pages"] == 2 and p1["count"] == 3
    assert p1["next"] == "http://testserver/?page=2"
    p2 = app.handle("/", {"page": "2"}).json()
    assert p2["page_number"] == 2
    # DRF drops the page param when linking back to page 1
    assert p2["previous"] == "http://testserver/"
    assert p2["next"] is None
    last = app.handle("/", {"page": "last"}).json()
    assert last["page_number"] == 2
    for bad in ("0", "3", "nope"):
        resp = app.handle("/", {"page": bad})
        assert resp.status == 404
        assert resp.json() == {"detail": "Invalid page."}


def test_pages_csv(app):
    rows, headers = get_csv_rows(app, "/")
    assert rows[0] == b"url,title,language\r\n"
    assert len(rows) == 4
    assert headers["Content-Disposition"] == (
        "attachment; filename=pages-20260201.csv"
    )


def test_components_and_links_csv_forks(app):
    rows, _ = get_csv_rows(app, "/", search_type="components", q="o-sample")
    assert rows == [
        b"url,title,language,class_name\r\n",
        b"https://h.test/,Sample homepage,en,o-sample\r\n",
    ]
    rows, _ = get_csv_rows(app, "/", search_type="links", q="example.com")
    assert rows[0] == b"url,title,language,link_url\r\n"
    assert rows[1] == (
        b"https://h.test/,Sample homepage,en,https://example.com/\r\n"
    )


def test_detail_view(app):
    resp = app.handle("/page/", {"url": "https://h.test/"})
    data = resp.json()
    assert list(data) == [
        "timestamp", "url", "title", "language",
        "text", "html", "components", "links",
    ]
    # PageDetailSerializer renders the RAW title (no get_title override)
    assert data["title"] == "Sample homepage" + SUFFIX
    assert data["components"] == ["o-sample"]
    assert data["links"] == ["./file.xlsx", "https://example.com/"]
    missing = app.handle("/page/", {"url": "https://h.test/zzz/"})
    assert missing.status == 404
    assert missing.json() == {"detail": "Not found."}


def test_component_list_endpoint(app):
    data = app.handle("/components/", {}).json()
    # bare JSON list: pagination_class=None (views.py:81)
    assert data == [{"class_name": "m-child"}, {"class_name": "o-sample"}]
    rows, headers = get_csv_rows(app, "/components/")
    assert rows[0] == b"class_name\r\n"
    assert headers["Content-Disposition"] == (
        "attachment; filename=components-20260201.csv"
    )


def test_errors_endpoint(app):
    data = app.handle("/errors/", {}).json()
    assert data["count"] == 2
    assert list(data["results"][0]) == [
        "timestamp", "url", "status_code", "referrer",
    ]
    filtered = app.handle("/errors/", {"status_code": "404"}).json()
    assert filtered["count"] == 1
    rows, _ = get_csv_rows(app, "/errors/")
    assert rows == [
        b"url,status_code,referrer\r\n",
        b"https://example.com/file.xlsx,404,https://h.test/\r\n",
        b"https://h.test/boom/,500,https://h.test/\r\n",
    ]


def test_redirects_endpoint(app):
    data = app.handle("/redirects/", {}).json()
    row = data["results"][0]
    assert row["redirect_url"] == "https://h.test/r/"
    assert row["is_http_to_https"] is True  # location == https-of-url
    assert row["is_append_slash"] is False  # url already ends with /
    rows, _ = get_csv_rows(app, "/redirects/")
    assert rows[0] == (
        b"url,status_code,referrer,redirect_url,"
        b"is_http_to_https,is_append_slash\r\n"
    )
    assert rows[1].endswith(b",True,False\r\n")


def test_unknown_route_and_wsgi(app):
    assert app.handle("/nope/", {}).status == 404
    wsgi = E.make_wsgi_app(app)
    captured = {}

    def start_response(status, headers):
        captured["status"] = status
        captured["headers"] = dict(headers)

    body = b"".join(
        wsgi({"PATH_INFO": "/", "QUERY_STRING": "language=es"}, start_response)
    )
    assert captured["status"] == "200 OK"
    assert captured["headers"]["Content-Type"] == "application/json"
    import json

    assert json.loads(body)["count"] == 1


# --------------------------------------------------------------------
# One Spark job per numbered JSON page
# --------------------------------------------------------------------

_GROUPS = itertools.count()


def _jobs(spark, app, path, params):
    """(response, Spark jobs the request ran): the request runs under
    its own job group, counted once the listener bus has delivered
    every job-start event."""
    sc = spark.sparkContext
    group = f"envelope-request-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        resp = app.handle(path, dict(params))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return resp, len(sc.statusTracker().getJobIdsForGroup(group))


ONE_JOB_REQUESTS = [
    pytest.param(path, params, id=name)
    for name, path, params in [
        ("list", "/", {}),
        ("page1", "/", {"page": "1"}),
        ("title", "/", {"search_type": "title", "q": "sample"}),
        ("url", "/", {"search_type": "url", "q": "child"}),
        ("text", "/", {"search_type": "text", "q": "sample"}),
        ("html", "/", {"search_type": "html", "q": "<HTML>"}),
        ("components", "/", {"search_type": "components", "q": "o-"}),
        ("links", "/", {"search_type": "links", "q": "Example.com"}),
        ("language", "/", {"language": "en"}),
        ("errors", "/errors/", {}),
        ("redirects", "/redirects/", {}),
        ("redirects_status", "/redirects/", {"status_code": "301"}),
    ]
]


@pytest.mark.parametrize("path,params", ONE_JOB_REQUESTS)
def test_numbered_page_is_one_job(spark, app, path, params):
    resp, jobs = _jobs(spark, app, path, params)
    assert resp.status == 200
    assert jobs == 1


def test_page_jobs_last_and_invalid(spark, app, monkeypatch):
    monkeypatch.setattr(E, "PAGE_SIZE", 2)
    # page=last counts first, then fetches the page
    resp, jobs = _jobs(spark, app, "/", {"page": "last"})
    assert resp.json()["page_number"] == 2 and jobs == 2
    # out of range: 404 after the one page job
    resp, jobs = _jobs(spark, app, "/", {"page": "3"})
    assert resp.status == 404 and jobs == 1
    # malformed or below 1: 404 with no job
    for bad in ("0", "nope"):
        resp, jobs = _jobs(spark, app, "/", {"page": bad})
        assert resp.status == 404 and jobs == 0
        assert resp.json() == {"detail": "Invalid page."}


def test_page_beyond_int_offsets_is_404(app):
    # its row offset does not fit Spark's int LIMIT/OFFSET
    resp = app.handle("/", {"page": str(2**40)})
    assert resp.status == 404
    assert resp.json() == {"detail": "Invalid page."}


def test_csv_crawl_start_computed_once(spark, app):
    """The scoped tables are fixed at construction, so the crawl-start
    date of the CSV filename is computed by the app's first CSV
    request only: a repeat runs fewer jobs and returns the same bytes."""
    fresh = E.ViewerApp({"pages": app.pages, "errors": app.errors})
    first, jobs_first = _jobs(spark, fresh, "/errors/", {"format": "csv"})
    again, jobs_again = _jobs(spark, fresh, "/errors/", {"format": "csv"})
    assert first.headers["Content-Disposition"] == (
        "attachment; filename=errors-20260201.csv"
    )
    assert (again.body, again.headers) == (first.body, first.headers)
    assert jobs_again < jobs_first


# --------------------------------------------------------------------
# The observed count is the result's count
# --------------------------------------------------------------------

@pytest.mark.parametrize("path,params", ONE_JOB_REQUESTS)
def test_observed_count_matches_count(app, path, params, monkeypatch):
    from website_indexer_spark.plans import queries as Q

    if path == "/":
        expected = Q.search(app.pages, params.get("search_type"), params.get("q"))
        if params.get("language"):
            expected = Q.filter_language(expected, params["language"])
    else:
        expected = app.errors if path == "/errors/" else app.redirects
        if params.get("status_code"):
            expected = Q.filter_status_code(expected, int(params["status_code"]))
    n = expected.count()
    assert app.handle(path, dict(params)).json()["count"] == n
    # every page of a smaller page size observes the whole count
    monkeypatch.setattr(E, "PAGE_SIZE", 1)
    for page in range(1, n + 1):
        body = app.handle(path, dict(params, page=str(page))).json()
        assert body["count"] == n and len(body["results"]) == 1


@pytest.mark.parametrize("source", ["parquet", "range"])
def test_observed_count_across_partitions(spark, tmp_path, source, monkeypatch):
    """A result spread over several partitions: every page's count is
    the whole result's, and the pages tile it in url order. Over a
    parquet scan each numbered page is one job; over a range, whose
    size the optimizer knows, the last page counts first and still
    reports the right count."""
    from pyspark.sql import functions as F

    pages = spark.range(0, 60, 1, 4).select(
        F.lit(_ts("2026-02-01T10:00:00")).alias("timestamp"),
        F.format_string("https://h.test/p%02d/", (F.col("id") * 7) % 60).alias("url"),
        F.lit("t").alias("title"),
        F.lit("en").alias("language"),
        F.array(F.lit("/")).alias("links"),
        F.array(F.lit("o-a")).alias("components"),
    )
    if source == "parquet":
        pages.write.parquet(str(tmp_path / "pages"))
        pages = spark.read.parquet(str(tmp_path / "pages"))
    app = E.ViewerApp({"pages": pages})
    monkeypatch.setattr(E, "PAGE_SIZE", 25)
    urls = []
    for page in ("1", "2", "3"):
        resp, jobs = _jobs(spark, app, "/", {"page": page})
        body = resp.json()
        assert body["count"] == 60 and body["num_pages"] == 3
        if source == "parquet":
            assert jobs == 1
        urls += [r["url"] for r in body["results"]]
    assert urls == [f"https://h.test/p{i:02d}/" for i in range(60)]
    assert app.handle("/", {"page": "4"}).status == 404
    comps = app.handle("/", {"search_type": "components", "q": "O-A", "page": "3"})
    assert comps.json()["count"] == 60 and len(comps.json()["results"]) == 10


def test_empty_scope_counts_zero(spark, app):
    """A crawls table with no Finished crawl scopes every table empty:
    page 1 is an empty page, page 2 is out of range."""
    crawls = spark.createDataFrame(
        [(3, "Started", _ts("2026-03-01T10:00:00"))],
        "crawl_id long, status string, started timestamp",
    )
    empty = E.ViewerApp(
        {"pages": app.pages, "errors": app.errors, "crawls": crawls}
    )
    for path in ("/", "/errors/"):
        body = empty.handle(path, {}).json()
        assert body == {
            "count": 0, "next": None, "previous": None, "results": [],
            "num_pages": 1, "page_number": 1,
        }
        assert empty.handle(path, {"page": "last"}).json() == body
        assert empty.handle(path, {"page": "2"}).status == 404
    resp = empty.handle("/", {"format": "csv"})
    # no pages: no date suffix
    assert resp.headers["Content-Disposition"] == "attachment; filename=pages.csv"
