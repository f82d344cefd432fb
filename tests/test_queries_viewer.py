"""Viewer query-surface tests (SURVEY.md §2.C/§2.D) over hand-built
crawl tables, mirroring the reference's viewer/tests/test_views.py
semantics: scoping, search forks, pagination, CSV shape, flags."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from website_indexer_spark.plans import queries as Q


def _ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def crawls(spark):
    return spark.createDataFrame(
        [
            (1, "Finished", _ts("2026-01-01T10:00:00")),
            (2, "Finished", _ts("2026-02-01T10:00:00")),  # latest finished
            (3, "Started", _ts("2026-03-01T10:00:00")),
            (4, "Failed", _ts("2026-02-15T10:00:00")),
        ],
        "crawl_id long, status string, started timestamp",
    )


@pytest.fixture(scope="module")
def pages(spark):
    rows = [
        # crawl 2 (scoped) pages
        (2, _ts("2026-02-01T10:00:01"), "https://h.test/a/", "Alpha | Consumer Financial Protection Bureau",
         "en", "<html>alpha body</html>", "alpha body medical debt",
         ["/a/", "/b/"], ["o-hero", "m-notification"]),
        (2, _ts("2026-02-01T10:00:02"), "https://h.test/b/", "Beta",
         "es", "<html>beta body</html>", "beta body",
         ["/a/", "https://ext.test/x?q=a+b"], ["o-hero"]),
        (2, _ts("2026-02-01T10:00:03"), "https://h.test/c/", "Gamma",
         None, "<html>gamma body</html>", "gamma medical text",
         [], []),
        # crawl 1 (out of scope)
        (1, _ts("2026-01-01T10:00:01"), "https://h.test/old/", "Old",
         "en", "<html>old</html>", "old text", [], ["o-old"]),
    ]
    return spark.createDataFrame(
        rows,
        "crawl_id long, timestamp timestamp, url string, title string, "
        "language string, html string, text string, links array<string>, "
        "components array<string>",
    )


@pytest.fixture(scope="module")
def scoped(pages, crawls):
    return Q.scope_to_crawl(pages, Q.latest_finished_crawl_id(crawls))


def test_latest_finished_scope(crawls, scoped):
    assert Q.latest_finished_crawl_id(crawls) == 2
    assert scoped.count() == 3
    # no finished crawl => empty queryset (models.py:61-62)
    empty = Q.scope_to_crawl(scoped, None)
    assert empty.count() == 0


def test_search_dispatch_and_projection(scoped):
    out = Q.search(scoped, "text", "MEDICAL")
    assert out.columns == Q.PAGE_VALUES
    urls = [r["url"] for r in out.collect()]
    assert urls == ["https://h.test/a/", "https://h.test/c/"]  # url order
    # unknown type / empty q => search_empty fallback
    assert Q.search(scoped, "nope", "x").count() == 3
    assert Q.search(scoped, "text", "").count() == 3


def test_search_title_url_html(scoped):
    assert Q.search_title(scoped, "alpha").count() == 1
    assert Q.search_url(scoped, "/B/").count() == 1
    assert Q.search_html(scoped, "GAMMA").count() == 1


def test_components_distinct_vs_csv_fork(scoped):
    default = Q.search_components(scoped, "o-hero")
    assert default.columns == Q.PAGE_VALUES
    assert default.count() == 2  # distinct page rows
    csv = Q.search_components(scoped, "o-", include_class_names=True)
    assert csv.columns == Q.PAGE_VALUES + ["class_name"]
    assert csv.count() == 2  # one row per (page, matching class)


def test_links_quote_plus_fork(scoped):
    # 'a b' matches the url-encoded 'a+b' via quote_plus (search.py:31)
    got = Q.search_links(scoped, "a b")
    assert got.count() == 1
    csv = Q.search_links(scoped, "/a/", include_hrefs=True)
    assert csv.columns == Q.PAGE_VALUES + ["href"]
    assert csv.count() == 2


def test_secondary_filters(scoped):
    assert Q.filter_language(scoped, "en").count() == 1


def test_pagination(scoped):
    ordered = Q.search_empty(scoped)
    p1 = Q.paginate(ordered, 1, page_size=2).collect()
    p2 = Q.paginate(ordered, 2, page_size=2).collect()
    assert [r["url"] for r in p1] == ["https://h.test/a/", "https://h.test/b/"]
    assert [r["url"] for r in p2] == ["https://h.test/c/"]
    assert Q.page_count(3, 2) == 2
    assert Q.page_count(0, 2) == 1


def test_page_detail_and_component_list(scoped):
    detail = Q.page_detail(scoped, "https://h.test/a/").collect()
    assert len(detail) == 1 and detail[0]["components"] == ["o-hero", "m-notification"]
    assert Q.page_detail(scoped, "https://h.test/zzz/").count() == 0
    comps = [r["class_name"] for r in Q.component_list(scoped).collect()]
    assert comps == ["m-notification", "o-hero"]


def test_crawl_stats(scoped):
    row = Q.crawl_stats(scoped).first()
    assert row["count"] == 3
    assert row["duration_s"] == 2


def test_title_scrub(scoped):
    titles = {
        r["title"]
        for r in Q.with_scrubbed_titles(scoped).select("title").collect()
    }
    assert "Alpha" in titles
    assert not any("| Consumer" in t for t in titles)


def test_redirect_flags(spark):
    redirects = spark.createDataFrame(
        [
            (2, "http://h.test/a/", 301, "https://h.test/a/"),
            (2, "https://h.test/b", 301, "https://h.test/b/"),
            (2, "https://h.test/c/", 302, "https://other.test/"),
        ],
        "crawl_id long, url string, status_code int, location string",
    )
    rows = {r["url"]: r for r in Q.with_redirect_flags(redirects).collect()}
    assert rows["http://h.test/a/"]["is_http_to_https"] is True
    assert rows["http://h.test/a/"]["is_append_slash"] is False
    assert rows["https://h.test/b"]["is_append_slash"] is True
    assert rows["https://h.test/c/"]["is_http_to_https"] is False


def test_csv_render(scoped):
    data = Q.render_csv(Q.search_empty(scoped), Q.CSV_HEADERS["pages"])
    assert data.startswith("﻿".encode("utf-8"))  # BOM (views.py:44-62)
    lines = data.decode("utf-8-sig").strip().split("\n")
    assert lines[0].rstrip("\r") == "timestamp,url,title,language"
    assert len(lines) == 4
    assert Q.csv_filename(scoped) == "pages-20260201.csv"


def test_results_summary():
    assert Q.results_summary(3, None, None) == "3 pages"
    assert Q.results_summary(1, "title", "debt") == '1 page with "debt" in the page title'
    long_q = "x" * 30
    assert "…" in Q.results_summary(0, "text", long_q)


def test_list_and_clean_crawls(spark, crawls):
    listed = [r["crawl_id"] for r in Q.list_crawls(crawls).collect()]
    assert listed == [3, 4, 2, 1]
    # keep=1: crawl 1 (2nd newest Finished) is stale; Started #3 is
    # the latest Started so it survives (manage_crawls.py:33-69)
    stale = {r["crawl_id"] for r in Q.clean_crawls(crawls, keep=1).collect()}
    assert stale == {1}

    more = crawls.union(
        spark.createDataFrame(
            [(5, "Started", _ts("2026-03-02T10:00:00"))],
            crawls.schema,
        )
    )
    stale2 = {r["crawl_id"] for r in Q.clean_crawls(more, keep=1).collect()}
    assert stale2 == {1, 3}  # now crawl 3 is a non-latest Started


def test_delete_crawl(spark, pages):
    out = Q.delete_crawl({"pages": pages}, 1)["pages"]
    assert out.filter(F.col("crawl_id") == 1).count() == 0
    assert out.count() == 3


def test_export_csv_distributed_parity(spark, scoped, tmp_path):
    """The distributed export must be byte-identical to the
    driver-side render across the rendering corner cases: embedded
    commas/quotes/newlines, unicode, empty vs NULL strings,
    timestamps with and without microseconds, booleans, NULLs."""
    from datetime import datetime

    nasty = spark.createDataFrame(
        [
            (datetime(2026, 2, 1, 10, 0, 1), "plain", "simple", True),
            (datetime(2026, 2, 1, 10, 0, 1, 123456), 'has "quotes"', "a,b", False),
            (datetime(2026, 2, 1, 10, 0, 1, 1), "line\nbreak", "", None),
            (None, None, "ünïcode — em", True),
        ],
        "timestamp timestamp, title string, note string, flag boolean",
    ).orderBy("title")
    cols = ["timestamp", "title", "note", "flag"]
    expected = Q.render_csv(nasty, cols)
    out = Q.export_csv_distributed(nasty, cols, str(tmp_path / "nasty.csv"))
    assert open(out, "rb").read() == expected

    # and on the viewer pages projection (the C14 attachment shape)
    ordered = Q.search_empty(scoped)
    expected = Q.render_csv(ordered, Q.CSV_HEADERS["pages"])
    out = Q.export_csv_distributed(
        ordered, Q.CSV_HEADERS["pages"], str(tmp_path / "pages.csv")
    )
    assert open(out, "rb").read() == expected


def _explode_dedup(pages, array, pred):
    """The explode + dropDuplicates shape the component/link searches
    had, kept here as the oracle of their row filter."""
    return (
        pages.select(*Q.PAGE_VALUES, F.explode(array).alias("m"))
        .filter(pred(F.col("m")))
        .drop("m")
        .dropDuplicates(Q.PAGE_VALUES)
        .orderBy("url")
    )


@pytest.mark.parametrize("q", ["o-hero", "O-", "NOTIFICATION", "zzz", "-"])
def test_components_filter_matches_explode_oracle(scoped, q):
    want = _explode_dedup(
        scoped, "components", lambda c: F.lower(c).contains(q.lower())
    )
    got = Q.search_components(scoped, q)
    assert got.collect() == want.collect()


@pytest.mark.parametrize("q", ["/a/", "A B", "EXT.test", "zzz", "/"])
def test_links_filter_matches_explode_oracle(scoped, q):
    from urllib.parse import quote_plus

    def pred(h):
        lh = F.lower(h)
        return lh.contains(q.lower()) | lh.contains(quote_plus(q).lower())

    want = _explode_dedup(scoped, "links", pred)
    got = Q.search_links(scoped, q)
    assert got.collect() == want.collect()


def test_array_searches_plan_no_exchange(scoped):
    """The JSON forms of C4/C5 are one row filter: no explode, no
    exchange before the sort."""
    import io
    from contextlib import redirect_stdout

    for df in (
        Q.match_components(scoped, "o-"),
        Q.match_links(scoped, "/a/"),
    ):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
        plan = buf.getvalue()
        assert "Exchange" not in plan and "Generate" not in plan, plan


def test_component_list_single_exchange(scoped):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        Q.component_list(scoped).explain()
    plan = buf.getvalue()
    assert plan.count("Exchange") == 1 and "rangepartitioning" not in plan
