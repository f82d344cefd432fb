"""Crawl-driver extras: robots gating (A12), mega-host salting
(§4.2.1), and the crawl→viewer integration slice (SURVEY.md §7 step
5's end-to-end milestone: crawl a site, then answer viewer queries
over the crawled store)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import web_dict_to_df
from tests.oracle_crawler import (
    WebResponse,
    crawl as oracle_crawl,
    fan_site,
    fixture_site,
)
from website_indexer_spark.plans import queries as Q
from website_indexer_spark.plans.crawl import run_crawl


def _site_with_two_sections():
    H = "h.test"
    mk = lambda body, title: (  # noqa: E731
        f'<html lang="en"><head><title>{title}</title></head>'
        f"<body>{body}</body></html>"
    ).encode()
    web = {
        f"https://{H}/": WebResponse(
            html=mk('<a href="/keep/">k</a> <a href="/private/x/">p</a>', "Home")
        ),
        f"https://{H}/keep/": WebResponse(html=mk("kept page text", "Keep")),
        f"https://{H}/private/x/": WebResponse(html=mk("secret", "Secret")),
    }
    return web, f"https://{H}/"


@pytest.mark.slow
def test_robots_disallow_prefix(spark, tmp_path):
    web, seed = _site_with_two_sections()
    robots = spark.createDataFrame(
        [("h.test", "/private/")], "host string, path_prefix string"
    )
    result = run_crawl(
        spark, web_dict_to_df(spark, web), seed, str(tmp_path / "c"), robots=robots
    )
    urls = {r["url"] for r in result.store.read_all("pages").collect()}
    assert "https://h.test/keep/" in urls
    assert "https://h.test/private/x/" not in urls
    # robots blocks the fetch entirely: not even in the seen set
    seen = {r["url"] for r in result.store.read_all("seen").collect()}
    assert "https://h.test/private/x/" not in seen


@pytest.mark.slow
def test_robots_default_off_matches_reference(spark, tmp_path):
    """--no-robots is the reference default (wpull/crawler.py:35):
    without a robots table the private section is crawled."""
    web, seed = _site_with_two_sections()
    result = run_crawl(spark, web_dict_to_df(spark, web), seed, str(tmp_path / "c"))
    urls = {r["url"] for r in result.store.read_all("pages").collect()}
    assert "https://h.test/private/x/" in urls


@pytest.mark.slow
def test_salting_preserves_final_state(spark, tmp_path):
    """Deterministic mega-host salting must not change the crawl's
    final state — only how the politeness window's work is spread."""
    web, seed = fan_site()
    oracle = oracle_crawl(web, seed)
    result = run_crawl(
        spark,
        web_dict_to_df(spark, web),
        seed,
        str(tmp_path / "c"),
        host_budget=2,
        salt_buckets=4,
    )
    pages = {r["url"] for r in result.store.read_all("pages").collect()}
    assert pages == set(oracle.pages)
    seen = {r["url"] for r in result.store.read_all("seen").collect()}
    assert seen == set(oracle.requested)


@pytest.mark.slow
def test_crawl_then_viewer_queries(spark, tmp_path):
    """The §7 minimum slice: crawl the reference fixture site, then
    run the viewer surface over the crawled store."""
    web, seed = fixture_site()
    result = run_crawl(spark, web_dict_to_df(spark, web), seed, str(tmp_path / "c"))
    pages = result.store.read_all("pages")

    # search_text over crawled pages (viewer C2)
    hits = Q.search_text(pages, "sample child page")
    urls = [r["url"] for r in hits.collect()]
    assert urls == [
        "http://localhost:8000/child/",
        "http://localhost:8000/child/?page=2",
    ]

    # component search distinct fork (C4) + component list (C10):
    # only the homepage carries o-sample (sample/src/index.html)
    assert Q.search_components(pages, "o-sample").count() == 1
    comps = [r["class_name"] for r in Q.component_list(pages).collect()]
    assert comps == ["o-sample"]

    # links quote_plus fork (C5): fixture pages link via raw hrefs
    assert Q.search_links(pages, "example").count() >= 1

    # crawl stats (C11) + CSV render (C14)
    stats = Q.crawl_stats(pages).first()
    assert stats["count"] == 3
    data = Q.render_csv(Q.search_empty(pages), Q.CSV_HEADERS["pages"])
    assert data.decode("utf-8-sig").splitlines()[0].rstrip("\r") == (
        "timestamp,url,title,language"
    )

    # errors surface with status filter (C6)
    errors = result.store.read_all("errors")
    assert Q.filter_status_code(errors, 404).count() == 1


@pytest.mark.slow
def test_all_scale_features_combined(spark, tmp_path):
    """Politeness budget + mega-host salting + Bloom prefilter all at
    once on a generated site: the scale features must compose without
    changing the final crawl state."""
    from website_indexer_spark.sources.synth import generate_web_pages

    web_df = generate_web_pages(
        spark, n_pages=200, n_hosts=4, partitions=4
    ).persist()
    rows = web_df.collect()
    web = {
        r["url"]: WebResponse(
            html=bytes(r["html"]) if r["html"] is not None else None,
            status_code=r["status_code"],
            location=r["location"],
            content_type=r["content_type"],
        )
        for r in rows
    }
    seed = "https://host0.test/p0/"
    oracle = oracle_crawl(web, seed)

    result = run_crawl(
        spark,
        web_df,
        seed,
        str(tmp_path / "c"),
        host_budget=7,
        salt_buckets=3,
        use_bloom=True,
        bloom_bits=1 << 14,
    )
    pages = {r["url"] for r in result.store.read_all("pages").collect()}
    seen = {r["url"] for r in result.store.read_all("seen").collect()}
    assert pages == set(oracle.pages)
    assert seen == set(oracle.requested)
    assert result.supersteps > 3  # budget forces extra waves


@pytest.mark.slow
def test_large_scale_paths_forced(spark, tmp_path, monkeypatch):
    """Force the >threshold code paths (distributed discovery_seq
    enumeration + shuffle fetch join + bucketed seen anti-join) that
    normally engage only on huge frontiers and seen histories; final
    state must equal the small-path crawl."""
    from tests.test_crawl import _rich_site
    from website_indexer_spark.plans import crawl as C

    web, seed = _rich_site()
    oracle = oracle_crawl(web, seed)
    monkeypatch.setattr(C, "DISTRIBUTED_SEQ_THRESHOLD", 0)
    monkeypatch.setattr(C, "BROADCAST_FETCH_THRESHOLD", 0)
    monkeypatch.setattr(C, "HISTORY_BROADCAST_THRESHOLD", -1)
    result = C.run_crawl(
        spark, web_dict_to_df(spark, web), seed, str(tmp_path / "c")
    )
    pages = {r["url"] for r in result.store.read_all("pages").collect()}
    seen = {r["url"] for r in result.store.read_all("seen").collect()}
    assert pages == set(oracle.pages)
    assert seen == set(oracle.requested)
    # ordering must match too: BFS depth assignments preserved
    depths = {
        r["url"]: r["depth"] for r in result.store.read_all("pages").collect()
    }
    for url, expected in oracle.pages.items():
        assert depths[url] == expected["depth"], url

    # mid path: disable the point-lookup shortcut so every wave takes
    # the streamed hits ∪ misses plan (the big-wave default)
    monkeypatch.undo()
    monkeypatch.setattr(C, "POINT_LOOKUP_THRESHOLD", 0)
    result2 = C.run_crawl(
        spark, web_dict_to_df(spark, web), seed, str(tmp_path / "mid")
    )
    pages2 = {r["url"] for r in result2.store.read_all("pages").collect()}
    seen2 = {r["url"] for r in result2.store.read_all("seen").collect()}
    assert pages2 == set(oracle.pages)
    assert seen2 == set(oracle.requested)


def test_store_manifest_commit_visibility(spark, tmp_path):
    """A delta written to the store stays invisible to readers until
    its superstep's manifest (the commit marker) lands."""
    from website_indexer_spark.sources.tables import CrawlStore

    store = CrawlStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame([(1, "u")], "url_hash long, url string")
    store.write_delta("seen", df, 0)
    assert store.read_all("seen").count() == 0  # not committed yet
    store.commit(0, {"requested": 1})
    assert store.read_all("seen").count() == 1
    assert store.last_committed() == 0
    assert store.read_manifest(0)["counters"]["requested"] == 1


def test_parse_robots_rules(spark):
    """robots.txt bodies -> Disallow prefix table (agent groups,
    comments, empty-disallow-allows-all, multi-agent runs)."""
    from website_indexer_spark.operators.policy import (
        parse_robots_rules,
        robots_filter,
    )

    body_a = "\n".join(
        [
            "# global rules",
            "User-agent: *",
            "Disallow: /private/",
            "Disallow: /tmp",
            "",
            "User-agent: evilbot",
            "Disallow: /",
        ]
    )
    body_b = "\n".join(
        [
            "User-agent: googlebot",
            "User-agent: *",  # multi-agent run: both own the group
            "Disallow: /search",
            "Allow: /search/about",  # ignored (prefix-only semantics)
            "",
            "User-agent: otherbot",
            "Disallow:",  # empty => allow all, no rule
        ]
    )
    bodies = spark.createDataFrame(
        [("a.test", body_a), ("b.test", body_b), ("c.test", None)],
        ["host", "body"],
    )
    rules = parse_robots_rules(bodies)
    got = {(r["host"], r["path_prefix"]) for r in rules.collect()}
    assert got == {
        ("a.test", "/private/"),
        ("a.test", "/tmp"),
        ("b.test", "/search"),
    }

    frontier = spark.createDataFrame(
        [
            ("https://a.test/private/x", "a.test", "/private/x"),
            ("https://a.test/public", "a.test", "/public"),
            ("https://b.test/search?q=1", "b.test", "/search"),
            ("https://c.test/anything", "c.test", "/anything"),
        ],
        ["url", "host", "url_path"],
    )
    kept = {r["url"] for r in robots_filter(frontier, rules).collect()}
    assert kept == {"https://a.test/public", "https://c.test/anything"}


def test_robots_sitemap_does_not_split_groups():
    """RFC 9309 §2.2.4: Sitemap is a non-group directive — it must not
    terminate a user-agent run. 'UA: a / Sitemap: x / UA: b /
    Disallow: /p' gives BOTH a and b the /p rule (ADVICE r2)."""
    from website_indexer_spark.operators.policy import parse_robots_body

    body = (
        "User-agent: abot\n"
        "Sitemap: https://h.test/sitemap.xml\n"
        "User-agent: bbot\n"
        "Disallow: /p\n"
    )
    assert parse_robots_body(body, "abot") == ["/p"]
    assert parse_robots_body(body, "bbot") == ["/p"]
    # a sitemap AFTER rules still doesn't leak rules to a later group
    body2 = (
        "User-agent: abot\n"
        "Disallow: /a\n"
        "Sitemap: https://h.test/sitemap.xml\n"
        "User-agent: bbot\n"
        "Disallow: /b\n"
    )
    assert parse_robots_body(body2, "abot") == ["/a"]
    assert parse_robots_body(body2, "bbot") == ["/b"]


def test_robots_allow_precedence_parse():
    """RFC 9309 mode (with_allow=True): Allow lines are kept as
    ('allow', path) pairs; the default mode still ignores them
    (reference-parity prefix-only Disallow semantics)."""
    from website_indexer_spark.operators.policy import parse_robots_body

    body = (
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/ok\n"
        "Allow:\n"          # empty allow: no rule, like empty disallow
        "Disallow: /tmp\n"
    )
    assert parse_robots_body(body) == ["/private/", "/tmp"]
    assert parse_robots_body(body, with_allow=True) == [
        ("disallow", "/private/"),
        ("allow", "/private/ok"),
        ("disallow", "/tmp"),
    ]
    # wildcard-agent + specific-agent groups both contribute
    body2 = (
        "User-agent: abot\n"
        "Allow: /a/deep\n"
        "Disallow: /a\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /all\n"
    )
    assert parse_robots_body(body2, "abot", with_allow=True) == [
        ("allow", "/a/deep"),
        ("disallow", "/a"),
        ("disallow", "/all"),
    ]


def test_robots_allow_precedence_filter(spark):
    """RFC 9309 §2.2.2 longest-match with Allow winning ties, behind
    the allow_precedence flag (default off = old behavior, byte-
    identical)."""
    from website_indexer_spark.operators.policy import (
        parse_robots_rules,
        robots_filter,
    )

    body = "\n".join(
        [
            "User-agent: *",
            "Disallow: /private/",
            "Allow: /private/public/",
            "Disallow: /private/public/secret/",  # longer: wins again
            "Allow: /dup",
            "Disallow: /dup",  # equal length: Allow wins
        ]
    )
    bodies = spark.createDataFrame([("h.test", body)], ["host", "body"])
    rules = parse_robots_rules(bodies, allow_precedence=True)
    got = {(r["rule"], r["path_prefix"]) for r in rules.collect()}
    assert got == {
        ("disallow", "/private/"),
        ("allow", "/private/public/"),
        ("disallow", "/private/public/secret/"),
        ("allow", "/dup"),
        ("disallow", "/dup"),
    }

    rows = [
        ("https://h.test/private/x", "/private/x", False),       # blocked
        ("https://h.test/private/public/a", "/private/public/a", True),
        (
            "https://h.test/private/public/secret/b",
            "/private/public/secret/b",
            False,
        ),
        ("https://h.test/dup/x", "/dup/x", True),                # tie->allow
        ("https://h.test/free", "/free", True),                  # no rule
    ]
    frontier = spark.createDataFrame(
        [(u, "h.test", p) for u, p, _ in rows], ["url", "host", "url_path"]
    )
    kept = {r["url"] for r in robots_filter(frontier, rules).collect()}
    assert kept == {u for u, _p, keep in rows if keep}

    # flag off: Allow ignored entirely — /private/public/a AND /dup/x
    # are blocked by their Disallow prefixes (conservative over-block)
    legacy = parse_robots_rules(bodies)
    kept_legacy = {
        r["url"] for r in robots_filter(frontier, legacy).collect()
    }
    assert kept_legacy == {"https://h.test/free"}
