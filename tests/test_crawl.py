"""Crawl-equivalence tests: the Spark superstep driver must produce the
same pages/errors/redirects/seen sets as the simulated-reference
oracle (tests/oracle_crawler.py), which itself is validated against
the reference's committed fixture (crawler/fixtures/sample.json).
"""

import pytest

from tests.conftest import web_dict_to_df
from tests.oracle_crawler import (
    WebResponse,
    crawl as oracle_crawl,
    fan_site,
    fixture_site,
)
from website_indexer_spark.plans.crawl import run_crawl


# --------------------------------------------------------------------
# Oracle self-validation against the reference fixture goldens
# --------------------------------------------------------------------

def test_oracle_matches_reference_fixture():
    web, seed = fixture_site()
    result = oracle_crawl(web, seed)

    assert sorted(result.pages) == [
        "http://localhost:8000/",
        "http://localhost:8000/child/",
        "http://localhost:8000/child/?page=2",
    ]
    home = result.pages["http://localhost:8000/"]
    assert home["title"] == "Sample homepage"
    assert home["components"] == ["o-sample"]
    assert len(home["links"]) == 8

    assert [(e["url"], e["status_code"]) for e in result.errors] == [
        ("https://example.com/file.xlsx", 404)
    ]
    assert result.redirects == []
    # requested includes external one-hop probes
    assert set(result.requested) == {
        "http://localhost:8000/",
        "http://localhost:8000/child/",
        "http://localhost:8000/child/?page=2",
        "https://example.com/",
        "https://example.com/file.xlsx",
        "https://example.org/",
    }
    # BFS: seed at depth 0, everything else depth 1
    depths = dict((u, d) for d, u in result.visit_order)
    assert depths["http://localhost:8000/"] == 0
    assert all(d == 1 for u, d in depths.items() if u != "http://localhost:8000/")


def _spark_crawl(spark, tmp_path, web, seed, **kw):
    web_df = web_dict_to_df(spark, web)
    return run_crawl(spark, web_df, seed, str(tmp_path / "crawl"), **kw)


def _assert_equivalent(result, store, oracle):
    pages = {r["url"]: r.asDict() for r in store.read_all("pages").collect()}
    errors = {
        (r["url"], r["status_code"], r["referrer"])
        for r in store.read_all("errors").collect()
    }
    redirects = {
        (r["url"], r["status_code"], r["location"])
        for r in store.read_all("redirects").collect()
    }
    seen = {r["url"] for r in store.read_all("seen").collect()}

    assert set(pages) == set(oracle.pages), (
        sorted(set(pages) ^ set(oracle.pages))
    )
    for url, expected in oracle.pages.items():
        got = pages[url]
        assert got["title"] == expected["title"], url
        assert got["language"] == expected["language"], url
        assert got["text"] == expected["text"], url  # byte-identical
        assert got["links"] == expected["links"], url
        assert got["components"] == expected["components"], url
        assert got["depth"] == expected["depth"], url
    assert errors == {
        (e["url"], e["status_code"], e["referrer"]) for e in oracle.errors
    }
    assert redirects == {
        (r["url"], r["status_code"], r["location"]) for r in oracle.redirects
    }
    assert seen == set(oracle.requested)


# --------------------------------------------------------------------
# Spark driver vs oracle on the fixture site
# --------------------------------------------------------------------

@pytest.mark.slow
def test_spark_crawl_fixture_site(spark, tmp_path):
    web, seed = fixture_site()
    oracle = oracle_crawl(web, seed)
    result = _spark_crawl(spark, tmp_path, web, seed)
    _assert_equivalent(result, result.store, oracle)
    assert result.supersteps == 2  # depth 0 wave + depth 1 wave
    assert result.pages == 3
    assert result.errors == 1


# --------------------------------------------------------------------
# Richer synthetic site: redirects (http->https, append-slash,
# cross-host), network errors, non-HTML, depth caps, max_pages
# --------------------------------------------------------------------

def _rich_site():
    H = "site.test"
    mk = lambda body, title="T": (  # noqa: E731
        f'<html lang="en"><head><title>{title}</title></head>'
        f"<body>{body}</body></html>"
    ).encode()
    web = {
        f"https://{H}/": WebResponse(
            html=mk(
                '<a href="/a/">a</a> <a href="/b/">b</a> '
                '<a href="http://site.test/sec/">sec</a> '
                '<a href="/missing-slash">ms</a> '
                '<a href="/gone/">gone</a> '
                '<a href="/oops/">oops</a> '
                '<a href="/binary/">bin</a> '
                '<a href="https://other.test/x/">ext</a> '
                '<a href="https://www.facebook.com/dialog/share?u=1">skip</a> '
                '<a href="/external-site/?ext_url=https%3A%2F%2Ffar.test%2F">wrap</a>',
                "Home",
            )
        ),
        f"https://{H}/a/": WebResponse(
            html=mk('<a href="/deep/">deep</a> <a href="/">home</a>', "A")
        ),
        f"https://{H}/b/": WebResponse(html=mk("no links", "B")),
        # http->https redirect (C13 is_http_to_https material)
        f"http://{H}/sec/": WebResponse(
            html=None, status_code=301, location=f"https://{H}/sec/"
        ),
        f"https://{H}/sec/": WebResponse(html=mk("secure", "Sec")),
        # append-slash redirect
        f"https://{H}/missing-slash": WebResponse(
            html=None, status_code=301, location=f"https://{H}/missing-slash/"
        ),
        f"https://{H}/missing-slash/": WebResponse(html=mk("slashed", "MS")),
        f"https://{H}/gone/": WebResponse(html=None, status_code=404),
        f"https://{H}/oops/": WebResponse(html=None, status_code=200),  # net error
        f"https://{H}/binary/": WebResponse(
            html=b"\x89PNG", content_type="image/png"
        ),
        f"https://{H}/deep/": WebResponse(html=mk("deep page", "Deep")),
        "https://other.test/x/": WebResponse(html=mk("external ok")),
        "https://far.test/": WebResponse(html=None, status_code=500),
        # cross-host redirect: recorded, location NOT followed
        # (linked from /a/? add to home page instead)
    }
    # add a cross-host redirect linked from home
    web[f"https://{H}/away/"] = WebResponse(
        html=None, status_code=302, location="https://elsewhere.test/landing/"
    )
    home_html = web[f"https://{H}/"].html.decode()
    web[f"https://{H}/"] = WebResponse(
        html=home_html.replace(
            "</body>", '<a href="/away/">away</a></body>'
        ).encode()
    )
    return web, f"https://{H}/"


@pytest.mark.slow
def test_spark_crawl_rich_site(spark, tmp_path):
    web, seed = _rich_site()
    oracle = oracle_crawl(web, seed)
    # sanity: the oracle exercises every routing branch
    assert any(r["status_code"] == 301 for r in oracle.redirects)
    assert any(r["status_code"] == 302 for r in oracle.redirects)
    assert any(e["status_code"] == 0 for e in oracle.errors)
    assert any(e["status_code"] == 404 for e in oracle.errors)
    assert "https://elsewhere.test/landing/" not in oracle.requested  # not followed

    result = _spark_crawl(spark, tmp_path, web, seed)
    _assert_equivalent(result, result.store, oracle)


@pytest.mark.slow
def test_spark_crawl_depth_cap(spark, tmp_path):
    web, seed = _rich_site()
    oracle = oracle_crawl(web, seed, depth_cap=1)
    result = _spark_crawl(spark, tmp_path, web, seed, depth_cap=1)
    _assert_equivalent(result, result.store, oracle)
    # /deep/ is at depth 2 — must be excluded
    assert "https://site.test/deep/" not in {
        r["url"] for r in result.store.read_all("pages").collect()
    }


@pytest.mark.slow
def test_spark_crawl_max_pages(spark, tmp_path):
    web, seed = _rich_site()
    oracle = oracle_crawl(web, seed, max_pages=4)
    result = _spark_crawl(spark, tmp_path, web, seed, max_pages=4)
    assert result.requested == 4
    _assert_equivalent(result, result.store, oracle)


@pytest.mark.parametrize("max_pages,cutoffs", [(4, 1), (9, 0), (20, 0)])
def test_max_pages_cutoff_only_where_budget_ends(
    spark, tmp_path, monkeypatch, max_pages, cutoffs
):
    """A page budget alone runs the ordered cutoff only in the
    superstep where it ends: the fan site's waves are 1, 5 and 3 URLs,
    so max_pages=4 cuts superstep 1, while 9 (the last wave fills the
    budget exactly) and 20 never cut. Either way the requested set and
    each superstep's requested counter equal the oracle's, whose BFS
    level is the superstep."""
    import collections

    from website_indexer_spark.plans import crawl as C

    web, seed = fan_site()
    oracle = oracle_crawl(web, seed, max_pages=max_pages)
    selects = []
    real = C.politeness_select

    def counting(*args, **kwargs):
        selects.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(C, "politeness_select", counting)
    result = _spark_crawl(spark, tmp_path, web, seed, max_pages=max_pages)
    assert len(selects) == cutoffs
    assert sorted(
        r["url"] for r in result.store.read_all("seen").collect()
    ) == sorted(oracle.requested)
    per_level = collections.Counter(depth for depth, _url in oracle.visit_order)
    assert [m["counters"]["requested"] for m in result.store.manifests()] == [
        per_level[d] for d in sorted(per_level)
    ]


@pytest.mark.slow
def test_spark_crawl_resume(spark, tmp_path):
    """Kill-and-resume: delete the last superstep's manifest, resume,
    and require the final state to equal an uninterrupted run."""
    web, seed = _rich_site()
    oracle = oracle_crawl(web, seed)

    result = _spark_crawl(spark, tmp_path, web, seed)
    store = result.store
    last = store.last_committed()
    assert last >= 1

    # simulate a crash after superstep last-1: drop the last manifest
    import os

    os.remove(store._manifest_path(last))
    resumed = run_crawl(
        spark,
        web_dict_to_df(spark, web),
        seed,
        str(tmp_path / "crawl"),
        resume=True,
    )
    _assert_equivalent(resumed, resumed.store, oracle)


@pytest.mark.slow
def test_spark_crawl_politeness_budget(spark, tmp_path):
    """With a per-host budget the crawl takes more supersteps but must
    reach the identical final state (ordering-internal change only)."""
    web, seed = _rich_site()
    oracle = oracle_crawl(web, seed)
    result = _spark_crawl(spark, tmp_path, web, seed, host_budget=2)
    assert result.supersteps > 2
    _assert_equivalent(result, result.store, oracle)


@pytest.mark.slow
def test_spark_crawl_bloom_path(spark, tmp_path):
    """Bloom prefilter on: exact same final state (bloom only skips
    definitely-unseen fast path; correctness must be unaffected)."""
    web, seed = _rich_site()
    oracle = oracle_crawl(web, seed)
    result = _spark_crawl(
        spark, tmp_path, web, seed, use_bloom=True, bloom_bits=1 << 16
    )
    _assert_equivalent(result, result.store, oracle)


@pytest.mark.slow
def test_spark_crawl_dimension_tables(spark, tmp_path):
    """A17 persistent form: the materialized dim_components/dim_links
    tables must equal the distinct key sets derivable from the pages
    table, and per-superstep deltas must be append-new-keys-only
    (disjoint across supersteps — the MERGE contract)."""
    web, seed = fan_site()
    result = _spark_crawl(spark, tmp_path, web, seed)
    store = result.store

    pages = store.read_all("pages").collect()
    expect_components = {c for r in pages for c in (r["components"] or [])}
    expect_links = {h for r in pages for h in (r["links"] or [])}
    assert expect_components and expect_links  # fixture exercises both

    dim_c = [r["class_name"] for r in store.read_all("dim_components").collect()]
    dim_l = [r["href"] for r in store.read_all("dim_links").collect()]
    assert set(dim_c) == expect_components
    assert set(dim_l) == expect_links
    # unique by construction: MERGE never re-appends an existing key
    assert len(dim_c) == len(set(dim_c))
    assert len(dim_l) == len(set(dim_l))

    # deltas are disjoint across supersteps (unified dims layout:
    # dims/superstep=K/kind=link)
    import os

    seen_keys = set()
    for k in range(store.last_committed() + 1):
        path = os.path.join(store.root, "dims", f"superstep={k}", "kind=link")
        delta = (
            {r["key"] for r in spark.read.parquet(path).collect()}
            if os.path.isdir(path)
            else set()
        )
        assert not (delta & seen_keys)
        seen_keys |= delta
        assert store.read_manifest(k)["counters"]["links_new"] == len(delta)

    # C10 off the dimension == C10 re-derived from pages
    from website_indexer_spark.plans.queries import (
        component_list,
        component_list_from_dim,
    )

    from_dim = [
        r["class_name"]
        for r in component_list_from_dim(store.read_all("dim_components")).collect()
    ]
    from_pages = [
        r["class_name"] for r in component_list(store.read_all("pages")).collect()
    ]
    assert from_dim == from_pages


def test_dim_upsert_delta_paths(spark):
    """Broadcast and shuffle formulations of the MERGE delta agree."""
    from website_indexer_spark.operators.dims import dim_upsert_delta

    existing = spark.createDataFrame([(k,) for k in "abc"], "key string")
    incoming = spark.createDataFrame(
        [(k,) for k in ["b", "c", "d", "d", "e", None]], "key string"
    )
    for bcast in (True, False):
        out = sorted(
            r["key"]
            for r in dim_upsert_delta(
                existing, incoming, "key", broadcast_incoming=bcast
            ).collect()
        )
        assert out == ["d", "e"]



def test_route_and_extract_resolves_out_links(spark):
    """The extraction pass resolves each row's frontier candidates
    (``ex.out_links``) so the harvest needs no Python: a page's links
    canonicalized in first-seen order, a redirect's Location resolved
    against the redirecting URL (off-host targets kept for the
    harvest's start-host filter), /external-site/ wrappers unwrapped,
    and NULL for error rows even when they carry a Location."""
    from pyspark.sql import functions as F

    from website_indexer_spark.plans.crawl import (
        route_and_extract,
        with_effective_status,
    )

    H = "https://site.test"
    wrapped = "/external-site/?ext_url=https%3A%2F%2Ffar.test%2Fz"
    page = (
        "<html><head><title>P</title></head><body>"
        '<a href="/c/">c</a> <a href="/a/#x">a</a> '
        f'<a href="{H}/a/">a again</a> '
        '<a href="https://SITE.test/external-site/?ext_url=https%3A%2F%2Ffar.test%2F">'
        "w</a></body></html>"
    ).encode()
    rows = [
        (f"{H}/p/", page, 200, None, "text/html"),
        (f"{H}/old", None, 301, "../new/", None),
        (f"{H}/away/", None, 302, "https://elsewhere.test/landing/", None),
        (f"{H}/wrap/", None, 302, wrapped, None),
        (f"{H}/gone/", None, 404, "/ignored/", None),
        (f"{H}/down/", None, None, None, None),
    ]
    fetched = spark.createDataFrame(
        rows,
        "url string, html binary, status_code int, location string, "
        "content_type string",
    ).withColumn("host", F.lit("site.test"))
    got = {
        r["url"]: (r["record_type"], r["out_links"])
        for r in route_and_extract(with_effective_status(fetched), "site.test")
        .select("url", "record_type", "ex.out_links")
        .collect()
    }
    assert got == {
        f"{H}/p/": (
            "page",
            [f"{H}/a/", f"{H}/c/", "https://far.test/"],
        ),
        f"{H}/old": ("redirect", [f"{H}/new/"]),
        f"{H}/away/": ("redirect", ["https://elsewhere.test/landing/"]),
        f"{H}/wrap/": ("redirect", ["https://far.test/z"]),
        f"{H}/gone/": ("error", None),
        f"{H}/down/": ("error", None),
    }


_QUIET_READ_SCRIPT = """
import sys
from tests.conftest import web_dict_to_df
from tests.test_crawl import _rich_site
from website_indexer_spark.plans.crawl import run_crawl
from website_indexer_spark.sources.tables import build_spark

spark = build_spark(master="local[2]", shuffle_partitions=2)
web, seed = _rich_site()
res = run_crawl(spark, web_dict_to_df(spark, web), seed, sys.argv[1])
print("supersteps", res.supersteps, "seen", res.store.read_all("seen").count())
spark.stop()
"""


@pytest.mark.slow
def test_crawl_stderr_has_no_metadata_probe_warning(tmp_path):
    """Committed superstep dirs are read by explicit path. A
    ``superstep=*`` glob read made Spark's streaming-sink metadata probe
    log a WARN with a Java stack trace on every read of the seen and
    dims tables. Runs in its own process so the JVM's stderr is
    captured."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _QUIET_READ_SCRIPT, str(tmp_path / "c")],
        cwd=repo,
        env={**os.environ, "PYTHONPATH": repo},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "supersteps 3" in proc.stdout, proc.stdout
    assert "Assume no metadata directory" not in proc.stderr


def test_build_spark_turns_dataframe_origin_capture_off(spark):
    """Sessions from build_spark skip PySpark's per-call DataFrame
    origin capture (a stack walk and JVM round trips on every
    F.*/DataFrame call)."""
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )


def test_small_wave_frontier_plan_has_one_exchange(spark, tmp_path):
    """A small wave's frontier delta, composed as run_crawl composes it
    below both thresholds: the harvest's url exchange goes straight to
    one partition, the seen history (committed rows plus the wave's
    keys) is broadcast into one LeftAnti, and the within-delta dedup
    and the numbering window need no further exchange."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from website_indexer_spark.operators.frontier import anti_join_seen
    from website_indexer_spark.operators.policy import CrawlPolicy
    from website_indexer_spark.plans import crawl as C
    from website_indexer_spark.sources.tables import FRONTIER_SCHEMA

    web, seed = _rich_site()
    fetched = web_dict_to_df(spark, web).select(
        "url", "warc_ts", "html", "status_code", "location", "content_type",
        F.lit("site.test").alias("host"), F.lit(0).alias("depth"),
        F.lit(0).cast("long").alias("discovery_seq"),
        F.lit(None).cast("string").alias("parent_url"),
    ).filter(F.col("url") == seed)
    extracted = C.route_and_extract(
        C.with_effective_status(fetched), "site.test"
    ).persist()
    try:
        spark.range(100).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        ).write.parquet(str(tmp_path / "seen"))
        history = spark.read.parquet(str(tmp_path / "seen")).unionByName(
            fetched.select(F.xxhash64("url").alias("url_hash"))
        )
        accepted = C.harvest_candidates(
            extracted, "site.test", CrawlPolicy(start_url=seed), None, 0,
            partitions=1,
        )
        accepted = anti_join_seen(accepted, history, None, small_seen=True)
        frontier = C.number_in_one_task(
            accepted.select(
                "url", "host", "depth", "parent_url", "parent_host",
                "fetch_method", "parent_seq",
            ),
            1,
        ).select(*FRONTIER_SCHEMA.fieldNames())
        buf = io.StringIO()
        with redirect_stdout(buf):
            frontier.explain()
        plan = buf.getvalue()
        assert plan.count("- Exchange ") == 1, plan
        assert "LeftAnti, BuildRight" in plan and "BroadcastExchange" in plan
        assert "LeftSemi" not in plan, plan
        urls = [r["url"] for r in frontier.orderBy("discovery_seq").collect()]
        assert len(urls) == len(set(urls)) > 0
    finally:
        extracted.unpersist()


def _physical_plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_seed_frontier_is_jvm_local(spark):
    """The seed wave is a LocalTableScan, not a Python RDD (``Scan
    ExistingRDD``) whose every evaluation runs Python tasks; its one
    row, column names, types and nullability are the frontier's."""
    from website_indexer_spark.plans.crawl import _seed_frontier
    from website_indexer_spark.sources.tables import FRONTIER_SCHEMA

    seed = _seed_frontier(spark, "https://site.test/b/", "site.test")
    plan = _physical_plan(seed)
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
    assert seed.schema == FRONTIER_SCHEMA
    assert [tuple(r) for r in seed.collect()] == [
        ("https://site.test/b/", "site.test", 0, 0,
         "https://site.test/b/", "site.test", "GET")
    ]


@pytest.mark.parametrize("table", ["seen", "dims"])
def test_empty_store_tables_are_jvm_local(spark, tmp_path, table):
    """A store with no committed superstep reads its seen and dims
    tables as empty LocalTableScans with the tables' schemas; superstep
    0 evaluates both."""
    from website_indexer_spark.sources.tables import (
        DIMS_SCHEMA,
        SEEN_SCHEMA,
        CrawlStore,
    )

    df = CrawlStore(spark, str(tmp_path / "s")).read_all(table)
    plan = _physical_plan(df)
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
    assert df.schema == {"seen": SEEN_SCHEMA, "dims": DIMS_SCHEMA}[table]
    assert df.collect() == []
