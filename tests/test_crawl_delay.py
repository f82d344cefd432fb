"""robots Crawl-delay → per-host politeness budgets
(policy.parse_crawl_delay / crawl_delay_budgets) and the per-host
override path of frontier.politeness_select."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from website_indexer_spark.operators.frontier import politeness_select
from website_indexer_spark.operators.policy import (
    crawl_delay_budgets,
    parse_crawl_delay,
)


def test_parse_crawl_delay_grammar():
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: 2") == 2.0
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: 0.5") == 0.5
    assert parse_crawl_delay("User-agent: a\nCrawl-delay: 2", "b") is None
    # agent-prefix match, like the Disallow walk
    assert parse_crawl_delay("User-agent: bot\nCrawl-delay: 3", "bot-v2") == 3.0
    # unparseable / negative ignored
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: soon") is None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: -1") is None
    # max across applying groups; non-applying groups ignored
    body = (
        "User-agent: *\nCrawl-delay: 1\n\n"
        "User-agent: me\nCrawl-delay: 10\n\n"
        "User-agent: other\nCrawl-delay: 99\n"
    )
    assert parse_crawl_delay(body, "me") == 10.0
    # Sitemap lines do not split the group (RFC 9309 §2.2.4 walk)
    assert (
        parse_crawl_delay(
            "User-agent: *\nCrawl-delay: 1\nSitemap: s.xml\nCrawl-delay: 4"
        )
        == 4.0
    )
    assert parse_crawl_delay(None) is None


def _frontier(spark, per_host):
    rows = []
    seq = 0
    for host, n in per_host.items():
        for i in range(n):
            rows.append((f"https://{host}/p{i}", host, 1, seq))
            seq += 1
    return spark.createDataFrame(
        rows, ["url", "host", "depth", "discovery_seq"]
    )


def test_budgets_table_from_bodies(spark):
    bodies = spark.createDataFrame(
        [
            ("slow.test", "User-agent: *\nCrawl-delay: 10"),
            ("fast.test", "User-agent: *\nCrawl-delay: 0.1"),
            ("none.test", "User-agent: *\nDisallow: /x"),
            ("huge.test", "User-agent: *\nCrawl-delay: 9999"),
        ],
        ["host", "body"],
    )
    got = {
        r["host"]: r["budget"]
        for r in crawl_delay_budgets(bodies, superstep_seconds=30).collect()
    }
    # floor(30/10)=3, floor(30/0.1)=300, min_budget floor at 1
    assert got == {"slow.test": 3, "fast.test": 300, "huge.test": 1}


@pytest.mark.parametrize("salt_buckets", [1, 4])
def test_per_host_override_tightens_and_loosens(spark, salt_buckets):
    fr = _frontier(spark, {"a.test": 10, "b.test": 10, "c.test": 10})
    budgets = spark.createDataFrame(
        [("a.test", 2), ("b.test", 8)], ["host", "budget"]
    )
    selected, deferred = politeness_select(
        fr, host_budget=5, salt_buckets=salt_buckets, budgets=budgets
    )
    sel = {
        h: n
        for h, n in selected.groupBy("host").count().collect()
    }
    assert sel == {"a.test": 2, "b.test": 8, "c.test": 5}
    assert selected.count() + deferred.count() == 30
    assert set(selected.columns) == set(fr.columns)
    # BFS order preserved: selected rows are each host's lowest seqs
    a_seqs = [
        r["discovery_seq"]
        for r in selected.filter(F.col("host") == "a.test").collect()
    ]
    a_all = sorted(
        r["discovery_seq"]
        for r in fr.filter(F.col("host") == "a.test").collect()
    )
    assert sorted(a_seqs) == a_all[:2]


def test_overrides_only_no_global_budget(spark):
    fr = _frontier(spark, {"a.test": 6, "b.test": 6})
    budgets = spark.createDataFrame([("a.test", 1)], ["host", "budget"])
    selected, deferred = politeness_select(
        fr, host_budget=None, budgets=budgets
    )
    sel = {h: n for h, n in selected.groupBy("host").count().collect()}
    assert sel == {"a.test": 1, "b.test": 6}  # b unthrottled
    assert deferred.count() == 5


def test_no_budget_selects_whole_frontier_defers_none(spark):
    # a page-budget-only crawl selects through this path: nothing is
    # deferred, so the crawl adds no empty deferred side
    fr = _frontier(spark, {"a.test": 3, "b.test": 2})
    selected, deferred = politeness_select(fr, host_budget=None)
    assert deferred is None
    assert sorted(map(tuple, selected.collect())) == sorted(
        map(tuple, fr.collect())
    )


def test_budget_join_is_broadcast(spark):
    fr = _frontier(spark, {"a.test": 4})
    budgets = spark.createDataFrame([("a.test", 2)], ["host", "budget"])
    selected, _ = politeness_select(fr, host_budget=3, budgets=budgets)
    p = selected._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # the frontier never re-exchanges


def test_equivalent_to_global_when_no_overrides_apply(spark):
    fr = _frontier(spark, {"a.test": 7, "b.test": 3})
    budgets = spark.createDataFrame(
        [("zz.other", 1)], ["host", "budget"]
    )
    with_b, _ = politeness_select(fr, host_budget=4, budgets=budgets)
    plain, _ = politeness_select(fr, host_budget=4)
    assert sorted(map(tuple, with_b.collect())) == sorted(
        map(tuple, plain.collect())
    )


@pytest.mark.slow
def test_crawl_with_robots_budgets_end_to_end(spark, tmp_path):
    """run_crawl(host_budgets=...): a Crawl-delay-derived per-host
    budget equal to a global budget on a single-host site must
    produce the identical final state AND the identical superstep
    count as host_budget — the wiring changes only which budget each
    host gets."""
    from tests.oracle_crawler import crawl as oracle_crawl
    from tests.test_crawl import (
        _assert_equivalent,
        _rich_site,
        _spark_crawl,
    )
    from website_indexer_spark.functions.urltools import hostname_with_port

    web, seed = _rich_site()
    oracle = oracle_crawl(web, seed)
    host = hostname_with_port(seed)
    bodies = spark.createDataFrame(
        [(host, "User-agent: *\nCrawl-delay: 15")], ["host", "body"]
    )
    budgets = crawl_delay_budgets(bodies, superstep_seconds=30)  # -> 2
    assert budgets.collect()[0]["budget"] == 2

    via_budgets = _spark_crawl(
        spark, tmp_path, web, seed, host_budgets=budgets
    )
    assert via_budgets.supersteps > 2
    _assert_equivalent(via_budgets, via_budgets.store, oracle)


@pytest.mark.slow
def test_crawl_budgets_bucketed_path_parity(spark, tmp_path, monkeypatch):
    """Overrides ride the bucketed point-read selection too: with the
    bucketed threshold forced on, a crawl whose override (2) is
    TIGHTER than its global budget (3) must land the same state and
    the same superstep count as the window path — if the bucketed
    path ignored the override it would run at 3/host and finish in
    fewer supersteps."""
    from tests.conftest import web_dict_to_df
    from tests.oracle_crawler import crawl as oracle_crawl
    from tests.test_crawl import _assert_equivalent, _rich_site
    from website_indexer_spark.functions.urltools import hostname_with_port
    from website_indexer_spark.plans import crawl as C

    web, seed = _rich_site()
    oracle = oracle_crawl(web, seed)
    host = hostname_with_port(seed)
    budgets = spark.createDataFrame([(host, 2)], ["host", "budget"])
    web_df = web_dict_to_df(spark, web)
    window = C.run_crawl(
        spark, web_df, seed, str(tmp_path / "win"),
        host_budget=3, host_budgets=budgets,
    )
    monkeypatch.setattr(C, "FRONTIER_SELECT_BUCKETED_MIN", 0)
    bucketed = C.run_crawl(
        spark, web_df, seed, str(tmp_path / "bkt"),
        host_budget=3, host_budgets=budgets, frontier_buckets=4,
    )
    _assert_equivalent(bucketed, bucketed.store, oracle)
    assert bucketed.supersteps == window.supersteps


@pytest.mark.slow
@pytest.mark.parametrize("override", [2, None])
def test_crawl_overrides_only_bucketed_path_parity(
    spark, tmp_path, monkeypatch, override
):
    """``host_budgets`` without ``host_budget`` arms the bucketed
    selection and selects what the window path selects, superstep by
    superstep: with an override on the crawled host (2) and with one
    only on another host in the same bucket, where the crawled host
    is unlimited."""
    from tests.conftest import web_dict_to_df
    from tests.oracle_crawler import crawl as oracle_crawl
    from tests.test_crawl import _assert_equivalent, _rich_site
    from website_indexer_spark.functions.urltools import hostname_with_port
    from website_indexer_spark.plans import crawl as C

    web, seed = _rich_site()
    host = hostname_with_port(seed)
    rows = [("other.test", 1)] + ([(host, override)] if override else [])
    budgets = spark.createDataFrame(rows, ["host", "budget"])
    web_df = web_dict_to_df(spark, web)

    def requested(store):
        seen = spark.read.parquet(os.path.join(store.root, "seen"))
        return sorted((r["superstep"], r["url"]) for r in seen.collect())

    window = C.run_crawl(
        spark, web_df, seed, str(tmp_path / "win"), host_budgets=budgets
    )
    calls = []
    real = C.politeness_select_bucketed
    monkeypatch.setattr(
        C, "politeness_select_bucketed",
        lambda *a, **kw: calls.append(a[2]) or real(*a, **kw),
    )
    monkeypatch.setattr(C, "FRONTIER_SELECT_BUCKETED_MIN", 0)
    bucketed = C.run_crawl(
        spark, web_df, seed, str(tmp_path / "bkt"),
        host_budgets=budgets, frontier_buckets=1,
    )
    assert calls and set(calls) == {None}  # armed, with no global budget
    _assert_equivalent(bucketed, bucketed.store, oracle_crawl(web, seed))
    assert requested(bucketed.store) == requested(window.store)
    assert bucketed.supersteps == window.supersteps


@pytest.mark.slow
def test_resume_without_frontier_buckets_keeps_overrides(
    spark, tmp_path, monkeypatch
):
    """A crawl interrupted on the bucketed selection path, resumed
    with ``host_budgets`` but no ``frontier_buckets``, must still apply
    the Crawl-delay override (2, tighter than the global 3): the same
    per-superstep request counts as an uninterrupted crawl. The resume
    must not take the restored host-bucketed snapshot into the
    bucketed selection, whose override table only exists when
    ``frontier_buckets`` is set."""
    from tests.conftest import web_dict_to_df
    from tests.oracle_crawler import crawl as oracle_crawl
    from tests.test_crawl import _assert_equivalent, _rich_site
    from website_indexer_spark.functions.urltools import hostname_with_port
    from website_indexer_spark.plans import crawl as C

    web, seed = _rich_site()
    oracle = oracle_crawl(web, seed)
    host = hostname_with_port(seed)
    budgets = spark.createDataFrame([(host, 2)], ["host", "budget"])
    web_df = web_dict_to_df(spark, web)
    whole = C.run_crawl(
        spark, web_df, seed, str(tmp_path / "whole"),
        host_budget=3, host_budgets=budgets,
    )
    monkeypatch.setattr(C, "FRONTIER_SELECT_BUCKETED_MIN", 0)
    out = str(tmp_path / "resumed")
    C.run_crawl(
        spark, web_df, seed, out,
        host_budget=3, host_budgets=budgets, frontier_buckets=4,
        max_supersteps=2,
    )
    resumed = C.run_crawl(
        spark, web_df, seed, out,
        host_budget=3, host_budgets=budgets, resume=True,
    )
    _assert_equivalent(resumed, resumed.store, oracle)

    def requested(store):
        return [m["counters"]["requested"] for m in store.manifests()]

    assert requested(resumed.store) == requested(whole.store)
    assert resumed.supersteps == whole.supersteps
