"""Round-2 scale-path tests (VERDICT r1 next-round items 1-4):

* discovery_seq switch keyed on the ACCEPTED delta (small frontier +
  huge fan-out forces the distributed enumeration; state identical)
* persistent StripedBloom: auto-sizing, incremental updates, mid-crawl
  capacity rebuild, auto-enable threshold — final state exact
* crawl failure lifecycle: mid-crawl crash records status=Failed +
  failure_message (reference crawler/wpull/crawler.py:16-25,
  models.py:49-52), run is resumable, manage clean buckets it as
  Failed (manage_crawls.py:33-69)
* frontier operator units: StripedBloom no-false-negatives across
  incremental deltas + reloads, exclude_keys == left_anti
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import web_dict_to_df
from tests.oracle_crawler import WebResponse, crawl as oracle_crawl, fan_site
from website_indexer_spark.operators import frontier as FR
from website_indexer_spark.plans import crawl as C
from website_indexer_spark.plans import manage
from website_indexer_spark.sources.tables import CrawlStore


# ---------------------------------------------------------------- units


def test_exclude_keys_matches_left_anti(spark):
    df = spark.range(0, 100).select((F.col("id") * 3).alias("k"))
    ex = spark.range(0, 150).select((F.col("id") * 2).alias("k"))
    want = sorted(r["k"] for r in df.join(ex, "k", "left_anti").collect())
    got = sorted(r["k"] for r in FR.exclude_keys(df, ex, "k").collect())
    assert got == want
    got2 = sorted(
        r["k"] for r in FR.exclude_keys(df, ex, "k", broadcast_df=False).collect()
    )
    assert got2 == want


def test_striped_bloom_incremental_no_false_negatives(spark, tmp_path):
    root = str(tmp_path)
    bloom = FR.StripedBloom.create(root, expected_keys=1000)
    d1 = spark.range(0, 500).select(F.xxhash64("id").alias("url_hash"))
    bloom.update(d1)
    assert bloom.built_keys == 500 and bloom.version == 1

    # persistence: reload from disk sees the same generation
    bloom2 = FR.StripedBloom.load(root)
    assert bloom2.version == 1 and bloom2.bucket_bits == bloom.bucket_bits
    maybe = bloom2.probe_udf()
    assert d1.filter(~maybe(F.col("url_hash"))).count() == 0  # no FNs

    # incremental delta ORs in without touching the first generation
    d2 = spark.range(1000, 1500).select(F.xxhash64("id").alias("url_hash"))
    bloom2.update(d2)
    assert bloom2.built_keys == 1000 and bloom2.version == 2
    bloom3 = FR.StripedBloom.load(root)
    maybe3 = bloom3.probe_udf()
    both = d1.unionByName(d2)
    assert both.filter(~maybe3(F.col("url_hash"))).count() == 0

    # false-positive rate stays bloom-shaped (~1% at 10 bits/key)
    others = spark.range(10_000, 20_000).select(F.xxhash64("id").alias("url_hash"))
    fp = others.filter(maybe3(F.col("url_hash"))).count()
    assert fp < 500, fp


def test_bloom_rebuild_never_reuses_cached_generation(spark, tmp_path):
    """A probe worker caches bitmaps per (bloom dir, version). A rebuild
    at 4x must not restart the version count, or a worker that probed
    the old generation at version v reuses its smaller bitmaps once the
    new generation reaches v (an out-of-bounds index, or false
    negatives). The probe runs in-process so this process is that
    worker."""
    import numpy as np
    import pandas as pd

    FR._BLOOM_CACHE.clear()
    out = str(tmp_path)
    keys = spark.range(0, 3000).select(F.xxhash64("id").alias("url_hash"))
    hashes = pd.Series(
        [r["url_hash"] for r in keys.collect()], dtype=np.int64
    )
    first = keys.limit(100)

    b1 = C.maintain_bloom(out, None, first, first, 100, 100, use_bloom=True)
    assert b1.bucket_bits == FR.BLOOM_MIN_BUCKET_BITS
    b1.probe_udf().func(hashes)  # caches the first generation

    # 10,000 requested URLs exceed the first generation's capacity
    b2 = C.maintain_bloom(out, b1, keys, keys, 10_000, 2900, use_bloom=True)
    assert b2.bucket_bits > b1.bucket_bits
    assert b2.probe_udf().func(hashes).all()  # no false negatives
    assert b2.version > b1.version


# ------------------------------------------------- fan-out-forced seq path


def _fanout_site(n_children: int = 60):
    H = "f.test"
    links = "".join(f'<a href="/c{i}/">c{i}</a> ' for i in range(n_children))
    mk = lambda body, title: (  # noqa: E731
        f'<html lang="en"><head><title>{title}</title></head>'
        f"<body>{body}</body></html>"
    ).encode()
    web = {f"https://{H}/": WebResponse(html=mk(links, "Home"))}
    for i in range(n_children):
        web[f"https://{H}/c{i}/"] = WebResponse(html=mk(f"child {i} text", f"C{i}"))
    return web, f"https://{H}/"


@pytest.mark.slow
def test_distributed_seq_forced_by_fanout(spark, tmp_path, monkeypatch):
    """VERDICT r1 #1: a 1-row frontier with 60-link fan-out must take
    the distributed enumeration when the threshold sits between the
    frontier size and the accepted-delta size — and produce the exact
    numbering of the single-task window path."""
    web, seed = _fanout_site(60)
    baseline = C.run_crawl(
        spark, web_dict_to_df(spark, web), seed, str(tmp_path / "small")
    )
    want = sorted(
        (r["url"], r["depth"], r["discovery_seq"])
        for r in baseline.store.read_all("pages").collect()
    )

    # frontier_count=1 < 50 (the old, wrong switch key would stay on
    # the single-task window); est_accepted = 1 * SEQ_FANOUT_ESTIMATE
    # = 64 > 50 forces the distributed path on the 60-row delta
    monkeypatch.setattr(C, "DISTRIBUTED_SEQ_THRESHOLD", 50)
    forced = C.run_crawl(
        spark, web_dict_to_df(spark, web), seed, str(tmp_path / "big")
    )
    got = sorted(
        (r["url"], r["depth"], r["discovery_seq"])
        for r in forced.store.read_all("pages").collect()
    )
    assert got == want
    assert forced.pages == 61 and forced.requested == 61


# --------------------------------------------------- bloom auto lifecycle


@pytest.mark.slow
def test_bloom_auto_sizing_and_rebuild(spark, tmp_path, monkeypatch):
    """Auto mode: the filter turns itself on past the seen threshold,
    sizes from the cumulative seen count, rebuilds when capacity is
    exceeded mid-crawl — and the crawl state stays exactly oracle."""
    from website_indexer_spark.sources.synth import generate_web_pages

    web_df = generate_web_pages(spark, n_pages=200, n_hosts=4, partitions=4)
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

    # auto-on from the first superstep; tiny initial buckets so the
    # capacity check (requested > capacity) trips and forces a
    # mid-crawl resize+rebuild
    monkeypatch.setattr(C, "BLOOM_AUTO_SEEN_THRESHOLD", 0)
    monkeypatch.setattr(FR, "BLOOM_MIN_BUCKET_BITS", 64)
    out = str(tmp_path / "c")
    result = C.run_crawl(spark, web_df, seed, out, use_bloom=None)

    pages = {r["url"] for r in result.store.read_all("pages").collect()}
    seen = {r["url"] for r in result.store.read_all("seen").collect()}
    assert pages == set(oracle.pages)
    assert seen == set(oracle.requested)

    bloom = FR.StripedBloom.load(os.path.join(out, "bloom"))
    assert bloom is not None
    assert bloom.built_keys == result.requested  # sized from seen count
    assert bloom.capacity_keys >= result.requested  # resized past 51-key cap
    assert bloom.bucket_bits > 64  # the rebuild actually regrew buckets
    assert bloom.version >= 2  # incremental updates, not one batch


# ------------------------------------------------------ failure lifecycle


@pytest.mark.slow
def test_crawl_failure_lifecycle_and_resume(spark, tmp_path, monkeypatch):
    """Mid-crawl crash: crawl.json gets status=Failed + the traceback
    (reference fail() parity), manage clean buckets it under Failed,
    and --resume completes the run from the last committed superstep."""
    web, seed = fan_site()
    oracle = oracle_crawl(web, seed)
    crawls_root = tmp_path / "crawls"
    crawls_root.mkdir()
    out = crawls_root / "c1"

    orig = CrawlStore.write_delta

    def boom(self, name, df, superstep, partition_by=None):
        if name == "routed" and superstep >= 1:
            raise RuntimeError("injected mid-crawl failure")
        return orig(self, name, df, superstep, partition_by=partition_by)

    monkeypatch.setattr(CrawlStore, "write_delta", boom)
    with pytest.raises(RuntimeError, match="injected mid-crawl failure"):
        C.run_crawl(spark, web_dict_to_df(spark, web), seed, str(out))

    rec = json.loads((out / "crawl.json").read_text())
    assert rec["status"] == "Failed"
    assert "injected mid-crawl failure" in rec["failure_message"]
    assert rec["supersteps"] == 1  # superstep 0 committed before the crash

    # D3: the failed run sits in the Failed retention bucket — an
    # older Failed run beyond keep=1 is cleaned, this one retained
    older = crawls_root / "c0"
    older.mkdir()
    (older / "crawl.json").write_text(
        json.dumps({"status": "Failed", "started": "2000-01-01T00:00:00Z"})
    )
    rec["started"] = rec.get("started", "2026-01-01T00:00:00Z")
    (out / "crawl.json").write_text(json.dumps(rec))
    gone = manage.clean_crawls(str(crawls_root), keep=1)
    assert gone == ["c0"] and out.exists()

    # resume from the last committed superstep completes the crawl
    monkeypatch.setattr(CrawlStore, "write_delta", orig)
    result = C.run_crawl(
        spark, web_dict_to_df(spark, web), seed, str(out), resume=True
    )
    pages = {r["url"] for r in result.store.read_all("pages").collect()}
    seen = {r["url"] for r in result.store.read_all("seen").collect()}
    assert pages == set(oracle.pages)
    assert seen == set(oracle.requested)
    rec = json.loads((out / "crawl.json").read_text())
    assert rec["status"] == "Finished"
    assert "failure_message" in rec  # history preserved, status superseded


@pytest.mark.slow
def test_dims_huge_wave_and_big_history_paths(spark, tmp_path, monkeypatch):
    """Force the dims MERGE's scale strategies — shuffled anti-join
    (huge-wave fallback) and streams-map-side (big history) — and
    require the dimension tables to come out identical to the
    default broadcast-history path."""
    web, seed = _fanout_site(40)

    def dims_of(out):
        r = C.run_crawl(spark, web_dict_to_df(spark, web), seed, str(out))
        return (
            sorted(x["class_name"] for x in r.store.read_all("dim_components").collect()),
            sorted(x["href"] for x in r.store.read_all("dim_links").collect()),
        )

    want = dims_of(tmp_path / "default")
    assert want[1]  # links dimension non-trivial

    # huge-wave fallback: est_accepted > fetch threshold => shuffled
    monkeypatch.setattr(C, "BROADCAST_FETCH_THRESHOLD", 10)
    got_shuffled = dims_of(tmp_path / "shuffled")
    monkeypatch.undo()

    # big history: dims and seen history above a 0-row threshold =>
    # both stream map-side (exclude_keys) from the second superstep on
    monkeypatch.setattr(C, "HISTORY_BROADCAST_THRESHOLD", 0)
    got_streamed = dims_of(tmp_path / "streamed")

    assert got_shuffled == want
    assert got_streamed == want


# ------------------------------------------------- frontier_prioritize


def _prio_frontier(spark):
    rows = [
        # url, depth, discovery_seq
        ("http://h.test/a", 0, 1),
        ("http://h.test/b", 1, 2),
        ("http://h.test/c", 1, 3),
        ("http://h.test/d", 2, 4),
        ("http://h.test/e", 0, 5),
    ]
    return spark.createDataFrame(
        rows, "url string, depth int, discovery_seq long"
    )


def test_frontier_prioritize_semantics(spark):
    scores = spark.createDataFrame(
        [
            ("http://h.test/d", 0.9),
            ("http://h.test/b", 0.5),
            ("http://h.test/c", 0.5),  # tie with b -> BFS order wins
            # a and e unscored -> default 0.0, BFS order between them
        ],
        "url string, score double",
    )
    got = [
        r.url
        for r in FR.frontier_prioritize(
            _prio_frontier(spark), scores, k=4
        ).collect()
    ]
    assert got == [
        "http://h.test/d",  # 0.9
        "http://h.test/b",  # 0.5, depth 1 seq 2
        "http://h.test/c",  # 0.5, depth 1 seq 3
        "http://h.test/a",  # 0.0, depth 0 seq 1 beats e (seq 5)
    ]


def test_frontier_prioritize_default_score_and_k(spark):
    empty_scores = spark.createDataFrame([], "url string, score double")
    got = [
        r.url
        for r in FR.frontier_prioritize(
            _prio_frontier(spark), empty_scores, k=2, default_score=1.0
        ).collect()
    ]
    # all-equal scores -> pure BFS (depth, seq) order
    assert got == ["http://h.test/a", "http://h.test/e"]


def test_frontier_prioritize_plan_is_take_ordered(spark):
    scores = spark.createDataFrame(
        [("http://h.test/d", 0.9)], "url string, score double"
    )
    plan = (
        FR.frontier_prioritize(_prio_frontier(spark), scores, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # global top-k must be TakeOrderedAndProject (map-side heaps),
    # never a global Sort + Limit
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
