"""The closed crawl→index→schedule→invalidate→re-fetch loop
(operators/recrawl.py): with the Bloom prefilter forced on,
scheduling a recrawl removes the chosen URLs from the committed seen
table (bucket-pruned rewrite, crash-safe staged swap), the persisted
Bloom is left as it is, and a resumed crawl with the reseeded
frontier refetches exactly those URLs."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.test_crawl import _rich_site, _spark_crawl
from website_indexer_spark.operators.frontier import StripedBloom
from website_indexer_spark.operators.recrawl import (
    recrawl_invalidate,
    recrawl_seed_frontier,
)
from website_indexer_spark.plans.crawl import run_crawl
from website_indexer_spark.sources.cdx import cdx_change_rate, recrawl_topk
from website_indexer_spark.sources.tables import CrawlStore


def _capture_index(spark, urls, changed):
    """Two captures per URL (m = 1 revisit interval); URLs in
    ``changed`` flip their digest between captures (X = 1 → positive
    change rate), the rest stay identical (X = 0 → rate 0)."""
    import hashlib

    rows = []
    for u in urls:
        surt = u.lower()
        d0 = "sha1:" + hashlib.md5(u.encode()).hexdigest()[:8]
        d1 = d0 + "x" if u in changed else d0
        rows.append((surt, "20240101000000", u, d0))
        rows.append((surt, "20240201000000", u, d1))
    return spark.createDataFrame(rows, ["surt", "ts14", "url", "digest"])


@pytest.mark.slow
def test_crawl_index_recrawl_refetch_bloom(spark, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    web, seed = _rich_site()
    result = _spark_crawl(spark, tmp_path, web, seed, use_bloom=True)
    store = result.store
    root = str(tmp_path / "crawl")

    page_urls = sorted(
        r["url"] for r in store.read_all("pages").select("url").collect()
    )
    assert len(page_urls) >= 4
    scheduled = set(page_urls[1:3])  # two non-seed pages

    # index the capture history; only the scheduled pair changed
    rates = cdx_change_rate(
        _capture_index(spark, page_urls, scheduled),
        now_epoch=1_720_000_000,
    )
    topk = recrawl_topk(rates, 2)
    assert {r["url"] for r in topk.collect()} == scheduled

    bloom0 = StripedBloom.load(os.path.join(root, "bloom"))
    assert bloom0 is not None
    shape0 = (bloom0.n_buckets, bloom0.bucket_bits)
    seen_before = {r["url"] for r in store.read_all("seen").collect()}

    stats = recrawl_invalidate(spark, store, topk)
    assert set(stats) == {"keys", "buckets_rewritten", "seen_removed"}
    assert stats["keys"] == 2
    assert stats["seen_removed"] == 2
    assert stats["buckets_rewritten"] >= 1

    # committed seen set: exactly the scheduled URLs pruned
    seen_after = {r["url"] for r in store.read_all("seen").collect()}
    assert seen_after == seen_before - scheduled

    # re-fetch: resumed crawl with the reseeded frontier requests
    # EXACTLY the scheduled URLs again (their links are all seen)
    reseed = recrawl_seed_frontier(topk)
    res2 = run_crawl(
        spark,
        _web_df(spark, web),
        seed,
        root,
        resume=True,
        extra_frontier=reseed,
        use_bloom=True,
    )
    assert res2.requested == result.requested + 2
    seen_final = {r["url"] for r in store.read_all("seen").collect()}
    assert seen_final == seen_before

    # the refetch produced fresh page rows for the scheduled URLs
    # (routed is append-only lineage: one row per fetch)
    counts = {
        r["url"]: r["n"]
        for r in store.read_all("pages")
        .groupBy("url")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for u in page_urls:
        assert counts[u] == (2 if u in scheduled else 1), u

    # the resumed crawl merged into the persisted Bloom — same shape,
    # newer version — rather than rebuilding it
    bloom1 = StripedBloom.load(os.path.join(root, "bloom"))
    assert (bloom1.n_buckets, bloom1.bucket_bits) == shape0
    assert bloom1.version > bloom0.version


def _seen_rows(spark, root):
    return sorted(
        (r["url_hash"], r["url"])
        for r in CrawlStore(spark, root).read_all("seen").collect()
    )


@pytest.mark.slow
def test_recrawl_invalidate_crash_mid_swap_recovers(
    spark, tmp_path, monkeypatch
):
    """A crash between the swap renames (os.rename raising on its 2nd
    call) leaves a staged swap behind; re-running the invalidation, or
    reopening the store for resume (rollback_uncommitted), finishes it
    and lands the seen set of an uninterrupted invalidation."""
    web, seed = _rich_site()
    result = _spark_crawl(spark, tmp_path, web, seed)
    base = str(tmp_path / "crawl")
    page_urls = sorted(
        r["url"]
        for r in result.store.read_all("pages").select("url").collect()
    )
    topk = spark.createDataFrame([(u,) for u in page_urls[1:]], ["url"])

    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    stats = recrawl_invalidate(spark, CrawlStore(spark, clean), topk)
    assert stats["buckets_rewritten"] >= 2  # a 2nd rename exists
    expected = _seen_rows(spark, clean)
    assert len(expected) == len(_seen_rows(spark, base)) - len(page_urls[1:])

    real_rename = os.rename
    calls = []

    def crash_on_second(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("injected crash")
        return real_rename(src, dst)

    for mode in ("rerun", "resume"):
        root = str(tmp_path / mode)
        shutil.copytree(base, root)
        store = CrawlStore(spark, root)
        with monkeypatch.context() as m:
            m.setattr(os, "rename", crash_on_second)
            with pytest.raises(OSError, match="injected crash"):
                recrawl_invalidate(spark, store, topk)
        calls.clear()
        swap = os.path.join(root, "seen", ".swap")
        assert os.path.exists(os.path.join(swap, "_SWAP.json"))

        if mode == "rerun":
            again = recrawl_invalidate(spark, store, topk)
            assert again["seen_removed"] == 0
        else:
            CrawlStore(spark, root).rollback_uncommitted()
        assert not os.path.exists(swap)
        assert _seen_rows(spark, root) == expected, mode


def _web_df(spark, web):
    from tests.conftest import web_dict_to_df

    return web_dict_to_df(spark, web)
