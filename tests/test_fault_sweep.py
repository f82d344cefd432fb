"""Fault-injection sweep over the store's on-disk rewrites.

``os.rename``, ``os.replace`` and ``shutil.rmtree`` are made to raise on
their n-th call under the store being rewritten, for every n that the
uninterrupted operation reaches: compaction, rebucket, recrawl
invalidation, a resumed crawl superstep whose Bloom prefilter
outgrows its capacity and is rebuilt, and a resumed superstep whose
history crosses HISTORY_BROADCAST_THRESHOLD and grows the seen/dims
layout. After each crash the store goes
back through its writer entry point and the result must equal the
uninterrupted run's. Each sweep asserts that it found injection points,
so it cannot pass vacuously. The crash cases of one sweep run three at
a time, each on its own copy of the store."""

from __future__ import annotations

import json
import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from tests.conftest import web_dict_to_df
from tests.oracle_crawler import crawl as oracle_crawl, fan_site
from website_indexer_spark.operators import frontier as FR
from website_indexer_spark.operators.recrawl import recrawl_invalidate
from website_indexer_spark.plans import crawl as C
from website_indexer_spark.plans.crawl import run_crawl
from website_indexer_spark.sources.tables import (
    DIMS_BUCKETS,
    ROUTED_SCHEMA,
    SEEN_BUCKETS,
    CrawlStore,
)


class InjectedCrash(Exception):
    pass


class Faults:
    """Patches os.rename / os.replace / shutil.rmtree for one test. A
    call on a path under a watched store root is recorded for that
    root, and the root's ``crash_at``-th call raises InjectedCrash
    instead of running; calls anywhere else pass through."""

    def __init__(self, monkeypatch):
        self.watched = {}
        self.lock = threading.Lock()  # sweep cases watch roots in threads
        monkeypatch.setattr(os, "rename", self._wrap(os.rename))
        monkeypatch.setattr(os, "replace", self._wrap(os.replace))
        monkeypatch.setattr(shutil, "rmtree", self._wrap(shutil.rmtree))

    def _wrap(self, real):
        def injected(path, *args, **kwargs):
            p = os.fspath(path)
            with self.lock:
                watched = list(self.watched.items())
            for root, (calls, crash_at) in watched:
                if p == root or p.startswith(root + os.sep):
                    calls.append(f"{real.__name__} {os.path.relpath(p, root)}")
                    if len(calls) == crash_at:
                        raise InjectedCrash(calls[-1])
            return real(path, *args, **kwargs)

        return injected

    @contextmanager
    def watch(self, root, crash_at=None):
        calls = []
        with self.lock:
            self.watched[root] = (calls, crash_at)
        try:
            yield calls
        finally:
            with self.lock:
                del self.watched[root]


@pytest.fixture
def faults(monkeypatch):
    return Faults(monkeypatch)


def _sweep(tmp_path, base, calls, case):
    """Run ``case(root, n, call)`` on a fresh copy of ``base`` for every
    injection point."""
    assert calls, "the operation made no rename/replace/rmtree call"

    def one(item):
        n, call = item
        root = str(tmp_path / f"crash{n}")
        shutil.copytree(base, root)
        case(root, n, call)
        shutil.rmtree(root)

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(one, enumerate(calls, start=1)))


@pytest.fixture(scope="module")
def site(spark, tmp_path_factory):
    """The fan site crawled for two supersteps with the Bloom forced on
    and sized from an 8-bit-per-bucket floor: every delta table has two
    superstep dirs (compaction drops one and replaces the other), and
    the third superstep outgrows the Bloom."""
    web, seed = fan_site()
    web_df = web_dict_to_df(spark, web)
    base = str(tmp_path_factory.mktemp("sweep") / "base")
    with pytest.MonkeyPatch.context() as m:
        m.setattr(FR, "BLOOM_MIN_BUCKET_BITS", 8)
        res = run_crawl(spark, web_df, seed, base, use_bloom=True, max_supersteps=2)
    assert res.supersteps == 2
    return {"base": base, "web": web, "seed": seed, "web_df": web_df}


def _state(spark, root):
    """What a rewrite may change: every delta table's rows, the dirs
    holding parquet files, and the store meta."""
    store = CrawlStore(spark, root)
    tables = {
        "routed": store.read_table("routed", ROUTED_SCHEMA),
        "seen": store.read_all("seen"),
        "dims": store.read_all("dims"),
    }
    rows = {
        name: sorted(repr(tuple(r)) for r in df.collect())
        for name, df in tables.items()
    }
    layout = sorted(
        os.path.relpath(d, root)
        for d, _dirs, files in os.walk(root)
        if any(f.endswith(".parquet") for f in files)
    )
    return {"rows": rows, "layout": layout, "meta": store._meta}


def _sweep_rewrite(spark, faults, tmp_path, base, op, after_rollback=None):
    """``after_rollback(root, start, want, call)``, when given, checks
    the state right after the crashed store's ``rollback_uncommitted``
    (``start``: the state before the op)."""
    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    start = _state(spark, clean)
    before = start["rows"]
    with faults.watch(clean) as calls:
        op(CrawlStore(spark, clean))
    want = _state(spark, clean)
    assert not any(".swap" in dirs for _d, dirs, _f in os.walk(clean))

    def case(root, n, call):
        with faults.watch(root, crash_at=n):
            with pytest.raises(InjectedCrash):
                op(CrawlStore(spark, root))
        CrawlStore(spark, root).rollback_uncommitted()
        # no row is lost or duplicated at any crash point
        assert _state(spark, root)["rows"] in (before, want["rows"]), call
        if after_rollback is not None:
            after_rollback(root, start, want, call)
        op(CrawlStore(spark, root))
        assert _state(spark, root) == want, call

    _sweep(tmp_path, base, calls, case)
    assert any(c.startswith("rename ") for c in calls)


def test_sweep_compact(spark, faults, tmp_path, site):
    _sweep_rewrite(spark, faults, tmp_path, site["base"], lambda s: s.compact())


def test_sweep_rebucket(spark, faults, tmp_path, site):
    """The writer entry finishes an interrupted rebucket on its own:
    right after ``rollback_uncommitted`` the store already equals the
    uninterrupted run (rows, layout and meta) — unless the crash hit
    the first meta write, before which nothing had changed."""

    def finished(root, start, want, call):
        got = _state(spark, root)
        if got["meta"] == start["meta"]:
            assert call == "replace store_meta.json.tmp", call
            assert got == start, call
        else:
            assert got == want, call

    _sweep_rewrite(
        spark,
        faults,
        tmp_path,
        site["base"],
        lambda s: s.rebucket(seen_buckets=4, dims_buckets=4),
        after_rollback=finished,
    )


def test_sweep_recrawl_invalidate(spark, faults, tmp_path, site):
    urls = sorted(
        r["url"] for r in CrawlStore(spark, site["base"]).read_all("pages").collect()
    )
    topk = spark.createDataFrame([(u,) for u in urls[:2]], ["url"])
    _sweep_rewrite(
        spark,
        faults,
        tmp_path,
        site["base"],
        lambda s: recrawl_invalidate(spark, s, topk),
    )


def _bloom_capacity(root):
    with open(os.path.join(root, "bloom", "meta.json")) as f:
        meta = json.load(f)
    return meta["n_buckets"] * meta["bucket_bits"] // meta["bits_per_key"]


def test_sweep_crawl_bloom_rebuild(spark, faults, monkeypatch, tmp_path, site):
    """The resumed superstep outgrows the persisted Bloom and rebuilds
    it; a crash at any point of that superstep, then a resume, must
    request exactly the oracle's URLs (a Bloom that lost committed keys
    re-requests them)."""
    monkeypatch.setattr(FR, "BLOOM_MIN_BUCKET_BITS", 8)
    want = sorted(oracle_crawl(site["web"], site["seed"]).requested)

    def resume(root):
        run_crawl(
            spark, site["web_df"], site["seed"], root, use_bloom=True, resume=True
        )

    def requested(root):
        seen = CrawlStore(spark, root).read_all("seen").collect()
        return sorted(r["url"] for r in seen)

    assert _bloom_capacity(site["base"]) < len(want)  # the resume rebuilds
    clean = str(tmp_path / "clean")
    shutil.copytree(site["base"], clean)
    with faults.watch(clean) as calls:
        resume(clean)
    assert requested(clean) == want
    assert _bloom_capacity(clean) >= len(want)

    def case(root, n, call):
        with faults.watch(root, crash_at=n):
            with pytest.raises(InjectedCrash):
                resume(root)
        resume(root)
        assert requested(root) == want, call

    _sweep(tmp_path, site["base"], calls, case)
    assert "rename .swap/0" in calls  # the rebuild was swapped in


def test_sweep_crawl_layout_growth(spark, faults, monkeypatch, tmp_path, site):
    """The resumed superstep takes the seen history past
    HISTORY_BROADCAST_THRESHOLD, so it rebuckets the one-bucket seen
    and dims tables before reading them; a crash at any point of the
    resume, then another resume, must request exactly the oracle's
    URLs and leave the grown layout."""
    base = CrawlStore(spark, site["base"])
    assert (base.seen_buckets, base.dims_buckets) == (1, 1)
    committed = sum(m["counters"]["requested"] for m in base.manifests())
    monkeypatch.setattr(C, "HISTORY_BROADCAST_THRESHOLD", committed)
    want = sorted(oracle_crawl(site["web"], site["seed"]).requested)

    def resume(root):
        run_crawl(spark, site["web_df"], site["seed"], root, resume=True)

    def grown(root):
        store = CrawlStore(spark, root)
        seen = sorted(r["url"] for r in store.read_all("seen").collect())
        return seen, store._meta

    clean = str(tmp_path / "clean")
    shutil.copytree(site["base"], clean)
    with faults.watch(clean) as calls:
        resume(clean)
    done = (
        want,
        {
            "layout_version": 2,
            "seen_buckets": SEEN_BUCKETS,
            "dims_buckets": DIMS_BUCKETS,
        },
    )
    assert grown(clean) == done

    def case(root, n, call):
        with faults.watch(root, crash_at=n):
            with pytest.raises(InjectedCrash):
                resume(root)
        resume(root)
        assert grown(root) == done, call
        # every row sits under the bucket its key hashes to at 8
        store = CrawlStore(spark, root)
        for name in ("seen", "dims"):
            assert store.bucketed_layout_ok(name), (name, call)
            rows = spark.read.parquet(os.path.join(root, name))
            misplaced = rows.filter(F.col("bucket") != store.bucket_expr(name))
            assert misplaced.count() == 0, (name, call)

    _sweep(tmp_path, site["base"], calls, case)
    assert "replace store_meta.json.tmp" in calls  # the growth ran
    print(f"layout-growth sweep: {len(calls)} injection points")
