"""Delta-table compaction (the Iceberg rewrite_data_files analogue):
readers must see identical rows before/after, and a mid-crawl
compaction must not disturb resume. Crashes at every point of the
rewrite are covered by tests/test_fault_sweep.py."""

import os

import pytest

from tests.oracle_crawler import fan_site
from tests.conftest import web_dict_to_df
from website_indexer_spark.plans.crawl import run_crawl


def _crawl(spark, tmp_path, sub="c", **kw):
    web, seed = fan_site()
    return run_crawl(
        spark, web_dict_to_df(spark, web), seed, str(tmp_path / sub), **kw
    )


def _rows(store, name):
    if name == "routed":
        from website_indexer_spark.sources.tables import ROUTED_SCHEMA

        # timestamp is wall-clock for NULL-warc_ts fixtures: excluded
        # so row sets compare across independent runs
        df = store.read_table("routed", ROUTED_SCHEMA).drop("timestamp")
    else:
        df = store.read_all(name)
    return {
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    }


def test_compact_preserves_rows_and_shrinks_files(spark, tmp_path):
    res = _crawl(spark, tmp_path)
    store = res.store
    before = {n: _rows(store, n) for n in ("seen", "routed", "dims")}
    stats = store.compact()
    for name in ("seen", "routed", "dims"):
        assert _rows(store, name) == before[name], name
        assert stats[name]["files_after"] <= stats[name]["files_before"]
    # multi-superstep tables really did merge into one delta dir
    # (seen keeps its hash-bucketed layout: ≤ SEEN_BUCKETS files)
    from website_indexer_spark.sources.tables import SEEN_BUCKETS

    assert stats["seen"]["files_after"] <= SEEN_BUCKETS
    seen_dirs = [
        e
        for e in os.listdir(os.path.join(store.root, "seen"))
        if e.startswith("superstep=")
    ]
    assert len(seen_dirs) == 1


def test_compact_then_resume_matches_uncompacted(spark, tmp_path):
    """Stop a crawl mid-run, compact, resume: final state must equal
    an uninterrupted crawl's (the seen anti-join and counters read
    through the compacted layout)."""
    full = _crawl(spark, tmp_path, sub="full")
    partial = _crawl(spark, tmp_path, sub="part", max_supersteps=2)
    assert partial.supersteps == 2
    partial.store.compact()
    web, seed = fan_site()
    resumed = run_crawl(
        spark,
        web_dict_to_df(spark, web),
        seed,
        str(tmp_path / "part"),
        resume=True,
    )
    assert resumed.pages == full.pages
    assert resumed.requested == full.requested
    assert _rows(resumed.store, "routed") == _rows(full.store, "routed")
    assert _rows(resumed.store, "seen") == _rows(full.store, "seen")


def test_viewer_queries_after_compaction(spark, tmp_path):
    from website_indexer_spark.plans import queries as vq

    res = _crawl(spark, tmp_path)
    store = res.store
    pages_before = store.read_all("pages").count()
    comps_before = {
        tuple(r) for r in vq.component_list(store.read_all("pages")).collect()
    }
    assert comps_before  # the site's pages carry components
    store.compact()
    assert store.read_all("pages").count() == pages_before
    comps_after = {
        tuple(r) for r in vq.component_list(store.read_all("pages")).collect()
    }
    assert comps_after == comps_before


def test_legacy_compaction_dir_refuses_resume(spark, tmp_path):
    """A .compacting/.compacted_ready dir from the old compaction
    protocol holds rows readers never see (dot dirs are outside the
    partition namespace); the resume entry point must name it rather
    than silently drop those rows."""
    from tests.test_crawl import _rich_site, _spark_crawl

    web, seed = _rich_site()
    store = _spark_crawl(spark, tmp_path, web, seed, max_supersteps=2).store
    for legacy in (".compacted_ready", ".compacting"):
        stray = os.path.join(store.root, "seen", legacy)
        os.makedirs(stray)
        with pytest.raises(ValueError, match=legacy):
            store.rollback_uncommitted()
        os.rmdir(stray)
    store.rollback_uncommitted()
