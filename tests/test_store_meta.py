"""Store-level bucket-count config (VERDICT r3 #3), legacy flat-layout
detection and repair (ADVICE r3), rebucketing via compaction, the
writer entry that finishes an interrupted rebucket, and the parallel
above-threshold seen/dims delta write (VERDICT r3 #2).

The bucket counts are PHYSICAL layout: a probe run with a different
count than the files were written with silently mis-buckets and forgets
committed keys. So the counts live in <root>/store_meta.json, fixed at
creation, validated on open, and only changeable through a compaction
rewrite (CrawlStore.rebucket)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import web_dict_to_df
from tests.oracle_crawler import crawl as oracle_crawl, fan_site
from website_indexer_spark.operators import frontier as FR
from website_indexer_spark.operators.recrawl import recrawl_invalidate
from website_indexer_spark.plans import crawl as C
from website_indexer_spark.sources.tables import (
    DIMS_BUCKETS,
    SEEN_BUCKETS,
    SEEN_SCHEMA,
    CrawlStore,
)
from website_indexer_spark.streaming.crawl_stream import crawl_stream_step


def _crawl(spark, tmp_path, name, **kwargs):
    web, seed = fan_site()
    return C.run_crawl(
        spark, web_dict_to_df(spark, web), seed, str(tmp_path / name), **kwargs
    )


def _seen_urls(store):
    return sorted(r["url"] for r in store.read_all("seen").collect())


def _bucket_dirs(root, table="seen"):
    out = set()
    for dirpath, dirs, _files in os.walk(os.path.join(root, table)):
        for d in dirs:
            if d.startswith("bucket="):
                out.add(int(d.split("=", 1)[1]))
    return out


def test_nondefault_bucket_count_crawl_resume_compact(spark, tmp_path, monkeypatch):
    """A store created with seen_buckets=5/dims_buckets=3 keeps that
    layout through crawl + reopen + forced bucketed anti-join +
    compaction, matching the oracle crawler throughout."""
    root = str(tmp_path / "c")
    CrawlStore(spark, root, seen_buckets=5, dims_buckets=3)  # create meta
    monkeypatch.setattr(C, "BROADCAST_FETCH_THRESHOLD", -1)  # force bucketed
    monkeypatch.setattr(C, "HISTORY_BROADCAST_THRESHOLD", -1)
    web, seed = fan_site()
    oracle = oracle_crawl(web, seed)
    result = C.run_crawl(spark, web_dict_to_df(spark, web), seed, root)
    assert result.store.seen_buckets == 5
    assert result.store.dims_buckets == 3
    assert {r["url"] for r in result.store.read_all("pages").collect()} == set(
        oracle.pages
    )
    assert set(_seen_urls(result.store)) == set(oracle.requested)
    assert _bucket_dirs(root, "seen") <= set(range(5))
    assert _bucket_dirs(root, "dims") <= set(range(3))

    # reopen with no args: counts come from the meta, layout still probes
    store2 = CrawlStore(spark, root)
    assert store2.seen_buckets == 5 and store2.dims_buckets == 3
    probe = store2.read_all("seen")
    assert (
        FR.exclude_keys_bucketed(
            probe, store2.seen_bucket_files(), store2.seen_buckets
        ).count()
        == 0
    )

    # compaction preserves the configured count
    store2.compact()
    assert _bucket_dirs(root, "seen") <= set(range(5))
    store3 = CrawlStore(spark, root)
    assert set(_seen_urls(store3)) == set(oracle.requested)
    assert (
        FR.exclude_keys_bucketed(
            store3.read_all("seen"), store3.seen_bucket_files(), 5
        ).count()
        == 0
    )


def test_bucket_count_mismatch_raises(spark, tmp_path):
    root = str(tmp_path / "m")
    CrawlStore(spark, root, seen_buckets=5)
    with pytest.raises(ValueError, match="seen_buckets mismatch"):
        CrawlStore(spark, root, seen_buckets=7)
    with pytest.raises(ValueError, match="dims_buckets mismatch"):
        CrawlStore(spark, root, dims_buckets=7)
    # matching explicit counts are fine (dims kept the new store's 1)
    s = CrawlStore(spark, root, seen_buckets=5, dims_buckets=1)
    assert s.seen_buckets == 5


def test_legacy_store_without_meta(spark, tmp_path):
    """A committed store that predates store_meta.json reopens with the
    module defaults (its layout's counts); a differing explicit count
    raises instead of silently mis-bucketing. Such a store was laid
    out at SEEN_BUCKETS/DIMS_BUCKETS, so the crawl writes it there."""
    CrawlStore(
        spark, str(tmp_path / "l"), seen_buckets=SEEN_BUCKETS,
        dims_buckets=DIMS_BUCKETS,
    )
    result = _crawl(spark, tmp_path, "l")
    root = result.store.root
    os.remove(os.path.join(root, "store_meta.json"))
    store = CrawlStore(spark, root)
    assert store.seen_buckets == 8 and store.dims_buckets == 8
    store.rollback_uncommitted()
    assert store.bucketed_layout_ok("seen")
    assert store.bucketed_layout_ok("dims")
    os.remove(os.path.join(root, "store_meta.json"))
    with pytest.raises(ValueError, match="predates store_meta"):
        CrawlStore(spark, root, seen_buckets=16)


def test_flat_legacy_layout_detected_and_repaired(spark, tmp_path):
    """ADVICE r3: committed seen deltas written FLAT (pre-bucketed-
    layout store) are invisible to bucketed_files — the writer entry
    (rollback_uncommitted) must detect them and compact the table into
    the bucketed layout before any probe reads it."""
    root = str(tmp_path / "f")
    store = CrawlStore(spark, root)
    rows = [(i * 7919, f"u{i}") for i in range(40)]
    flat = spark.createDataFrame(rows, SEEN_SCHEMA)
    store.write_delta("seen", flat.coalesce(1), 0)  # no bucket dirs
    store.commit(0, {"requested": 40})
    assert not store.bucketed_layout_ok("seen")
    # the bucketed probe WOULD forget all 40 committed keys:
    probe = store.read_all("seen")
    assert (
        FR.exclude_keys_bucketed(
            probe, store.seen_bucket_files(), store.seen_buckets
        ).count()
        == 40
    )
    # the writer entry compacts the flat table: compact()'s augment
    # recomputes the bucket column
    store.rollback_uncommitted()
    assert store.bucketed_layout_ok("seen")
    assert set(_seen_urls(store)) == {f"u{i}" for i in range(40)}
    assert (
        FR.exclude_keys_bucketed(
            store.read_all("seen"), store.seen_bucket_files(), store.seen_buckets
        ).count()
        == 0
    )


def test_flat_legacy_crawl_resume_repairs_layout(spark, tmp_path, monkeypatch):
    """End-to-end: resume a crawl whose committed seen layout is flat,
    with the broadcast threshold forced off — the resume's writer entry
    must rewrite the layout bucketed before the bucketed probe runs, so
    no committed URL is re-requested and no flat delta is appended."""
    web, seed = fan_site()
    oracle = oracle_crawl(web, seed)
    root = str(tmp_path / "r")
    # phase 1: full crawl at the legacy layout's counts (the meta is
    # removed below), then simulate a crash after superstep last-1
    CrawlStore(spark, root, seen_buckets=SEEN_BUCKETS, dims_buckets=DIMS_BUCKETS)
    first = C.run_crawl(spark, web_dict_to_df(spark, web), seed, root)
    store = first.store
    last = store.last_committed()
    assert last >= 1
    os.remove(store._manifest_path(last))
    # flatten the still-committed seen layout in place (legacy store)
    import shutil

    seen_rows = CrawlStore(spark, root).read_all("seen").collect()
    shutil.rmtree(os.path.join(root, "seen"))
    flat = spark.createDataFrame(
        [(r["url_hash"], r["url"]) for r in seen_rows], SEEN_SCHEMA
    )
    fresh = CrawlStore(spark, root)
    fresh.write_delta("seen", flat.coalesce(1), 0)
    for k in range(1, last):
        fresh.write_delta(
            "seen", spark.createDataFrame([], SEEN_SCHEMA).coalesce(1), k
        )
    os.remove(os.path.join(root, "store_meta.json"))
    # phase 2: resume with the bucketed path forced on by wave size —
    # the writer entry must repair the layout first
    monkeypatch.setattr(C, "BROADCAST_FETCH_THRESHOLD", -1)
    monkeypatch.setattr(C, "HISTORY_BROADCAST_THRESHOLD", -1)
    result = C.run_crawl(
        spark, web_dict_to_df(spark, web), seed, root, resume=True
    )
    assert set(_seen_urls(result.store)) == set(oracle.requested)
    assert {r["url"] for r in result.store.read_all("pages").collect()} == set(
        oracle.pages
    )
    # request-once: no URL admitted twice into the seen table
    seen_df = result.store.read_all("seen")
    assert seen_df.count() == seen_df.select("url").distinct().count()
    _assert_bucketed_at_meta_count(spark, root)


def test_rebucket_rewrites_layout(spark, tmp_path):
    result = _crawl(spark, tmp_path, "rb")
    store = result.store
    root = store.root
    want = set(_seen_urls(store))
    res = store.rebucket(seen_buckets=5, dims_buckets=3)
    assert set(res) == {"seen", "dims"}
    assert store.seen_buckets == 5 and store.dims_buckets == 3
    assert _bucket_dirs(root, "seen") <= set(range(5))
    assert _bucket_dirs(root, "dims") <= set(range(3))
    assert set(_seen_urls(store)) == want
    store.rollback_uncommitted()  # nothing to repair: a no-op
    assert store.bucketed_layout_ok("seen")
    assert store.bucketed_layout_ok("dims")
    assert _bucket_dirs(root, "seen") <= set(range(5))
    assert (
        FR.exclude_keys_bucketed(
            store.read_all("seen"), store.seen_bucket_files(), 5
        ).count()
        == 0
    )
    # the new count survives reopen; the old count now mismatches
    store2 = CrawlStore(spark, root)
    assert store2.seen_buckets == 5
    with pytest.raises(ValueError, match="mismatch"):
        CrawlStore(spark, root, seen_buckets=8)


def test_rebucket_pending_finished_at_writer_entry(spark, tmp_path):
    """A crash between the meta update and the compaction rewrite
    leaves rebucket_pending set with the new count in the meta and the
    files still at the old count. The writer entry must finish the
    rewrite before anything probes the buckets."""
    result = _crawl(spark, tmp_path, "p")
    store = result.store
    want = set(_seen_urls(store))
    meta = dict(store._meta)
    meta["seen_buckets"] = 5
    meta["rebucket_pending"] = ["seen"]
    store._write_meta(meta)
    # the bucketed probe at the meta's count would forget committed keys
    probe = store.read_all("seen")
    assert FR.exclude_keys_bucketed(probe, store.seen_bucket_files(), 5).count()
    store.rollback_uncommitted()
    assert "rebucket_pending" not in CrawlStore(spark, store.root)._meta
    assert store.bucketed_layout_ok("seen")
    assert _bucket_dirs(store.root, "seen") <= set(range(5))
    assert set(_seen_urls(store)) == want
    assert (
        FR.exclude_keys_bucketed(
            store.read_all("seen"), store.seen_bucket_files(), 5
        ).count()
        == 0
    )
    _assert_bucketed_at_meta_count(spark, store.root)


def _pending_store(spark, tmp_path, name, lost_supersteps):
    """A fan_site crawl whose last ``lost_supersteps`` manifests are
    gone (a crash before their commit) and whose meta reads as a
    rebucket that crashed right after its meta write: seen_buckets=5
    while the files sit at the new store's one bucket, seen and dims
    flagged pending."""
    store = _crawl(spark, tmp_path, name).store
    last = store.last_committed()
    assert last >= lost_supersteps
    for k in range(last - lost_supersteps + 1, last + 1):
        os.remove(store._manifest_path(k))
    meta = dict(store._meta)
    meta["seen_buckets"] = 5
    meta["rebucket_pending"] = ["seen", "dims"]
    store._write_meta(meta)
    return store.root


def _assert_bucketed_at_meta_count(spark, root):
    """Every committed seen/dims file sits under bucket=B, and every
    row in it hashes to B at the store meta's count."""
    store = CrawlStore(spark, root)
    assert "rebucket_pending" not in store._meta
    for name in ("seen", "dims"):
        assert store.bucketed_layout_ok(name), name
        df = spark.read.parquet(os.path.join(root, name))
        assert df.count() > 0, name
        assert df.filter(F.col("bucket") != store.bucket_expr(name)).count() == 0


def test_resume_on_pending_rebucket_store(spark, tmp_path):
    """A crawl resumed on a store a rebucket crashed in must equal the
    oracle, admit no URL twice and leave every seen/dims file bucketed
    at the meta's count (a flat delta beside the bucketed ones makes
    the next superstep's seen read fail partition discovery)."""
    web, seed = fan_site()
    oracle = oracle_crawl(web, seed)
    root = _pending_store(spark, tmp_path, "pr", lost_supersteps=2)
    result = C.run_crawl(
        spark, web_dict_to_df(spark, web), seed, root, resume=True
    )
    assert result.store.read_crawl_record()["status"] == "Finished"
    assert _seen_urls(result.store) == sorted(set(oracle.requested))
    assert {r["url"] for r in result.store.read_all("pages").collect()} == set(
        oracle.pages
    )
    _assert_bucketed_at_meta_count(spark, root)


def test_recrawl_invalidate_on_pending_rebucket_store(spark, tmp_path):
    """Recrawl invalidation on a store a rebucket crashed in: bucketing
    the keys at the meta's count while the files sit at the old one
    would leave scheduled URLs in seen, never to be refetched."""
    web, seed = fan_site()
    root = _pending_store(spark, tmp_path, "rp", lost_supersteps=0)
    store = CrawlStore(spark, root)
    before = set(_seen_urls(store))
    scheduled = sorted(r["url"] for r in store.read_all("pages").collect())
    assert len(scheduled) > 1
    topk = spark.createDataFrame([(u,) for u in scheduled], ["url"])
    stats = recrawl_invalidate(spark, store, topk)
    assert stats["seen_removed"] == len(scheduled)
    assert set(_seen_urls(CrawlStore(spark, root))) == before - set(scheduled)
    _assert_bucketed_at_meta_count(spark, root)


def test_stream_batch_on_pending_rebucket_store(spark, tmp_path):
    """One crawl_stream_step batch on a store a rebucket crashed in:
    the batch's seen delta must land bucketed at the meta's count, so
    the seen table still reads afterwards."""
    web, seed = fan_site()
    root = _pending_store(spark, tmp_path, "sp", lost_supersteps=2)
    store = CrawlStore(spark, root)
    before = set(_seen_urls(store))
    batch = store.read_frontier(store.last_committed())
    wave = {r["url"] for r in batch.collect()}
    assert wave - before
    step = crawl_stream_step(web_dict_to_df(spark, web), root, seed)
    step(batch, 0)
    after = CrawlStore(spark, root)
    assert set(_seen_urls(after)) == before | wave
    assert after.read_all("seen").count() == len(before | wave)
    _assert_bucketed_at_meta_count(spark, root)


def test_parallel_delta_write_above_threshold(spark, tmp_path, monkeypatch):
    """VERDICT r3 #2: above DELTA_WRITE_SINGLE_TASK_MAX the seen/dims
    deltas are written by one task PER BUCKET (repartition by the
    bucket column) instead of coalesce(1) — same bucket=dir layout,
    multiple distinct writer tasks — and the layout still drives an
    exact bucketed anti-join and an oracle-identical crawl. The store
    is created at the grown counts: one bucket is one task either way."""
    monkeypatch.setattr(C, "DELTA_WRITE_SINGLE_TASK_MAX", -1)
    web, seed = fan_site()
    oracle = oracle_crawl(web, seed)
    root = str(tmp_path / "pw")
    CrawlStore(spark, root, seen_buckets=SEEN_BUCKETS, dims_buckets=DIMS_BUCKETS)
    result = C.run_crawl(spark, web_dict_to_df(spark, web), seed, root)
    assert {r["url"] for r in result.store.read_all("pages").collect()} == set(
        oracle.pages
    )
    assert set(_seen_urls(result.store)) == set(oracle.requested)
    # multiple distinct writer tasks: part files carry the task's
    # partition index; coalesce(1) would make them all part-00000
    part_ids = set()
    for _b, paths in result.store.seen_bucket_files().items():
        for p in paths:
            part_ids.add(os.path.basename(p).split("-")[1])
    assert len(part_ids) > 1, part_ids
    # and the multi-task layout is still a correct probe source
    assert (
        FR.exclude_keys_bucketed(
            result.store.read_all("seen"),
            result.store.seen_bucket_files(),
            result.store.seen_buckets,
        ).count()
        == 0
    )


def test_meta_file_contents(spark, tmp_path):
    root = str(tmp_path / "mf")
    CrawlStore(spark, root, seen_buckets=12)
    with open(os.path.join(root, "store_meta.json")) as f:
        meta = json.load(f)
    assert meta == {
        "layout_version": 2,
        "seen_buckets": 12,
        "dims_buckets": 1,
    }


def test_manifest_records_per_partition_lineage(spark, tmp_path):
    """Each committed manifest carries the superstep's per-partition
    lineage: every data file written (routed/seen/dims/frontier), with
    footer row counts — and the recorded sums agree with the committed
    counters. Compaction does NOT rewrite history: old manifests keep
    the lineage of what their commit actually produced."""
    result = _crawl(spark, tmp_path, "lin")
    store = result.store
    manifests = list(store.manifests())
    assert manifests, "crawl committed nothing"
    total_seen = 0
    for m in manifests:
        files = m.get("files", {})
        assert set(files) >= {"routed", "seen", "frontier"} - (
            set() if m["counters"]["enqueued"] else {"frontier"}
        ), (m["superstep"], sorted(files))
        for table, per_file in files.items():
            assert per_file, table
            for rel, rows in per_file.items():
                assert rel.endswith(".parquet") and rows >= 0, (table, rel)
        # per-file seen rows sum to the superstep's requested counter
        if "seen" in files:
            total_seen += sum(files["seen"].values())
        routed_sum = sum(files.get("routed", {}).values())
        assert routed_sum == (
            m["counters"]["pages"]
            + m["counters"]["errors"]
            + m["counters"]["redirects"]
        ), m["superstep"]
    assert total_seen == result.requested
    before = [json.dumps(m, sort_keys=True) for m in store.manifests()]
    store.compact()
    after = [json.dumps(m, sort_keys=True) for m in store.manifests()]
    assert before == after  # lineage log is immutable history


def _manifest_buckets(manifest, table):
    """The bucket value of every file a superstep's manifest lists for
    ``table`` (dims keyed by kind)."""
    out = []
    for rel in manifest["files"].get(table, {}):
        parts = dict(seg.split("=", 1) for seg in rel.split(os.sep)[:-1])
        out.append((parts.get("kind"), int(parts["bucket"])))
    return out


def test_fresh_crawl_writes_one_bucket(spark, tmp_path):
    """Below HISTORY_BROADCAST_THRESHOLD the crawl never reads a bucket
    dir, so a new store stays at one bucket: one seen file per
    superstep, at most one dims file per kind."""
    result = _crawl(spark, tmp_path, "one")
    store = result.store
    assert (store.seen_buckets, store.dims_buckets) == (1, 1)
    manifests = store.manifests()
    assert len(manifests) == result.supersteps
    for m in manifests:
        assert _manifest_buckets(m, "seen") == [(None, 0)], m["superstep"]
        dims = _manifest_buckets(m, "dims")
        assert {b for _k, b in dims} <= {0}, m["superstep"]
        assert len(dims) == len({k for k, _b in dims}) <= 2, m["superstep"]
    with open(os.path.join(store.root, "store_meta.json")) as f:
        assert json.load(f) == {
            "layout_version": 2, "seen_buckets": 1, "dims_buckets": 1,
        }


def test_growth_at_history_threshold(spark, tmp_path, monkeypatch):
    """The superstep whose seen and dims history first exceeds
    HISTORY_BROADCAST_THRESHOLD grows both tables to SEEN_BUCKETS/
    DIMS_BUCKETS before reading them, so the bucketed probes it and
    every later superstep run read the grown layout. The crawl equals
    the one that never grew and the oracle."""
    web, seed = fan_site()
    oracle = oracle_crawl(web, seed)
    plain = _crawl(spark, tmp_path, "plain").store
    assert (plain.seen_buckets, plain.dims_buckets) == (1, 1)

    # superstep 0 requests 1 URL and commits the home page's dims keys;
    # superstep 1's history (6 requested, >= 6 dims keys) crosses 3
    monkeypatch.setattr(C, "HISTORY_BROADCAST_THRESHOLD", 3)
    monkeypatch.setattr(C, "BROADCAST_FETCH_THRESHOLD", -1)
    probes = []

    def spy(name, real):
        def wrapped(*args, **kwargs):
            probes.append((name, args[2]))
            return real(*args, **kwargs)

        monkeypatch.setattr(C, name, wrapped)

    spy("anti_join_seen_bucketed", C.anti_join_seen_bucketed)
    spy("dim_upsert_delta_bucketed", C.dim_upsert_delta_bucketed)
    grown = _crawl(spark, tmp_path, "grown").store
    assert (grown.seen_buckets, grown.dims_buckets) == (SEEN_BUCKETS, DIMS_BUCKETS)
    assert "rebucket_pending" not in grown._meta
    assert probes and set(probes) == {
        ("anti_join_seen_bucketed", SEEN_BUCKETS),
        ("dim_upsert_delta_bucketed", DIMS_BUCKETS),
    }
    # the lineage shows where it grew: superstep 0 wrote one bucket,
    # superstep 1 already wrote at the grown count
    m0, m1 = grown.read_manifest(0), grown.read_manifest(1)
    assert _manifest_buckets(m0, "seen") == [(None, 0)]
    assert {b for _k, b in _manifest_buckets(m0, "dims")} == {0}
    assert len({b for _k, b in _manifest_buckets(m1, "seen")}) > 1
    assert len({b for _k, b in _manifest_buckets(m1, "dims")}) > 1
    _assert_bucketed_at_meta_count(spark, grown.root)

    def rows(store, name):
        # page timestamps are wall-clock for these NULL-warc_ts rows
        df = store.read_all(name)
        if "timestamp" in df.columns:
            df = df.drop("timestamp")
        return sorted(repr(tuple(r)) for r in df.collect())

    assert rows(grown, "pages") == rows(plain, "pages")
    assert rows(grown, "seen") == rows(plain, "seen")
    assert rows(grown, "dims") == rows(plain, "dims")
    assert set(_seen_urls(grown)) == set(oracle.requested)
    assert {r["url"] for r in grown.read_all("pages").collect()} == set(
        oracle.pages
    )


def test_stream_growth_at_history_threshold(spark, tmp_path, monkeypatch):
    """crawl_stream_step grows a one-bucket seen table in the first
    batch whose history, its own rows counted in, exceeds
    HISTORY_BROADCAST_THRESHOLD, and lands the batch crawl's seen
    rows."""
    web, seed = fan_site()
    web_df = web_dict_to_df(spark, web)
    batch = _crawl(spark, tmp_path, "batch").store
    monkeypatch.setattr(C, "HISTORY_BROADCAST_THRESHOLD", 3)
    root = str(tmp_path / "stream")
    step = crawl_stream_step(web_df, root, seed)
    waves = [C._seed_frontier(spark, seed, "fan.test")] + [
        batch.read_frontier(k) for k in range(batch.last_committed())
    ]
    counts = []
    for i, wave in enumerate(waves):
        step(wave, i)
        counts.append(CrawlStore(spark, root).seen_buckets)
    # committed history + batch rows: 0 + 1, 1 + 5, 6 + 3
    assert counts == [1, SEEN_BUCKETS, SEEN_BUCKETS]
    store = CrawlStore(spark, root)
    assert store.dims_buckets == 1
    assert _seen_urls(store) == _seen_urls(batch)
    assert store.bucketed_layout_ok("seen")
    df = spark.read.parquet(os.path.join(root, "seen"))
    assert df.filter(F.col("bucket") != store.bucket_expr("seen")).count() == 0
