"""Storage-partitioned seen anti-join (VERDICT r2 #2): the seen table
is written hash-bucketed (bucket=pmod(url_hash, SEEN_BUCKETS) dirs per
superstep delta) and the above-broadcast-threshold dedup path runs as
a co-partitioned probe that point-reads only its bucket's files — no
scan or exchange of the seen side ever appears in the Spark plan.

Covers: operator == left_anti equivalence across multi-superstep
layouts, manifest-visibility of the file listing, bloom + wave-delta
composition, the plan property itself, and a forced-path end-to-end
crawl (thresholds dropped to -1, like test_frontier_scale's
discovery_seq forcing) matching the oracle crawler."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import web_dict_to_df
from tests.oracle_crawler import crawl as oracle_crawl
from tests.test_crawl import _rich_site
from website_indexer_spark.operators import frontier as FR
from website_indexer_spark.plans import crawl as C
from website_indexer_spark.sources.tables import (
    DIMS_BUCKETS,
    SEEN_BUCKETS,
    SEEN_SCHEMA,
    CrawlStore,
    bucket_files,
)


def _write_seen_deltas(spark, tmp_path, deltas, n_buckets=4, commit_all=True):
    """Write each delta (list of (url_hash, url)) as one committed
    superstep through the real store, bucketed like the crawl does."""
    store = CrawlStore(spark, str(tmp_path / "store"))
    for k, rows in enumerate(deltas):
        df = spark.createDataFrame(rows, SEEN_SCHEMA).withColumn(
            "bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets))
        )
        store.write_delta("seen", df.coalesce(1), k, partition_by=["bucket"])
        if commit_all or k < len(deltas) - 1:
            store.commit(k, {})
    return store


def _hashed(spark, lo, hi, stride=1):
    return spark.range(lo, hi, stride).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
    )


def test_exclude_keys_bucketed_matches_left_anti(spark, tmp_path):
    nb = 4
    d1 = [(r["url_hash"], r["url"]) for r in _hashed(spark, 0, 300, 3).collect()]
    d2 = [(r["url_hash"], r["url"]) for r in _hashed(spark, 1, 300, 3).collect()]
    store = _write_seen_deltas(spark, tmp_path, [d1, d2], n_buckets=nb)
    files = store.bucketed_files("seen")
    assert set(files) <= set(range(nb)) and sum(map(len, files.values())) >= nb

    probe = _hashed(spark, 0, 400)
    seen = store.read_table("seen", SEEN_SCHEMA).select("url_hash")
    want = sorted(
        r["url"] for r in probe.join(seen, "url_hash", "left_anti").collect()
    )
    got = sorted(
        r["url"]
        for r in FR.exclude_keys_bucketed(probe, files, nb).collect()
    )
    assert got == want and len(want) < 400


def test_bucketed_files_sees_only_committed(spark, tmp_path):
    d1 = [(r["url_hash"], r["url"]) for r in _hashed(spark, 0, 50).collect()]
    d2 = [(r["url_hash"], r["url"]) for r in _hashed(spark, 50, 100).collect()]
    store = _write_seen_deltas(
        spark, tmp_path, [d1, d2], n_buckets=4, commit_all=False
    )  # superstep 1 written but NOT committed
    files = store.bucketed_files("seen")
    assert all("superstep=1" not in p for ps in files.values() for p in ps)
    # the uncommitted delta must not exclude anything
    probe = _hashed(spark, 50, 100)
    assert FR.exclude_keys_bucketed(probe, files, 4).count() == 50


def test_bucket_files_nesting_sidecars_order(tmp_path):
    """The one bucket-dir lister: nested kind=K/bucket=B dirs are
    found, checksum sidecars, _SUCCESS markers, flat files and staged
    .swap dirs are skipped, and each bucket's paths come back sorted
    whatever order they were created in, across several trees."""
    def touch(*parts):
        path = tmp_path.joinpath(*parts)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(b"")
        return str(path)

    s0, s1 = tmp_path / "superstep=0", tmp_path / "superstep=1"
    want = {
        0: [touch("superstep=0", "bucket=0", "part-1.parquet")],
        2: sorted(
            [
                touch("superstep=1", "kind=link", "bucket=2", "part-b.parquet"),
                touch("superstep=1", "kind=link", "bucket=2", "part-a.parquet"),
                touch("superstep=1", "kind=component", "bucket=2", "part-c.parquet"),
                touch("superstep=0", "bucket=2", "part-9.parquet"),
            ]
        ),
    }
    touch("superstep=1", "kind=link", "bucket=2", ".part-a.parquet.crc")
    touch("superstep=1", "kind=link", "bucket=2", "_SUCCESS")
    touch("superstep=0", "flat.parquet")
    touch("superstep=0", ".swap", "0", "bucket=3", "part-0.parquet")
    touch("superstep=1", "bucket=5", "._SUCCESS.crc")  # no parquet: absent

    got = bucket_files(str(s1), str(s0))
    assert got == want
    assert list(got) == sorted(got)
    assert bucket_files(str(tmp_path / "missing")) == {}


def test_anti_join_seen_bucketed_full_composition(spark, tmp_path):
    """bloom prefilter + storage-partitioned exact check + wave-delta
    broadcast exclusion == the plain broadcast anti_join_seen."""
    nb = 4
    d1 = [(r["url_hash"], r["url"]) for r in _hashed(spark, 0, 200, 2).collect()]
    store = _write_seen_deltas(spark, tmp_path, [d1], n_buckets=nb)
    seen = store.read_table("seen", SEEN_SCHEMA).select("url_hash")
    wave_delta = _hashed(spark, 200, 230).select("url_hash")

    bloom = FR.StripedBloom.create(str(tmp_path / "bl"), expected_keys=200)
    bloom.update(seen)

    frontier = spark.range(0, 300).select(
        F.concat(F.lit("u"), F.col("id")).alias("url")
    )
    want = sorted(
        r["url"]
        for r in FR.anti_join_seen(
            frontier, seen.unionByName(wave_delta), None
        ).collect()
    )
    for bl in (None, bloom):
        got = sorted(
            r["url"]
            for r in FR.anti_join_seen_bucketed(
                frontier,
                store.bucketed_files("seen"),
                nb,
                extra_exclude=wave_delta,
                bloom=bl,
                broadcast_extra=bl is None,  # both extra paths
            ).collect()
        )
        assert got == want, f"bloom={bl is not None}"


def test_bucketed_anti_join_plan_has_no_seen_side_exchange(spark, tmp_path):
    """THE scale claim: above the broadcast threshold the anti-join's
    plan contains exactly one hash exchange (the probe repartition by
    bucket) and zero scans of the seen table — the seen side is
    storage-partitioned, read per-bucket inside the probe tasks."""
    d1 = [(r["url_hash"], r["url"]) for r in _hashed(spark, 0, 100).collect()]
    store = _write_seen_deltas(spark, tmp_path, [d1], n_buckets=4)
    probe = _hashed(spark, 0, 1000)
    plan_df = FR.exclude_keys_bucketed(probe, store.bucketed_files("seen"), 4)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain()  # simple mode: one line per physical node
    plan = buf.getvalue()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "store/seen" not in plan, plan  # no seen-table scan node
    assert "BroadcastExchange" not in plan, plan
    assert "MapInPandas" in plan, plan


@pytest.mark.slow
def test_forced_bucketed_path_crawl_matches_oracle(spark, tmp_path, monkeypatch):
    """Force every wave down the storage-partitioned path (threshold
    -1 also forces the plain fetch join and the shuffled extra-delta
    exclusion; the history threshold -1 keeps the small seen history
    off its broadcast form): final pages + seen set must still equal
    the oracle crawler's."""
    monkeypatch.setattr(C, "BROADCAST_FETCH_THRESHOLD", -1)
    monkeypatch.setattr(C, "HISTORY_BROADCAST_THRESHOLD", -1)
    web, seed = _rich_site()
    oracle = oracle_crawl(web, seed)
    result = C.run_crawl(
        spark, web_dict_to_df(spark, web), seed, str(tmp_path / "c")
    )
    pages = {r["url"] for r in result.store.read_all("pages").collect()}
    assert pages == set(oracle.pages)
    seen = {r["url"] for r in result.store.read_all("seen").collect()}
    assert seen == set(oracle.requested)
    # the layout really is bucketed, grown to SEEN_BUCKETS at
    # superstep 0 (a history of 1 exceeds the threshold -1)
    assert result.store.seen_buckets == SEEN_BUCKETS
    files = result.store.seen_bucket_files()
    assert files and all(
        f"bucket={b}" in p for b, ps in files.items() for p in ps
    )


# ---------------- dims MERGE, storage-partitioned (same theme) ------


def _write_dims_deltas(spark, tmp_path, deltas, n_buckets=4):
    from pyspark.sql import functions as F
    from website_indexer_spark.sources.tables import DIMS_SCHEMA

    store = CrawlStore(spark, str(tmp_path / "dstore"))
    for k, rows in enumerate(deltas):
        df = spark.createDataFrame(rows, DIMS_SCHEMA).withColumn(
            "bucket", F.pmod(F.xxhash64("kind", "key"), F.lit(n_buckets))
        )
        store.write_delta(
            "dims", df.coalesce(1), k, partition_by=["kind", "bucket"]
        )
        store.commit(k, {})
    return store


def test_dim_upsert_bucketed_matches_plain(spark, tmp_path):
    """Exact-string storage-partitioned MERGE probe == the plain
    anti-join MERGE delta, including composite keys with hostile
    characters and in-batch duplicates."""
    from website_indexer_spark.operators.dims import (
        dim_upsert_delta,
        dim_upsert_delta_bucketed,
    )
    from website_indexer_spark.sources.tables import DIMS_SCHEMA

    existing_rows = [("component", f"o-c{i}") for i in range(40)] + [
        ("link", f"/p{i}/") for i in range(40)
    ] + [("link", "weird\x00nul"), ("component", "ünïcødé")]
    store = _write_dims_deltas(
        spark, tmp_path, [existing_rows[:30], existing_rows[30:]], n_buckets=4
    )
    incoming_rows = (
        existing_rows[20:60]          # overlap: must NOT re-emit
        + [("link", f"/new{i}/") for i in range(25)]
        + [("link", "/new0/")] * 3    # in-batch dupes: emit once
        + [("component", "ünïcødé"), ("link", "weird\x00nul")]  # exact match
        + [("link", "weird\x00nul2")]  # near-collision string: IS new
    )
    incoming = spark.createDataFrame(incoming_rows, DIMS_SCHEMA)
    existing = store.read_table("dims", DIMS_SCHEMA)
    want = sorted(
        (r["kind"], r["key"])
        for r in dim_upsert_delta(existing, incoming, ["kind", "key"]).collect()
    )
    got = sorted(
        (r["kind"], r["key"])
        for r in dim_upsert_delta_bucketed(
            incoming, store.bucketed_files("dims"), 4
        ).collect()
    )
    assert got == want
    assert ("link", "weird\x00nul2") in got
    assert ("link", "weird\x00nul") not in got
    assert got.count(("link", "/new0/")) == 1

    # empty dims table: everything distinct comes through
    got_empty = sorted(
        (r["kind"], r["key"])
        for r in dim_upsert_delta_bucketed(incoming, {}, 4).collect()
    )
    want_empty = sorted(
        {(k, v) for k, v in incoming_rows}
    )
    assert got_empty == want_empty


def test_dim_upsert_bucketed_plan_single_exchange(spark, tmp_path):
    """Exactly two exchanges — the wave's dropDuplicates (whose
    partial HashAggregate collapses web-fan-out href repeats map-side,
    BEFORE any bytes cross the wire) plus the bucket repartition; the
    plan neither scans the dims table nor broadcasts anything."""
    import io
    from contextlib import redirect_stdout

    from website_indexer_spark.operators.dims import dim_upsert_delta_bucketed
    from website_indexer_spark.sources.tables import DIMS_SCHEMA

    store = _write_dims_deltas(
        spark, tmp_path, [[("link", f"/p{i}/") for i in range(20)]], 4
    )
    incoming = spark.createDataFrame(
        [("link", f"/q{i}/") for i in range(50)], DIMS_SCHEMA
    )

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    out = dim_upsert_delta_bucketed(incoming, store.bucketed_files("dims"), 4)
    plan = plan_of(out)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_" in plan or "HashAggregate" in plan, plan
    assert "dstore" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


@pytest.mark.slow
def test_forced_bucketed_dims_crawl_matches_default(spark, tmp_path, monkeypatch):
    """Force the dims MERGE down the storage-partitioned path for a
    whole crawl: the final dims table must equal the default crawl's."""
    web, seed = _rich_site()
    base = C.run_crawl(
        spark, web_dict_to_df(spark, web), seed, str(tmp_path / "a")
    )
    monkeypatch.setattr(C, "HISTORY_BROADCAST_THRESHOLD", -1)
    monkeypatch.setattr(C, "BROADCAST_FETCH_THRESHOLD", -1)
    forced = C.run_crawl(
        spark, web_dict_to_df(spark, web), seed, str(tmp_path / "b")
    )
    for view in ("dim_components", "dim_links"):
        a = sorted(r[0] for r in base.store.read_all(view).collect())
        b = sorted(r[0] for r in forced.store.read_all(view).collect())
        assert a == b, view
    # and the dims layout really is bucketed, grown to DIMS_BUCKETS
    # (the default crawl stays at one bucket)
    assert base.store.dims_buckets == 1
    assert forced.store.dims_buckets == DIMS_BUCKETS
    files = forced.store.bucketed_files("dims")
    assert files and all("bucket=" in p for ps in files.values() for p in ps)
