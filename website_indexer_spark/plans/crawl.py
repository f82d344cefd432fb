"""The BFS superstep crawl driver (SURVEY.md §3.1 rebuild / §4.3).

One superstep = one DataFrame job wave:

    frontier_k --politeness window--> selected
             --max_pages ordered cutoff--> requested (=> seen delta)
             --fetch join web_pages (semi-join hits streamed map-side
               off the lookup scan, wave-broadcast left-outer; shuffle
               fallback over BROADCAST_FETCH_THRESHOLD)--> fetched
             --route+extract in ONE CASE projection (pandas UDF runs
               once per row and also resolves the row's out-links: the
               superstep's only Python pass, cached)--> routed
               (page|error|redirect)
             --page links ∪ redirect locations, already canonical -->
               one JVM-only policy pipeline--> accepted
             --dedup (delta window, deferred, seen anti-join that
               never shuffles the seen side — a small history is
               broadcast whole — w/ persistent striped Bloom
               prefilter: auto-sized, incrementally updated, auto-on
               above BLOOM_AUTO_SEEN_THRESHOLD)--> enqueued
             --discovery_seq (one-partition window sharing the dedup's
               one exchange, or distributed enumeration when
               wave×fan-out estimate exceeds
               DISTRIBUTED_SEQ_THRESHOLD)-->
               frontier_{k+1} (+ deferred)
             --checkpoint: ONE record_type-partitioned routed write +
               seen + frontier; counters from parquet footers;
               manifest commit marker--> next superstep

Reference semantics reproduced (citations into /root/reference/):
* BFS by level, FIFO within level, deterministic total order
  (depth, discovery_seq) — wpull --recursive --level
  (crawler/wpull/crawler.py:29-51)
* request-once (plugin.py:104-106), skip-list (108-110), one-hop
  off-domain (112-119), HEAD conversion (121-126), filename filter
  (129-132), external-site unwrap (134-157), querystring policy
  (159-162), max_pages (88-90)
* response routing (plugin.py:170-281): missing row / NULL html =>
  Error(status_code=0); >=400 => Error; 300-399 => Redirect with
  cross-host locations not followed (236-245); external 200 dropped;
  on-host 200 text/html parsed; no-title page dropped entirely
* crawl lifecycle record (models.py:19-52) + per-superstep lineage
  manifests with counters (the north_rule checkpoint/resume contract)

Scale design: the seen-set anti-join broadcasts the wave's keys and
streams the (10^10-row at design scale) seen table map-side — the
big side is never shuffled or re-aggregated per superstep; the
persistent striped Bloom filter prefilters most candidates without
any driver ever holding the whole bitmap; the politeness window
partitions by host with optional deterministic salting for
mega-hosts; and every superstep's plan is cut at the checkpoint (no
lineage blowup across iterations). The seen and dims tables are
always hash-bucketed: a resumed run first goes through the store's
writer entry (``CrawlStore.rollback_uncommitted``), which finishes an
interrupted rebucket and compacts a legacy flat table, so each
superstep picks only among the broadcast tiers and the storage-
partitioned probe. A new store writes them at one bucket, and the
superstep whose history leaves the broadcast tier grows them
(``grow_history_layout``) before the first bucketed probe. A crash
anywhere in the loop records status=Failed + failure_message on the
crawl record (reference crawler/wpull/crawler.py:16-25) before
re-raising.
"""

from __future__ import annotations

import argparse
import os
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from website_indexer_spark.functions.udfs import (
    crawl_extract_udf,
    with_url_parts,
)
from website_indexer_spark.functions.urltools import (
    canonicalize_url,
    hostname_with_port,
    unwrap_external_site,
)
from website_indexer_spark.operators.frontier import (
    URL_HASH,
    StripedBloom,
    anti_join_seen,
    anti_join_seen_bucketed,
    assign_ordered_seq,
    politeness_select,
    politeness_select_bucketed,
)
from website_indexer_spark.operators.dims import (
    dim_upsert_delta,
    dim_upsert_delta_bucketed,
)
from website_indexer_spark.operators.policy import (
    CrawlPolicy,
    accept_url_filter,
    robots_filter,
)
from website_indexer_spark.sources.tables import (
    DIMS_BUCKETS,
    FRONTIER_SCHEMA,
    SEEN_BUCKETS,
    CrawlStore,
    bucket_files,
    build_spark,
    commit_staged_swap,
    load_web_pages,
    local_frame,
    partition_counts,
    recover_staged_swap,
    swap_staging_dir,
)

# Above this ACCEPTED-delta size the per-superstep discovery_seq
# assignment switches from a single-task window (one job, fine up to
# millions of rows) to the distributed range-partition + offset
# enumeration (three jobs, scales to any size). The delta's size is
# only known after the extract runs, so the switch keys on a
# driver-side estimate: selected-wave size × a conservative fan-out
# bound (VERDICT r1 #1 — keying on the CURRENT frontier undercounted
# by the fan-out factor, pushing multi-million-row sorts through one
# task). Zero extra Spark jobs; both paths produce the identical
# dense numbering, so an over-trigger only costs two small jobs.
DISTRIBUTED_SEQ_THRESHOLD = 2_000_000

# Conservative per-page link fan-out bound for sizing the accepted
# delta before it exists (web pages average 10–50 accepted links).
SEQ_FANOUT_ESTIMATE = 64

# Fetch-simulation join strategy: below this wave size the wave is
# broadcast and the web_pages scan streams map-side (NO shuffle of
# the huge lookup table per superstep); above it, fall back to the
# shuffle join — which on a real deployment is a storage-partitioned
# join against the url-hash-bucketed Iceberg table (no shuffle of the
# big side either). The driver-side selected count picks the path for
# free.
BROADCAST_FETCH_THRESHOLD = 2_000_000

# Tiny waves (the seed superstep, warmup, BFS tails, resumed crawls)
# must not pay a full pass over the lookup table: below this count the
# wave's URLs are collected (a few KB) and pushed into the scan as an
# IN predicate — parquet row-group/page skipping (min/max + column
# index) and in-memory-cache batch pruning turn the "scan" into a
# point lookup, the 100 TB equivalent of an indexed multi-get. Above
# it, amortizing one streamed pass over the wave is cheaper than a
# megarow IN list.
POINT_LOOKUP_THRESHOLD = 4096

# Below this many rows of history, known free from the manifest
# counters, a history table broadcasts whole into one LeftAnti: the
# seen set (requested_total rows, the wave's keys included) in the
# seen exclusion, the dimension keys in the dims MERGE. Above it the
# history streams map-side against the broadcast wave keys, or takes
# the storage-partitioned probe (operators/frontier.py, dims.py).
HISTORY_BROADCAST_THRESHOLD = 500_000

# With use_bloom=None (auto), the persistent striped Bloom prefilter
# turns on once the cumulative seen set crosses this row count —
# below it the exact broadcast anti-join alone is cheaper than the
# probe UDF pass.
BLOOM_AUTO_SEEN_THRESHOLD = 5_000_000

# Per-superstep seen/dims delta writes below this estimated row count
# coalesce to ONE task (one file per bucket dir — fewest files; the
# sandbox-scale common case). The wave is bounded per-host but not in
# total, so a wide crawl's 10^7-row delta must not funnel through one
# write task every superstep — above the threshold the delta
# repartitions BY THE BUCKET COLUMN instead: same bucket=dir layout
# and per-superstep file count (one file per bucket), but one parallel
# task per bucket (VERDICT r3 #2).
DELTA_WRITE_SINGLE_TASK_MAX = 200_000


def bucketed_write(
    df: DataFrame, bucket_expr, n_buckets: int, est_rows: int
) -> DataFrame:
    """``df`` with its ``bucket`` partition column, planned for a
    ``partitionBy(..., "bucket")`` write: ONE task up to
    DELTA_WRITE_SINGLE_TASK_MAX estimated rows, one task per bucket
    above it. One file per bucket dir either way."""
    out = df.withColumn("bucket", bucket_expr)
    if est_rows > DELTA_WRITE_SINGLE_TASK_MAX:
        return out.repartition(n_buckets, F.col("bucket"))
    return out.coalesce(1)


def grow_history_layout(
    store: CrawlStore, seen_rows: int, dims_rows: Optional[int] = None
) -> None:
    """Rebucket a ``seen`` (``dims``) table still at one bucket to
    SEEN_BUCKETS (DIMS_BUCKETS) the first time its history of
    ``seen_rows`` (``dims_rows``) rows exceeds
    HISTORY_BROADCAST_THRESHOLD: from there on the crawl probes the
    table's buckets instead of broadcasting it whole, and below it one
    bucket writes the fewest files. Goes through the crash-safe
    ``CrawlStore.rebucket``. Any other count was chosen on purpose
    (at store creation or by ``rebucket``) and is left alone. Call it
    before the history is read: the rewrite replaces the superstep
    dirs a DataFrame read earlier would list."""

    def grown(n_buckets: int, rows: Optional[int], to: int):
        crossed = rows is not None and rows > HISTORY_BROADCAST_THRESHOLD
        return to if n_buckets == 1 and crossed else None

    store.rebucket(
        seen_buckets=grown(store.seen_buckets, seen_rows, SEEN_BUCKETS),
        dims_buckets=grown(store.dims_buckets, dims_rows, DIMS_BUCKETS),
    )


# Above this wave size the shared extraction cache is materialized by
# ONE full-parallelism job BEFORE the concurrent delta writes. A task
# that first-touches a persisted block another job is computing BLOCKS
# on the cache lock while holding its task slot, so cold-cache
# concurrent writers convoy and idle cores; one noop materialization
# fills the cache contention-free and the writers then read it
# lock-free. Small waves skip it — their extract cost is below the
# extra job's fixed cost.
EAGER_EXTRACT_MATERIALIZE_MIN = 10_000

# Queue size above which a throttled crawl's politeness selection
# switches from the exact per-host window (one hash exchange of the
# whole queue per superstep) to the storage-partitioned bucketed
# selection over a host-bucketed frontier snapshot (no queue exchange
# at all) — requires run_crawl(frontier_buckets=...) so snapshots are
# written host-bucketed. Identical selection either way.
FRONTIER_SELECT_BUCKETED_MIN = 200_000


def maintain_bloom(
    out_dir,
    bloom,
    seen_now,
    delta_keys,
    requested_total,
    n_selected,
    use_bloom=None,
    bloom_bits=None,
):
    """A3's persistent striped-Bloom prefilter maintenance, shared by
    the batch driver and the streaming skin (so the two cannot
    drift). Incremental: each superstep union-merges only the wave's
    seen delta into the filter (never a full-history rebuild unless
    capacity is exceeded), and the filter files are written BEFORE
    the manifest commit so the filter is always a superset of the
    committed seen set — false positives only cost an exact probe,
    false negatives are impossible for committed keys.
    ``requested_total`` IS the cumulative seen count including this
    wave (every seen row was a selected wave member, unique by
    construction), so sizing needs no extra jobs. Returns the live
    filter (already merged with this wave's delta) or None when the
    prefilter is off. ``bloom_bits`` force-sizes the filter and
    disables the capacity-driven rebuild.

    A (re)build writes the new generation in a staging dir and swaps it
    in as ``<out_dir>/bloom`` with ``commit_staged_swap``: a crash
    before the swap leaves the old generation, which still covers every
    committed key, and the resumed superstep rebuilds again."""
    filter_on = use_bloom or (
        use_bloom is None and requested_total >= BLOOM_AUTO_SEEN_THRESHOLD
    )
    if not filter_on:
        return None
    bloom_dir = os.path.join(out_dir, "bloom")
    filt = bloom or StripedBloom.load(bloom_dir)
    if filt is not None and (
        bloom_bits is not None or requested_total <= filt.capacity_keys
    ):
        filt.update(delta_keys, n_keys=n_selected)
        return filt
    # (re)size for 4× the current seen count so capacity doublings
    # amortize; one distributed rebuild pass over the committed
    # history + this wave's delta
    recover_staged_swap(out_dir)
    filt = StripedBloom.create(
        swap_staging_dir(out_dir, 0),
        expected_keys=4 * requested_total,
        total_bits=bloom_bits,
        version=filt.version if filt is not None else 0,
    )
    filt.update(seen_now, n_keys=requested_total)
    commit_staged_swap(out_dir, ["bloom"])
    return StripedBloom.load(bloom_dir)


def fetch_sim_join(web, selected, n_selected):
    """A13 fetch-simulate: the wave left-outer-joined into the huge
    web_pages lookup, synthesized as hits ∪ misses (see the call
    site's comment). Returns (fetched, []): no path caches anything,
    so the list of DataFrames to unpersist is always empty."""
    if n_selected > BROADCAST_FETCH_THRESHOLD:
        # wave itself not broadcastable: plain join — on a real
        # deployment a storage-partitioned join against the
        # url-bucketed Iceberg table
        return selected.join(web, "url", "left"), []
    if n_selected <= POINT_LOOKUP_THRESHOLD:
        # point-lookup path: the wave's URL list is driver-sized (it
        # was just counted from the persisted wave), so push it into
        # the lookup scan as an IN predicate. The "full pass" becomes
        # a stats-pruned point lookup, and both the hits pass and the
        # in-lookup url set read the SAME tiny filtered scan.
        urls = [r[0] for r in selected.select("url").collect()]
        # ONE py4j call: Column.isin(urls) would ship one literal per
        # URL over the py4j socket (thousands of driver round-trips
        # per superstep — measured ~0.3 s per wave); a single SQL IN
        # expression parses JVM-side and pushes down identically
        in_list = ",".join(
            "'" + u.replace("\\", "\\\\").replace("'", "\\'") + "'" for u in urls
        )
        lookup = web.filter(F.expr(f"url IN ({in_list})"))
        in_web = lookup.select("url")
    else:
        # hits: one full-width streamed pass over the lookup scan with
        # the wave broadcast as BuildRight — html bytes stay in
        # executor partitions end to end
        lookup = web
        # misses: which wave urls exist in the lookup at all — answered
        # by a SECOND, url-column-only streamed pass (columnar pruning
        # makes it a tiny fraction of the full-width pass), then a
        # broadcast anti-join of the wave against that wave-bounded
        # url set
        in_web = web.select("url").join(
            F.broadcast(selected.select("url")), "url", "left_semi"
        )
    hits = lookup.join(F.broadcast(selected), "url", "inner")
    null_web_cols = [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in web.schema.fields
        if f.name != "url"
    ]
    misses = selected.join(F.broadcast(in_web), "url", "left_anti").select(
        "*", *null_web_cols
    )
    return hits.unionByName(misses), []


# ----------------------------------------------------------------
# Superstep plan builders — pure DataFrame -> DataFrame, shared by the
# batch driver loop below and the streaming skin
# (streaming/crawl_stream.py), so both run the byte-identical
# route/extract/harvest logic.
# ----------------------------------------------------------------

def with_effective_status(fetched: DataFrame) -> DataFrame:
    """Missing lookup row or NULL html on a 200 => network error 0
    (the fetch-sim encoding of wpull's connection failures)."""
    return fetched.withColumn(
        "eff_status",
        F.when(F.col("status_code").isNull(), F.lit(0))
        .when(
            (F.col("status_code") == 200)
            & F.col("html").isNull()
            & F.col("location").isNull(),
            F.lit(0),
        )
        .otherwise(F.col("status_code")),
    )


def route_and_extract(fetched: DataFrame, start_host: str) -> DataFrame:
    """A14 + A16 in ONE projection: the response router is a CASE over
    eff_status (not three branch DataFrames) and the crawl UDF runs
    exactly once per row — html is nulled out for non-page rows first,
    so the kernel short-circuits on errors/redirects/externals, and
    the Location is nulled out for non-redirect rows, so ``ex.out_links``
    holds a page's resolved links or a redirect's resolved target and
    is NULL otherwise. Rows with NULL record_type vanish entirely:
    external 200s, non-HTML content types, and no-title pages
    (plugin.py:274-281; models.py:125-126). Caller persists (it feeds
    the routed write, the harvest and the dims MERGE), so every
    consumer of the superstep reads one Python pass from the cache."""
    is_on_host_html = (
        (F.col("eff_status") >= 200)
        & (F.col("eff_status") < 300)
        & (F.col("host") == start_host)
        & F.col("content_type").startswith("text/html")
        & F.col("html").isNotNull()
    )
    is_redirect = (F.col("eff_status") >= 300) & (F.col("eff_status") < 400)
    return (
        fetched.withColumn(
            "ex",
            crawl_extract_udf(
                F.when(is_on_host_html, F.col("html")),
                F.col("url"),
                F.when(is_redirect, F.col("location")),
                F.lit(start_host),
            ),
        )
        .withColumn(
            "record_type",
            F.when(
                (F.col("eff_status") == 0) | (F.col("eff_status") >= 400),
                F.lit("error"),
            )
            .when(is_redirect, F.lit("redirect"))
            .when(
                is_on_host_html & F.col("ex.title").isNotNull(), F.lit("page")
            ),
        )
        .filter(F.col("record_type").isNotNull())
    )


def routed_projection(extracted: DataFrame, crawl_id: int) -> DataFrame:
    """The unified routed-delta rows (ROUTED_SCHEMA shape) off the
    cached extraction."""
    is_page = F.col("record_type") == "page"
    return extracted.select(
        "record_type",
        F.lit(crawl_id).alias("crawl_id"),
        F.coalesce(F.col("warc_ts"), F.current_timestamp()).alias("timestamp"),
        "url",
        F.when(is_page, F.col("depth")).alias("depth"),
        F.when(is_page, F.col("discovery_seq")).alias("discovery_seq"),
        F.col("ex.title").alias("title"),
        F.col("ex.language").alias("language"),
        F.col("ex.text").alias("text"),
        F.when(is_page, F.decode(F.col("html"), "UTF-8")).alias("html"),
        F.col("ex.links").alias("links"),
        F.col("ex.components").alias("components"),
        F.when(~is_page, F.col("eff_status").cast("int")).alias("status_code"),
        F.when(
            ~is_page & (F.col("parent_url") != F.col("url")),
            F.col("parent_url"),
        ).alias("referrer"),
        F.when(F.col("record_type") == "redirect", F.col("location")).alias(
            "location"
        ),
    )


def harvest_candidates(
    extracted: DataFrame,
    start_host: str,
    policy: CrawlPolicy,
    robots: Optional[DataFrame],
    depth_cap: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """New frontier candidates: page links and redirect Locations,
    already resolved by the extraction pass (``ex.out_links``), share
    one url-parts → policy pipeline with no Python in it; redirect
    follows keep the redirecting row's depth and additionally require
    the canonical host to BE the start host ("don't follow redirects
    that don't point to the start domain", plugin.py:236-245) —
    unlike links, off-host locations are never one-hop probed.
    Returns accepted candidates, deduped to the first (depth,
    parent_seq, parent_url) observer per url. ``partitions`` pins the
    dedup's url exchange to that many partitions (default: the
    session's shuffle partitions); the crawl's single-task numbering
    passes 1, so the numbering window needs no second exchange."""
    is_page = F.col("record_type") == "page"
    is_redirect = F.col("record_type") == "redirect"
    parents = extracted.filter(is_page | is_redirect).select(
        F.col("url").alias("parent_url"),
        F.col("host").alias("parent_host"),
        F.when(is_page, F.col("depth") + 1)
        .otherwise(F.col("depth"))
        .alias("depth"),
        F.col("discovery_seq").alias("parent_seq"),
        is_redirect.alias("from_redirect"),
        F.col("ex.out_links").alias("out_links"),
    )
    if depth_cap:
        parents = parents.filter(F.col("depth") <= depth_cap)

    candidates = parents.select(
        "parent_url",
        "parent_host",
        "depth",
        "parent_seq",
        "from_redirect",
        F.explode("out_links").alias("url"),
    )
    candidates = with_url_parts(candidates)
    candidates = candidates.filter(
        ~F.col("from_redirect") | (F.col("host") == start_host)
    )
    accepted = accept_url_filter(candidates, start_host, policy)
    accepted = robots_filter(accepted, robots)
    if partitions:
        accepted = accepted.repartition(partitions, "url")
    # within-delta dedup: first observer wins, deterministically
    w_url = Window.partitionBy("url").orderBy("depth", "parent_seq", "parent_url")
    return (
        accepted.withColumn("_rn", F.row_number().over(w_url))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def number_in_one_task(accepted: DataFrame, seq_base: int) -> DataFrame:
    """Dense ``discovery_seq`` from ``seq_base`` in (depth, parent_seq,
    url) order, by one window over a single partition: the numbering of
    deltas below DISTRIBUTED_SEQ_THRESHOLD. Fed by
    ``harvest_candidates(partitions=1)`` through broadcast-only joins,
    its input already sits in that partition and the window adds no
    exchange."""
    w_seq = Window.orderBy("depth", "parent_seq", "url")
    return accepted.withColumn(
        "discovery_seq",
        F.row_number().over(w_seq).cast("long") + F.lit(seq_base - 1),
    ).drop("parent_seq")


@dataclass
class CrawlResult:
    supersteps: int
    pages: int
    errors: int
    redirects: int
    requested: int
    store: CrawlStore


def _seed_frontier(spark: SparkSession, seed_url: str, start_host: str) -> DataFrame:
    canon = canonicalize_url(seed_url)
    if canon is None:
        raise ValueError(
            f"seed URL is not a valid absolute http(s) URL: {seed_url!r}"
        )
    canon = unwrap_external_site(canon, start_host)
    row = [(canon, hostname_with_port(canon), 0, 0, canon, start_host, "GET")]
    return local_frame(spark, row, FRONTIER_SCHEMA)


def run_crawl(
    spark: SparkSession,
    web_pages: DataFrame,
    seed_url: str,
    out_dir: str,
    *,
    max_pages: int = 0,
    depth_cap: int = 0,
    robots: Optional[DataFrame] = None,
    host_budget: Optional[int] = None,
    host_budgets: Optional[DataFrame] = None,
    salt_buckets: int = 1,
    frontier_buckets: Optional[int] = None,
    use_bloom: Optional[bool] = None,
    bloom_bits: Optional[int] = None,
    resume: bool = False,
    extra_frontier: Optional[DataFrame] = None,
    crawl_id: int = 1,
    max_supersteps: int = 1000,
    verbose: bool = False,
) -> CrawlResult:
    policy = CrawlPolicy(start_url=seed_url)
    start_host = hostname_with_port(seed_url)
    store = CrawlStore(spark, out_dir)

    # page timestamps are deterministic: the input table's warc_ts
    # (B11 deterministic mode, SURVEY.md §2.B)
    web = web_pages.select(
        "url", "warc_ts", "html", "status_code", "location", "content_type"
    )
    # the lookup table is streamed EVERY superstep (the broadcast
    # fetch join scans it); cache it once so later waves read the
    # columnar cache instead of re-decompressing parquet. On a real
    # cluster the equivalent is a url-hash-bucketed Iceberg table
    # (storage-partitioned join) — caching 100 TB is not an option,
    # pruning + bucket-local joins are.
    web = web.persist()

    requested_total = 0
    seq_base = 1  # seed took seq 0
    dims_total = 0  # cumulative dimension keys (manifest-tracked)

    if resume and store.last_committed() >= 0:
        # the writer entry: drops a torn superstep and restores the
        # hash-bucketed seen/dims layout (interrupted rebucket, legacy
        # flat store) that every superstep below assumes
        store.rollback_uncommitted()
        last = store.last_committed()
        frontier = store.read_frontier(last)
        # a host-bucketed snapshot only arms the bucketed selection
        # when this run writes the bucket-aligned Crawl-delay overrides
        # too (frontier_buckets); otherwise the window path applies them
        frontier_files = (
            (store.frontier_bucket_files(last) or None)
            if frontier_buckets
            else None
        )
        frontier_count = 0
        for m in store.manifests():
            requested_total += m["counters"]["requested"]
            seq_base = max(seq_base, m["counters"]["seq_base"])
            frontier_count = m["counters"]["enqueued"]
            dims_total += m["counters"].get("components_new", 0) + m[
                "counters"
            ].get("links_new", 0)
        k = last + 1
        if extra_frontier is not None:
            # recrawl re-enqueue (operators/recrawl.py): scheduled
            # URLs join the restored frontier with fresh discovery
            # seqs after everything already enumerated; k-bounded by
            # the recrawl budget, so the count job is one tiny wave.
            extra = extra_frontier.withColumn(
                "discovery_seq", F.col("discovery_seq") + F.lit(seq_base)
            ).select(*FRONTIER_SCHEMA.fieldNames())
            n_extra = extra.count()
            seq_base += n_extra
            frontier = frontier.unionByName(extra)
            frontier_files = None  # the union invalidates the snapshot
            frontier_count += n_extra
    else:
        # a FRESH run must not see a previous crawl's state: stale
        # manifests would scope reads to old supersteps and the old
        # seen set would anti-join the new frontier away
        store.clear()
        frontier = _seed_frontier(spark, seed_url, start_host)
        frontier_files = None  # in-memory seed wave: no snapshot yet
        frontier_count = 1
        k = 0
        store.write_crawl_record(
            {
                "crawl_id": crawl_id,
                "status": "Started",
                "config": {
                    "start_url": seed_url,
                    "max_pages": max_pages,
                    "depth": depth_cap,
                },
                "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )

    totals = {"pages": 0, "errors": 0, "redirects": 0}
    for m in store.manifests() if resume else []:
        for key in totals:
            totals[key] += m["counters"][key]

    def _mark(label: str, t0: float) -> float:
        now = time.time()
        if verbose:
            print(f"    [crawl] step {k} {label}: {now - t0:.2f}s", flush=True)
        return now

    # Per-host Crawl-delay overrides, written ONCE per run as a
    # parquet table partitioned by the SAME pmod(xxhash64(host), B)
    # bucket function as the frontier snapshots: the storage-
    # partitioned politeness selection point-reads only its own
    # bucket's override files, so the budgets NEVER materialize on the
    # driver and the task closure carries file paths, not an O(hosts)
    # dict — the shape that survives 10^8 delay-declaring hosts. The
    # window path keeps using the DataFrame form (broadcast LEFT
    # OUTER join) — identical semantics on both paths.
    budget_files: Optional[dict] = None
    if host_budgets is not None and frontier_buckets:
        budgets_dir = os.path.join(store.root, "crawl_budgets")
        (
            host_budgets.select("host", F.col("budget").cast("long"))
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("host"), F.lit(frontier_buckets)),
            )
            .repartition(frontier_buckets, F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(budgets_dir)
        )
        budget_files = bucket_files(budgets_dir)

    bloom: Optional[StripedBloom] = None
    try:
        while k < max_supersteps:
            t = time.time()
            # frontier size is driver-side state (the previous superstep's
            # footer count / the manifest on resume) — no count job here
            if frontier_count == 0:
                break
            if max_pages and requested_total >= max_pages:
                break

            # --- politeness budget (A11) + mega-host salting -----------
            # Above the queue threshold, with a host-bucketed frontier
            # snapshot on disk, selection goes STORAGE-PARTITIONED
            # (politeness_select_bucketed): one task per host-bucket
            # point-reads its files and ranks locally — the 10^10-row
            # queue never crosses an exchange. Below it (or for the
            # in-memory seed wave) the exact window path runs; both
            # produce the identical (depth, discovery_seq)-ordered
            # per-host selection. A page budget alone throttles only the
            # superstep where it ends: a frontier that fits it
            # (frontier_count is exact, from the footers) is selected
            # whole, with no cutoff job.
            throttled = (
                host_budget is not None
                or host_budgets is not None
                or bool(max_pages)
                and frontier_count > max_pages - requested_total
            )
            selection_cache = None
            # per-host Crawl-delay overrides (policy.crawl_delay_budgets)
            # ride BOTH selection paths: the window path as a broadcast
            # LEFT OUTER join, the bucketed point-read path as the
            # bucket-aligned override parquet written once per run
            # above (each bucket task reads only its own overrides).
            use_bucketed_select = bool(
                (host_budget is not None or budget_files)
                and frontier_files
                and frontier_count > FRONTIER_SELECT_BUCKETED_MIN
            )
            if not use_bucketed_select:
                frontier = frontier.persist()
            if throttled:
                if use_bucketed_select:
                    selection_cache = politeness_select_bucketed(
                        spark, frontier_files, host_budget, FRONTIER_SCHEMA,
                        budget_files=budget_files,
                    ).persist()
                    selected = selection_cache.filter(
                        F.col("_selected")
                    ).drop("_selected")
                    deferred = selection_cache.filter(
                        ~F.col("_selected")
                    ).drop("_selected")
                else:
                    # with a page budget only, deferred is None: rows past
                    # the cutoff below are never requested, because the
                    # crawl stops once it reaches max_pages
                    selected, deferred = politeness_select(
                        frontier, host_budget, salt_buckets,
                        budgets=host_budgets,
                    )
                # --- max_pages ordered cutoff (A10): reference counts
                # every requested URL in visit order; the cutoff keeps the
                # first `remaining` rows in (depth, discovery_seq) order.
                if max_pages:
                    remaining = max_pages - requested_total
                    selected = (
                        selected.orderBy("depth", "discovery_seq").limit(remaining)
                    )
                selected = selected.persist()
                n_selected = selected.count()
            else:
                # unthrottled superstep: selected IS the (already counted,
                # already cached) frontier — no second count job, no empty
                # deferred-side joins downstream
                selected, deferred = frontier, None
                n_selected = frontier_count
            t = _mark("select", t)
            if n_selected == 0:
                frontier.unpersist()
                if selection_cache is not None:
                    selection_cache.unpersist()
                break
            requested_total += n_selected
            # the seen/dims history leaves the broadcast tier: grow a
            # one-bucket table before anything below reads it
            grow_history_layout(store, requested_total, dims_total)

            # --- seen delta: every selected URL is now "requested" ------
            seen_delta = selected.select(
                URL_HASH(F.col("url")).alias("url_hash"), "url"
            )

            # --- fetch-simulate: lookup join into web_pages (A13) -------
            # Left-outer from the wave's perspective, synthesized as
            # hits ∪ misses (fetch_sim_join): html bytes NEVER cross
            # the driver, the lookup table is NEVER shuffled, and all
            # per-superstep work parallelizes. Measured alternatives
            # (600k-page corpus, 4 supersteps): broadcasting the hit
            # rows serializes hundreds of MB of html through one
            # driver thread per fat superstep — a serial floor that
            # capped crawl scaling at ~1.15x from 1→4 cores; caching
            # the hit rows added html-sized memory churn; the adopted
            # hits ∪ (url-only-scan misses) plan scales 2.9x on the
            # same corpus.
            fetched, _ = fetch_sim_join(web, selected, n_selected)
            t = _mark("fetch-join-build", t)
            fetched = with_effective_status(fetched)

            # --- route + extract (A14 + A16), shared plan builders ------
            # persisted: one cached plan feeds the routed write, the
            # frontier harvest and the dims MERGE. It holds the
            # superstep's only Python pass (extraction + out-link
            # resolution), so the harvest chain below is JVM-only and
            # the frontier write's several references to it re-read
            # the cache instead of re-running Python.
            extracted = route_and_extract(fetched, start_host).persist()
            is_page = F.col("record_type") == "page"
            routed_delta = routed_projection(extracted, crawl_id)

            t = _mark("route-extract-build", t)
            # --- harvest + policy + within-delta dedup -------------------
            # the accepted delta's size is unknown until materialized;
            # estimate it from the wave that generated it (VERDICT r1 #1).
            # A delta numbered by the single-task window is deduped in
            # that one partition: the dedup, the seen exclusion and the
            # numbering then run after the harvest's ONE exchange.
            est_accepted = n_selected * SEQ_FANOUT_ESTIMATE
            single_task_seq = est_accepted <= DISTRIBUTED_SEQ_THRESHOLD
            accepted = harvest_candidates(
                extracted, start_host, policy, robots, depth_cap,
                partitions=1 if single_task_seq else None,
            )
            t = _mark("policy-build", t)

            # --- dedup: vs queued, vs seen (A3) --------------------------
            if deferred is not None:
                accepted = accepted.join(
                    deferred.select("url"), "url", "left_anti"
                )
            delta_keys = seen_delta.select("url_hash")
            seen_now = store.read_all("seen").select("url_hash").unionByName(
                delta_keys
            )
            # --- persistent Bloom prefilter (auto-sized) ----------------
            # Incremental: each superstep union-merges only the wave's
            # seen delta into the filter (never a full-history rebuild),
            # and the filter files are written BEFORE the manifest commit
            # so the filter is always a superset of the committed seen
            # set — false positives only cost an exact probe, false
            # negatives are impossible for committed keys. requested_total
            # IS the cumulative seen count (every seen row was a selected
            # wave member, unique by construction), so sizing needs no
            # jobs.
            bloom = maintain_bloom(
                out_dir,
                bloom,
                seen_now,
                delta_keys,
                requested_total,
                n_selected,
                use_bloom=use_bloom,
                bloom_bits=bloom_bits,
            )
            if requested_total <= HISTORY_BROADCAST_THRESHOLD:
                # small history (requested_total IS its row count): the
                # committed seen rows plus the wave's keys broadcast into
                # one LeftAnti. The broadcast does not depend on the
                # harvest, so it runs beside the extraction.
                accepted = anti_join_seen(
                    accepted, seen_now, bloom, small_seen=True
                )
            elif est_accepted <= BROADCAST_FETCH_THRESHOLD:
                accepted = anti_join_seen(
                    accepted, seen_now, bloom, broadcast_frontier=True
                )
            else:
                # above the broadcast threshold the delta's keys must
                # not be broadcast — run the STORAGE-PARTITIONED
                # anti-join against the hash-bucketed committed seen
                # layout (each probe task point-reads only its bucket's
                # files; the seen table is never scanned or exchanged),
                # then exclude this wave's not-yet-committed seen delta
                # (wave-bounded) via broadcast.
                accepted = anti_join_seen_bucketed(
                    accepted,
                    store.seen_bucket_files(),
                    store.seen_buckets,
                    extra_exclude=delta_keys,
                    bloom=bloom,
                    broadcast_extra=n_selected <= BROADCAST_FETCH_THRESHOLD,
                )
            t = _mark("seen-antijoin-build", t)

            # --- deterministic discovery order (§4.2.4) ------------------
            # Small accepted deltas (the common case) take a single-task
            # window — fused into the frontier write. Huge deltas
            # take the 3-job distributed enumeration. Identical dense
            # numbering either way; the switch keys on the estimated size
            # of the delta being numbered (wave × fan-out bound), not the
            # current frontier — a 100k-URL frontier with web fan-out can
            # push millions of accepted rows through the window's one task
            # (VERDICT r1 #1).
            accepted = accepted.select(
                "url",
                "host",
                "depth",
                "parent_url",
                "parent_host",
                "fetch_method",
                "parent_seq",
            )
            seq_persists: list = []
            if not single_task_seq:
                # persist the accepted chain BEFORE the range exchange:
                # repartitionByRange's boundary-sampling job scans its
                # whole (uncached) upstream, so without this the
                # harvest → policy → seen-probe chain
                # runs twice per fat superstep — the sampling pass now
                # populates the cache the real pass reads
                accepted = accepted.persist()
                seq_persists.append(accepted)
                enqueued = assign_ordered_seq(
                    accepted,
                    ["depth", "parent_seq", "url"],
                    start=seq_base,
                    persist_registry=seq_persists,
                ).drop("parent_seq")
            else:
                enqueued = number_in_one_task(accepted, seq_base)

            next_frontier = enqueued.select(*FRONTIER_SCHEMA.fieldNames())
            frontier_pb = None
            if frontier_buckets:
                # host-bucketed snapshot layout: bucket is a pure
                # function of host, recomputed narrowly on EVERY row
                # (never carried across supersteps, so changing the
                # count between runs cannot split a host across
                # buckets within one snapshot). The deferred side from
                # the bucketed selection is already one task per
                # bucket — it flows into the partitionBy write with NO
                # exchange; the window-path deferred (below the
                # selection threshold, hence small) and the new wave
                # take the same single-task/per-bucket switch as the
                # seen delta writes.
                bucket_col = F.pmod(F.xxhash64("host"), F.lit(frontier_buckets))
                new_rows = bucketed_write(
                    next_frontier, bucket_col, frontier_buckets, est_accepted
                )
                if deferred is not None:
                    carried = deferred.select(
                        *FRONTIER_SCHEMA.fieldNames()
                    ).withColumn("bucket", bucket_col)
                    if not use_bucketed_select:
                        carried = carried.coalesce(1)
                    next_frontier = carried.unionByName(new_rows)
                else:
                    next_frontier = new_rows
                frontier_pb = ["bucket"]
            elif deferred is not None:
                next_frontier = deferred.select(
                    *FRONTIER_SCHEMA.fieldNames()
                ).unionByName(next_frontier)

            # --- checkpoint: deltas then manifest (commit marker) --------
            # ONE write materializes all three routed sinks off the cached
            # extraction; counters come from parquet metadata afterwards.
            t = _mark("plan-build", t)
            # --- dimension upsert (A17 persistent form) ---------------
            # Reference writer.py:22-43 bulk_create(ignore_conflicts):
            # append only the wave's NEW component classes / link hrefs.
            # The full dimension streams map-side against the broadcast
            # wave keys (dims.py) — never shuffled, never rewritten.
            page_rows = extracted.filter(is_page)
            incoming = page_rows.select(
                F.lit("component").alias("kind"),
                F.explode("ex.components").alias("key"),
            ).unionByName(
                page_rows.select(
                    F.lit("link").alias("kind"),
                    F.explode("ex.links").alias("key"),
                )
            )
            # same wave-size guard as the seen anti-join: a huge
            # wave's href keys (≈ wave × fan-out) must not be
            # broadcast — above the threshold run the
            # STORAGE-PARTITIONED MERGE probe against the
            # hash-bucketed dims layout (exact on the key strings;
            # no dims-side scan or exchange), mirroring the seen
            # set's bucketed path.
            if dims_total <= HISTORY_BROADCAST_THRESHOLD:
                dims_delta = dim_upsert_delta(
                    store.read_all("dims"),
                    incoming,
                    ["kind", "key"],
                    small_existing=True,
                )
            elif (
                n_selected * SEQ_FANOUT_ESTIMATE
                <= BROADCAST_FETCH_THRESHOLD
            ):
                dims_delta = dim_upsert_delta(
                    store.read_all("dims"),
                    incoming,
                    ["kind", "key"],
                    broadcast_incoming=True,
                )
            else:
                dims_delta = dim_upsert_delta_bucketed(
                    incoming,
                    store.bucketed_files("dims"),
                    store.dims_buckets,
                    ["kind", "key"],
                )

            # The four delta writes are mutually independent (all hang
            # off the persisted extraction / the already-counted wave),
            # so they are submitted as CONCURRENT Spark jobs from driver
            # threads: their fixed per-job latencies (scheduling +
            # parquet commit protocol) overlap instead of summing, and
            # the cluster stays busy while small writes commit. Safe by
            # construction — Spark's block-level cache locks make
            # concurrent first-touch of `extracted` compute each cached
            # block exactly once; the manifest (the only commit marker)
            # is written strictly after every future resolves.
            # seen deltas are narrow (hash+url), written hash-bucketed
            # (bucket=pmod(url_hash, seen_buckets) dirs) so the
            # storage-partitioned anti-join can point-read per bucket
            # (bucketed_write: one task, or one per bucket above
            # DELTA_WRITE_SINGLE_TASK_MAX — VERDICT r3 #2).
            seen_out = bucketed_write(
                seen_delta, store.bucket_expr("seen"), store.seen_buckets,
                n_selected,
            )
            # dims deltas are sized by the wave's fan-out, not the
            # wave: size the write on the same estimate the MERGE uses
            dims_out = bucketed_write(
                dims_delta, store.bucket_expr("dims"), store.dims_buckets,
                est_accepted,
            )
            writes = [
                (
                    "routed",
                    lambda: store.write_delta(
                        "routed", routed_delta, k, partition_by=["record_type"]
                    ),
                ),
                (
                    "seen",
                    lambda: store.write_delta(
                        "seen", seen_out, k, partition_by=["bucket"]
                    ),
                ),
                (
                    "frontier",
                    lambda: store.write_delta(
                        "frontier", next_frontier, k, partition_by=frontier_pb
                    ),
                ),
                (
                    "dims",
                    lambda: store.write_delta(
                        "dims", dims_out, k, partition_by=["kind", "bucket"]
                    ),
                ),
            ]
            # warm the shared extraction cache before the concurrent
            # writers (see EAGER_EXTRACT_MATERIALIZE_MIN)
            if n_selected >= EAGER_EXTRACT_MATERIALIZE_MIN:
                extracted.write.format("noop").mode("overwrite").save()
                t = _mark("extract-materialize", t)

            def _timed(label, fn):
                w0 = time.time()
                fn()
                if verbose:
                    print(
                        f"    [crawl] step {k}   write[{label}]: "
                        f"{time.time() - w0:.2f}s",
                        flush=True,
                    )

            with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                futures = [
                    pool.submit(_timed, label, fn) for label, fn in writes
                ]
                for fut in futures:
                    fut.result()  # re-raises the first write failure
            for cached in seq_persists:  # numbering materialized by the write
                cached.unpersist()
            t = _mark("write-deltas", t)

            # counters from parquet footers — metadata only, no jobs;
            # the same one walk is the manifest's file list
            files = store.delta_files(k)
            counts = partition_counts(files.get("routed", {}))
            n_pages = counts.get("page", 0)
            n_errors = counts.get("error", 0)
            n_redirects = counts.get("redirect", 0)
            n_enqueued = sum(files.get("frontier", {}).values())
            dim_counts = partition_counts(files.get("dims", {}))
            t = _mark("count-footers", t)
            # dense numbering: the delta occupies [seq_base, seq_base+n)
            if deferred is None:
                n_new = n_enqueued
            else:
                n_new = (
                    store.read_frontier(k)
                    .filter(F.col("discovery_seq") >= seq_base)
                    .count()
                )
            seq_base = seq_base + n_new

            totals["pages"] += n_pages
            totals["errors"] += n_errors
            totals["redirects"] += n_redirects
            t = _mark("count-frontier", t)
            store.commit(
                k,
                {
                    "requested": n_selected,
                    "pages": n_pages,
                    "errors": n_errors,
                    "redirects": n_redirects,
                    "enqueued": n_enqueued,
                    "seq_base": seq_base,
                    "frontier_in": frontier_count,
                    "components_new": dim_counts.get("component", 0),
                    "links_new": dim_counts.get("link", 0),
                },
                files,
            )

            dims_total += dim_counts.get("component", 0) + dim_counts.get(
                "link", 0
            )
            frontier.unpersist()
            if selected is not frontier:
                selected.unpersist()
            if selection_cache is not None:
                selection_cache.unpersist()
            extracted.unpersist()
            frontier = store.read_frontier(k)
            frontier_files = (
                (store.frontier_bucket_files(k) or None)
                if frontier_buckets
                else None
            )
            frontier_count = n_enqueued
            t = _mark("commit+unpersist", t)
            k += 1
    except Exception:
        # reference parity: the wpull wrapper catches any crawl
        # failure and records it on the Crawl row before exiting
        # non-zero (crawler/wpull/crawler.py:16-25 try/except →
        # crawl_record.fail(traceback); models.py:49-52 sets
        # status=Failed + failure_message). manage.py clean (D3)
        # then treats the run under the Failed retention bucket.
        record = store.read_crawl_record() or {}
        record.update(
            {
                "status": "Failed",
                "supersteps": k,
                "failure_message": traceback.format_exc(),
            }
        )
        store.write_crawl_record(record)
        raise
    finally:
        web.unpersist()  # don't leak cached blocks across runs (ADVICE r1)

    record = store.read_crawl_record() or {}
    record.update({"status": "Finished", "supersteps": k})
    store.write_crawl_record(record)
    return CrawlResult(
        supersteps=k,
        pages=totals["pages"],
        errors=totals["errors"],
        redirects=totals["redirects"],
        requested=requested_total,
        store=store,
    )


def main() -> None:  # pragma: no cover - CLI for spark-submit --py-files
    ap = argparse.ArgumentParser(description="BFS superstep crawler")
    ap.add_argument("--web-pages", required=True, help="parquet path of web_pages")
    ap.add_argument("--seed", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--max-pages", type=int, default=0)
    ap.add_argument("--depth", type=int, default=0)
    ap.add_argument("--host-budget", type=int, default=None)
    ap.add_argument("--salt-buckets", type=int, default=1)
    ap.add_argument(
        "--frontier-buckets",
        type=int,
        default=None,
        help="write frontier snapshots host-bucketed so big-queue "
        "politeness selection runs storage-partitioned (no queue "
        "exchange); default: flat snapshots + window selection",
    )
    ap.add_argument(
        "--bloom",
        action="store_const",
        const=True,
        default=None,
        help="force the Bloom prefilter on (default: auto above "
        f"{BLOOM_AUTO_SEEN_THRESHOLD} seen URLs)",
    )
    ap.add_argument("--no-bloom", dest="bloom", action="store_const", const=False)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = build_spark(master=args.master)
    web = load_web_pages(spark, args.web_pages)
    result = run_crawl(
        spark,
        web,
        args.seed,
        args.out,
        max_pages=args.max_pages,
        depth_cap=args.depth,
        host_budget=args.host_budget,
        salt_buckets=args.salt_buckets,
        frontier_buckets=args.frontier_buckets,
        use_bloom=args.bloom,
        resume=args.resume,
    )
    print(
        f"crawl finished: supersteps={result.supersteps} pages={result.pages} "
        f"errors={result.errors} redirects={result.redirects} "
        f"requested={result.requested}"
    )


if __name__ == "__main__":  # pragma: no cover
    main()
