"""Traced-run probes that call the program's public builders directly:
the leg replay of the crawl's largest superstep, and the extraction
kernel timed over the workload's own html with and without the
Python UDF profiler."""

from __future__ import annotations

import os
import time
from typing import Dict

from pyspark.sql import functions as F

from website_indexer_spark.functions.udfs import extract_udf
from website_indexer_spark.operators.dims import dim_upsert_delta
from website_indexer_spark.operators.frontier import (
    URL_HASH,
    anti_join_seen,
    politeness_select,
)
from website_indexer_spark.operators.policy import CrawlPolicy
from website_indexer_spark.plans.crawl import (
    fetch_sim_join,
    harvest_candidates,
    route_and_extract,
    routed_projection,
    with_effective_status,
)
from website_indexer_spark.sources.tables import CrawlStore

# the kernel microbench replicates the workload's html up to this many
# rows so the timed job is compute-bound, not job-latency-bound
KERNEL_MIN_ROWS = 4000


def _materialize(df):
    """Persist ``df`` and fill the cache; returns (df, rows, seconds)."""
    df = df.persist()
    t0 = time.perf_counter()
    n = df.count()
    return df, n, time.perf_counter() - t0


def _committed_before(spark, store_root: str, table: str, superstep: int):
    """A store table's rows from the supersteps before ``superstep``."""
    tdir = os.path.join(store_root, table)
    return spark.read.option("basePath", tdir).parquet(
        tdir + "/superstep=*"
    ).filter(F.col("superstep") < superstep)


def replay_superstep(
    spark,
    web,
    store: CrawlStore,
    superstep: int,
    seed_url: str,
    start_host: str,
    remaining: int,
    scratch_dir: str,
) -> Dict[str, float]:
    """Rebuild one committed superstep of a ``max_pages`` crawl leg by
    leg from its input frontier snapshot, materializing each leg on its
    own so its time excludes the legs upstream of it; ``remaining`` is
    the page budget left when that superstep began. Returns leg seconds
    keyed ``legs.<leg>_s``."""
    lookup = web.select(
        "url", "warc_ts", "html", "status_code", "location", "content_type"
    ).persist()
    lookup.count()  # the crawl caches its lookup table the same way
    frontier = store.read_frontier(superstep - 1)
    held = [lookup]
    out: Dict[str, float] = {}

    def leg(name: str, df):
        df, n, secs = _materialize(df)
        held.append(df)
        out[f"legs.{name}_s"] = secs
        return df, n

    try:
        # the crawl's own selection under max_pages: politeness_select
        # with no per-host budget, then the ordered cutoff, the first
        # ``remaining`` URLs in (depth, discovery_seq) order
        selected, n_selected = leg(
            "select",
            politeness_select(frontier, None)[0]
            .orderBy("depth", "discovery_seq")
            .limit(remaining),
        )
        fetched, _ = fetch_sim_join(lookup, selected, n_selected)
        fetched, _ = leg("fetch", with_effective_status(fetched))
        extracted, _ = leg("extract", route_and_extract(fetched, start_host))
        accepted, _ = leg(
            "harvest",
            harvest_candidates(
                extracted, start_host, CrawlPolicy(start_url=seed_url), None, 0
            ),
        )
        delta_keys = selected.select(URL_HASH(F.col("url")).alias("url_hash"))
        seen_now = (
            _committed_before(spark, store.root, "seen", superstep)
            .select("url_hash")
            .unionByName(delta_keys)
        )
        leg("seen", anti_join_seen(accepted, seen_now, None, broadcast_frontier=True))
        pages = extracted.filter(F.col("record_type") == "page")
        incoming = pages.select(
            F.lit("component").alias("kind"), F.explode("ex.components").alias("key")
        ).unionByName(
            pages.select(F.lit("link").alias("kind"), F.explode("ex.links").alias("key"))
        )
        existing = _committed_before(spark, store.root, "dims", superstep).select(
            "kind", "key"
        )
        leg(
            "dims",
            dim_upsert_delta(existing, incoming, ["kind", "key"], small_existing=True),
        )
        scratch = CrawlStore(spark, scratch_dir)
        t0 = time.perf_counter()
        scratch.write_delta(
            "routed", routed_projection(extracted, 1), 0, partition_by=["record_type"]
        )
        out["legs.write_s"] = time.perf_counter() - t0
    finally:
        for df in held:
            df.unpersist()
    return out


def kernel_probe(spark, web, start_host: str, ledger) -> Dict[str, float]:
    """``extract_udf`` over the workload's html, replicated to at least
    KERNEL_MIN_ROWS rows: pages/s with the profiler off, then the
    profiled Python time and the share of executor time spent outside
    the UDF body (scan, Arrow conversion, worker round trips)."""
    html = web.filter(F.col("html").isNotNull()).select("html")
    n_html = html.count()
    reps = max(1, -(-KERNEL_MIN_ROWS // n_html))
    rows = html.crossJoin(F.broadcast(spark.range(reps))).select("html")
    job = rows.select(extract_udf(F.col("html"), F.lit(start_host)).alias("ex"))

    def run() -> float:
        t0 = time.perf_counter()
        job.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run()  # first pass fills the Python worker pool
    secs = run()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        spark.profile.clear()
        before = ledger.mark()
        run()
        win = ledger.window(before, ledger.mark())
        run_s = ledger.totals(win.stage_owner).run_ms / 1000.0
        python_s = sum(
            st.total_tt
            for st in spark._profiler_collector._perf_profile_results.values()
        )
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        spark.profile.clear()
    return {
        "extract.pages_per_s": n_html * reps / secs,
        "extract.rows": float(n_html * reps),
        "extract.python_s": python_s,
        "extract.boundary_share": max(0.0, 1.0 - python_s / run_s) if run_s else 0.0,
    }
