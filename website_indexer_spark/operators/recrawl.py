"""Recrawl invalidation — the crawl→index→schedule→re-fetch loop
closed.

The scheduling half already exists: a capture index (sources/cdx.py)
feeds the Cho & Garcia-Molina change-rate estimator, ``recrawl_topk``
picks the k URLs most worth refetching. This module makes those URLs
*fetchable again* without rebuilding any crawl state:

1. **Exact committed seen set** — the scheduled keys are physically
   removed from the seen table by rewriting ONLY the bucket
   directories that can contain them (bucket = pmod(url_hash, B) is
   derivable from the key, so the touched set is |keys| buckets, not
   the table). This is the parquet-manifest emulation of an Iceberg
   ``DELETE FROM seen WHERE url_hash IN (...)`` — bucket-pruned
   rewrite; an Iceberg backend would instead commit positional
   deletes. The rewrites are staged outside the partition namespace
   and swapped in under a marker (sources/tables.py
   ``commit_staged_swap``), so a crash mid-swap is finished by the
   next invalidation or by ``rollback_uncommitted`` on resume. The
   invalidation itself starts at that writer entry, so the seen files
   it rewrites are always bucketed at the store's count (an
   interrupted rebucket is finished first).
2. **Re-enqueue** — ``recrawl_seed_frontier`` shapes the scheduled
   URLs as FRONTIER_SCHEMA rows (depth 0, priority order); the next
   ``run_crawl(resume=True, extra_frontier=...)`` unions them into
   the restored frontier with fresh discovery_seq values.

The persistent Bloom prefilter needs no eviction. Scheduled URLs
re-enter through ``extra_frontier``, which goes straight to politeness
selection and is never probed against the filter; in the refetch
superstep ``maintain_bloom`` ORs the wave's keys back into the filter
before any harvested candidate is probed, so even a deletable filter
would hold them again by then. The exact seen check stays
authoritative either way — a Bloom that still says "maybe seen" costs
at most k extra exact probes.

Driver-boundedness: every driver-side materialization here is bounded
by k (the recrawl_topk budget, caller-chosen) — the url list, its
hashes, and the touched-bucket set are all ≤ k rows. The seen-table
rewrite streams through Spark jobs.

Reference parity note: the reference crawls once and stops (no
recrawl notion anywhere in cfpb/website-indexer); this is part of the
incremental-crawler suite the north rule's Common-Crawl framing
requires.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from website_indexer_spark.operators.frontier import URL_HASH
from website_indexer_spark.sources.tables import (
    commit_staged_swap,
    swap_staging_dir,
)


def recrawl_seed_frontier(topk: DataFrame) -> DataFrame:
    """FRONTIER_SCHEMA rows (discovery_seq = 0..k-1 in schedule
    order) for the scheduled URLs. k-bounded: the single-partition
    window is over the recrawl budget, never corpus data."""
    from pyspark.sql import Window

    from website_indexer_spark.functions.udfs import with_url_parts

    w = Window.orderBy(F.col("priority").desc(), F.col("surt").asc())
    return (
        with_url_parts(topk.withColumn("_rn", F.row_number().over(w)))
        .select(
            F.col("url"),
            F.col("host"),
            F.lit(0).cast("int").alias("depth"),
            (F.col("_rn") - 1).cast("long").alias("discovery_seq"),
            F.lit(None).cast("string").alias("parent_url"),
            F.lit(None).cast("string").alias("parent_host"),
            F.lit("GET").alias("fetch_method"),
        )
    )


def recrawl_invalidate(spark: SparkSession, store, topk: DataFrame) -> dict:
    """Evict the scheduled URLs from the crawl's committed seen table
    so a resumed crawl refetches them. Returns ``{"keys": k,
    "buckets_rewritten": b, "seen_removed": m}``."""
    # the writer entry: finish or drop a crashed swap, and finish an
    # interrupted rebucket, so the files sit at store.seen_buckets
    store.rollback_uncommitted()
    seen_dir = os.path.join(store.root, "seen")
    # the keys are hashed in the collecting job itself, so no driver
    # list goes back to Spark as a DataFrame
    key_hashes = [
        r["url_hash"]
        for r in topk.select("url").distinct()
        .select(URL_HASH(F.col("url")).alias("url_hash"))
        .collect()
    ]  # k-bounded
    if not key_hashes:
        return {"keys": 0, "buckets_rewritten": 0, "seen_removed": 0}

    # bucket-pruned rewrite (Iceberg DELETE WHERE analogue): touched
    # buckets derive from the keys (Python's % is pmod's non-negative
    # remainder)
    touched = sorted({h % store.seen_buckets for h in key_hashes})
    targets = [
        f"superstep={k}/bucket={b}"
        for k in store.committed_steps("seen")
        for b in touched
        if os.path.isdir(os.path.join(seen_dir, f"superstep={k}", f"bucket={b}"))
    ]

    seen_removed = 0
    staged = []
    for rel in targets:
        df = spark.read.schema("url_hash long, url string").parquet(
            os.path.join(seen_dir, rel)
        )
        before = df.count()
        kept = df.filter(~F.col("url_hash").isin(key_hashes))
        after = kept.count()
        if after == before:
            continue  # no scheduled key in this dir — leave untouched
        kept.coalesce(1).write.mode("overwrite").parquet(
            swap_staging_dir(seen_dir, len(staged))
        )
        staged.append(rel)
        seen_removed += before - after
    if staged:
        commit_staged_swap(seen_dir, staged)

    return {
        "keys": len(key_hashes),
        "buckets_rewritten": len(staged),
        "seen_removed": seen_removed,
    }


__all__ = ["recrawl_invalidate", "recrawl_seed_frontier"]
