"""Streaming crawl skin (SURVEY §2.A as a Structured Streaming sink):
a ``foreachBatch`` superstep that replays a frontier STREAM into the
same ``CrawlStore`` the batch driver writes — each micro-batch is one
crawl superstep (seen anti-join → fetch-simulate → extract → route →
delta append + manifest commit), built from the exact plan builders
``plans/crawl.py`` uses, so batch and stream produce byte-identical
page/error/redirect rows.

Where this fits: the batch driver owns BFS ordering (it must — step
k's frontier is derived from step k-1's pages). The streaming skin is
the *continuous-ingest* deployment shape: frontier waves arrive from
outside (a link-discovery service, a re-crawl scheduler, a replayed
frontier log) and the engine keeps crawling without a driver loop.

Consistency story, identical to batch resume:
* cross-batch dedup state IS the store's committed seen table (plus
  its Bloom/bucketed layouts) — no separate streaming state store to
  drift out of sync. Each batch enters through the store's writer
  entry (``rollback_uncommitted``), which also restores the
  hash-bucketed seen layout (an interrupted rebucket, a legacy flat
  store), so every batch writes and probes one layout;
* exactly-once per superstep: deltas land under ``superstep=K`` first,
  the manifest commit is last. A batch that crashes mid-write leaves
  no manifest; on restart Structured Streaming replays the batch,
  ``rollback_uncommitted`` drops the torn delta, and the rewrite is
  idempotent. Re-delivered (at-least-once) frontier rows are swallowed
  by the seen anti-join.

Re-enqueue of harvested links is intentionally NOT wired back into the
stream source here (a self-feeding file-source loop is a demo trick,
not a deployment pattern); ``emit_discovered`` exposes the accepted
candidate harvest so an external queue can close the loop.
"""

from __future__ import annotations

import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from website_indexer_spark.functions.urltools import hostname_with_port
from website_indexer_spark.operators.frontier import (
    URL_HASH,
    StripedBloom,
    anti_join_seen,
    anti_join_seen_bucketed,
)
from website_indexer_spark.operators.policy import CrawlPolicy
from website_indexer_spark.plans.crawl import (
    BLOOM_AUTO_SEEN_THRESHOLD,
    BROADCAST_FETCH_THRESHOLD,
    bucketed_write,
    fetch_sim_join,
    grow_history_layout,
    harvest_candidates,
    maintain_bloom,
    route_and_extract,
    routed_projection,
    with_effective_status,
)
from website_indexer_spark.sources.tables import CrawlStore, partition_counts


def crawl_stream_step(
    web: DataFrame,
    out_dir: str,
    start_url: str,
    *,
    depth_cap: int = 0,
    robots: Optional[DataFrame] = None,
    crawl_id: int = 1,
    emit_discovered: Optional[Callable[[DataFrame, int], None]] = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function. ``web`` is the fetch-sim
    lookup table (or swap a ``real_fetch`` wrapper at the fetched=
    line, same as the batch driver). ``emit_discovered(accepted_df,
    superstep)`` receives each batch's accepted, seen-deduped candidate
    harvest for external re-enqueue."""
    pol = CrawlPolicy(start_url=start_url)
    start_host = hostname_with_port(start_url)
    lookup = web.select(
        "url", "warc_ts", "html", "status_code", "location", "content_type"
    )

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        store = CrawlStore(spark, out_dir)
        # replayed batch: drop the torn delta; restore the bucketed layout
        store.rollback_uncommitted()
        k = store.last_committed() + 1

        # cumulative requested count from the manifest counters — the
        # same free sizing signal the batch driver threads through its
        # loop (at 10^5 supersteps these are driver-side JSON reads;
        # a deployment caches the running sum in the latest manifest)
        requested_total = sum(
            m["counters"].get("requested", 0) for m in store.manifests()
        )
        bloom = (
            StripedBloom.load(os.path.join(out_dir, "bloom"))
            if requested_total >= BLOOM_AUTO_SEEN_THRESHOLD
            else None
        )
        n_in = batch_df.count()
        # the batch driver's layout growth, on the seen history with
        # this batch counted in as the driver counts its wave: a batch
        # big enough for the bucketed probe below grows a one-bucket
        # table first (the stream keeps no dims table)
        grow_history_layout(store, requested_total + n_in)
        seen = store.read_all("seen").select("url_hash")
        # the batch driver's threshold switch (VERDICT r3 next #4):
        # broadcastable batches take the broadcast anti-join; above the
        # threshold the storage-partitioned bucketed probe (no seen-side
        # scan or exchange)
        if n_in <= BROADCAST_FETCH_THRESHOLD:
            wave = anti_join_seen(batch_df, seen, bloom)
        else:
            wave = anti_join_seen_bucketed(
                batch_df,
                store.seen_bucket_files(),
                store.seen_buckets,
                bloom=bloom,
            )
        # within-batch dedup: first observer in BFS order wins
        w = Window.partitionBy("url").orderBy("depth", "discovery_seq")
        wave = (
            wave.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .persist()
        )
        try:
            n = wave.count()
            if n == 0:
                return
            seen_delta = wave.select(
                URL_HASH(F.col("url")).alias("url_hash"), "url"
            )
            delta_keys = seen_delta.select("url_hash")
            # OR this wave into the persistent Bloom BEFORE the commit
            # (superset invariant), exactly like the batch driver
            bloom = maintain_bloom(
                out_dir,
                bloom,
                seen.unionByName(delta_keys),
                delta_keys,
                requested_total + n,
                n,
            )
            fetched, _ = fetch_sim_join(lookup, wave, n)
            fetched = with_effective_status(fetched)
            extracted = route_and_extract(fetched, start_host).persist()
            try:
                store.write_delta(
                    "routed",
                    routed_projection(extracted, crawl_id),
                    k,
                    partition_by=["record_type"],
                )
                # the batch driver's bucketed seen write (VERDICT r3 #2)
                store.write_delta(
                    "seen",
                    bucketed_write(
                        seen_delta, store.bucket_expr("seen"),
                        store.seen_buckets, n,
                    ),
                    k,
                    partition_by=["bucket"],
                )
                if emit_discovered is not None:
                    accepted = harvest_candidates(
                        extracted, start_host, pol, robots, depth_cap
                    )
                    accepted = anti_join_seen(
                        accepted, seen.unionByName(delta_keys)
                    )
                    emit_discovered(accepted, k)
                files = store.delta_files(k)
                counts = partition_counts(files.get("routed", {}))
                store.commit(
                    k,
                    {
                        "requested": n,
                        "pages": counts.get("page", 0),
                        "errors": counts.get("error", 0),
                        "redirects": counts.get("redirect", 0),
                        "stream_batch_id": batch_id,
                    },
                    files,
                )
            finally:
                extracted.unpersist()
        finally:
            wave.unpersist()

    return step


def run_crawl_stream(
    frontier_stream: DataFrame,
    web: DataFrame,
    out_dir: str,
    start_url: str,
    checkpoint_dir: str,
    **step_kwargs,
):
    """Wire the step as a foreachBatch sink with availableNow
    semantics (drain everything queued, then stop). Returns the
    terminated StreamingQuery."""
    q = (
        frontier_stream.writeStream.foreachBatch(
            crawl_stream_step(web, out_dir, start_url, **step_kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


__all__ = ["crawl_stream_step", "run_crawl_stream"]
