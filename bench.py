"""Benchmark harness (driver contract: one JSON line to stdout).

Two benchmark families:

1. **Crawl throughput** — the headline metric from BASELINE.json
   ("frontier URLs processed/sec, pages fetched+extracted"): generate
   the deterministic synthetic Common-Crawl-style corpus, run the BFS
   superstep crawler end-to-end, report requested URLs/sec; plus an
   extraction-only microbench (the pandas-UDF kernel at full
   parallelism, no superstep overhead).
2. **Query suite** — headline analytics/training-data operators from
   the catalog at $SPARK_GRAFT_SF_DIR, each timed to full
   materialization (noop sink — no driver collect skew).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_CRAWL_PAGES (override corpus size).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from website_indexer_spark.plans import catalog
from website_indexer_spark.plans.crawl import run_crawl
from website_indexer_spark.sources.synth import generate_web_pages
from website_indexer_spark.sources.tables import build_spark, load_web_pages

BENCH_QUERIES = [
    "search_text",
    "join_search",
    "group_agg",
    "window_hourly",
    "topk_retention",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "lang_id",
    "quality",
    "token_counts",
    "ann_topk",
    "ann_lsh",
    "ann_ivf",
    "semdedup",
    "hash_sample",
    "media_meta",
    "embedding_dup_pairs_lsh",
    "dimension_upsert",
    # (dimension_upsert_bucketed stays gate-only: its bench time would
    # be ~90% scratch-layout setup write, not the probe. The entries
    # listed in BENCH_NOTES below are recorded WITH a fixed-cost
    # annotation: at bench SF their wall time is dominated by
    # per-round/driver fixed costs that amortize at deployment scale.)
    "seen_anti_join_bucketed",
    "seen_anti_join_bloom",
    "politeness_bucketed",
    "dedup_clusters",
    "stratified_sample",
    "mixture_sample",
    "mixture_pack",
    "repetition_stats",
    "repetition_filter",
    "gopher_stats",
    "gopher_filter",
    "pagerank",
    "host_pagerank",
    "link_degrees",
    "wet_roundtrip",
    "sitemap_entries",
    "anchor_text",
    "dedup_normalized",
    "compression_ratio",
    "dedup_spans",
    "dedup_span_removal",
    "doc_pack",
    "lm_logloss",
    "host_filter",
    "incremental_dedup",
    "c4_line_stats",
    "c4_clean",
    "paragraph_dedup",
    "paragraph_dedup_snapshot",
    "url_filter",
    "cdx_index",
    "frontier_topk",
    "cdx_collapse",
    "cdx_latest",
    "robots_sitemaps",
    "wat_roundtrip",
    "crawl_delay_budgets",
    "dsir_logratio",
    "ccnet_buckets",
    "anf_sketch",
    "recrawl_schedule",
    "recrawl_frontier",
    "encoding_filter",
    "pii_scrub",
    "topk_terms",
    "decontam_report",
    "distinctive_terms",
    "pretrain_pipeline",
    # r4 verdict item 4: the previously-unbenched substantive ops
    "dedup_stream",
    "hits",
    "host_components",
    "quantile_buckets",
    "quantile_buckets_by_lang",
    "cdx_merge",
    "dsir_model",
    "warc_ingest",
    "harmonic_rank",
    # r5 capstone: archive bytes -> training shards, one plan
    "dump_to_shards",
    # r5 late additions: tokenizer fitting + weighted sampling
    "bpe_pair_counts",
    "bpe_merges",
    "weighted_sample",
]

# fixed-cost-bound entries (annotation rides the bench JSON so a
# reader never mistakes sandbox fixed cost for scale cost)
BENCH_NOTES = {
    "dedup_stream": "scratch-store replay: time is dominated by the "
                    "per-batch commit fixed cost, not data volume",
    "hits": "sequential mutual-reinforcement barriers (3 rounds x "
            "rescale): round latency, vanishes when rounds are "
            "minutes of shuffle",
    "host_components": "driver-looped star-contraction rounds: "
                       "per-round job latency dominates at bench SF",
    "quantile_buckets": "one histogram exchange + broadcast map: "
                        "near-pure fixed cost at bench SF",
    "quantile_buckets_by_lang": "same histogram protocol keyed by "
                                "(lang, value)",
    "cdx_merge": "merge of two driver-synthesized index shards: "
                 "setup-dominated at bench SF",
    "dsir_model": "hashed-bigram count model build: two "
                  "partial-aggregated exchanges, fixed-cost-bound "
                  "at bench SF",
    "warc_ingest": "driver-side archive synthesis (<=300 docs) + "
                   "one-task-per-archive parse: synthesis is setup, "
                   "not scan cost",
    "harmonic_rank": "includes the full 3-round ANF flood upstream "
                     "of the rank",
    "dump_to_shards": "the 10-stage capstone chain incl. archive "
                      "synthesis + two eager stage jobs; per-stage "
                      "costs are the individually benched operators",
    "bpe_merges": "5 sequential trainer rounds (count + argmax + "
                  "re-segment) over a 120-doc corpus: round latency, "
                  "not data volume",
}


def _materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_pages = int(os.environ.get("BENCH_CRAWL_PAGES", str(max(1000, int(60_000 * sf)))))
    # web pages link to ~8 children (log_8 BFS depth): wide waves like
    # a real site map, not a binary-tree worst case
    branching = int(os.environ.get("BENCH_BRANCHING", "8"))
    # the extraction microbench must be COMPUTE-bound to measure the
    # kernel (not job fixed costs): replicate the corpus in-memory
    # until it carries ~EXTRACT_TARGET_ROWS html blobs
    extract_target = int(os.environ.get("BENCH_EXTRACT_ROWS", "100000"))

    spark = build_spark(
        app_name="wi-bench",
        master=f"local[{cpus}]",
        # shuffle width tracks the core count (floor 16): AQE
        # re-coalesces small shuffles at runtime, but a FIXED width
        # below the core count caps every post-shuffle stage — at
        # local[32] a 16-wide shuffle leaves half the cores idle,
        # which is a config artifact, not a scaling property
        shuffle_partitions=int(
            os.environ.get("BENCH_SHUFFLE_PARTITIONS", str(max(16, 2 * cpus)))
        ),
        extra_conf={
            # local mode: the driver JVM IS the executor — size it for
            # cpus concurrent tasks over multi-MB html rows (the 1g
            # default thrashes GC and inverts the core-count scaling)
            "spark.driver.memory": os.environ.get("BENCH_DRIVER_MEM", "16g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="wi_bench_")
    timings: dict[str, float] = {}
    try:
        # ---- corpus generation (not part of the timed crawl) -------
        # BENCH_CORPUS_DIR: optional shared cache — the corpus is
        # deterministic in (n_pages, branching, seed), so repeated
        # runs (e.g. the scaling harness) can reuse one copy
        cache_root = os.environ.get("BENCH_CORPUS_DIR")
        if cache_root:
            corpus_path = os.path.join(
                cache_root, f"web_pages_n{n_pages}_b{branching}"
            )
        else:
            corpus_path = os.path.join(work, "web_pages")
        t0 = time.time()
        if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
            generate_web_pages(
                spark,
                n_pages=n_pages,
                n_hosts=20,
                seed=42,
                partitions=max(cpus, 16),
                branching=branching,
            ).write.mode("overwrite").parquet(corpus_path)
        timings["corpus_gen"] = round(time.time() - t0, 3)

        web = load_web_pages(spark, corpus_path)
        n_rows = web.count()

        # ---- extraction-only microbench ----------------------------
        from pyspark.sql import functions as F

        from website_indexer_spark.functions.udfs import extract_udf

        html_pages = web.filter(F.col("html").isNotNull())
        n_html = html_pages.count()
        # BENCH_SKIP_EXTRACT: the extraction microbench always covers
        # the full corpus at least once (replicate >= 1), so on a
        # multi-million-page corpus it dwarfs the crawl leg — skippable
        # for crawl-focused measurements (e.g. the amortization A/B)
        skip_extract = bool(os.environ.get("BENCH_SKIP_EXTRACT"))
        replicate = max(1, -(-extract_target // max(n_html, 1)))
        # replication is map-side (broadcast range crossJoin) over many
        # small file splits — NO shuffle of html bytes, so the timed
        # region is pure parallel scan+decode+extract
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        fine_web = load_web_pages(spark, corpus_path).filter(
            F.col("html").isNotNull()
        )
        bench_pages = fine_web.crossJoin(
            F.broadcast(spark.range(replicate).select(F.col("id").alias("_rep")))
        )
        n_extract_rows = n_html * replicate
        # warm the python worker pool + codegen outside the timed run
        # (still wanted when skipping: the crawl leg uses the same UDF)
        _materialize(
            html_pages.limit(64).select(
                extract_udf(F.col("html"), F.lit("host0.test")).alias("ex")
            )
        )
        extract_s = float("inf")
        if skip_extract:
            n_extract_rows = 0
            extract_s = 0.0
        else:
            for _rep in range(
                max(1, int(os.environ.get("BENCH_EXTRACT_REPEATS", "2")))
            ):
                t0 = time.time()
                _materialize(
                    bench_pages.select(
                        "url",
                        extract_udf(F.col("html"), F.lit("host0.test")).alias("ex"),
                    )
                )
                extract_s = min(extract_s, time.time() - t0)
            timings["extract_only"] = round(extract_s, 3)
        # crawl-phase split size: the lookup scan carries the crawl's
        # extraction work, so its task count must cover the cores. A
        # real Common-Crawl corpus arrives in thousands of ~100 MB
        # files and parallelizes naturally; the bench corpus is a
        # handful of files, so size splits to give ~4 scan tasks per
        # core (floored at 8 MB so tiny corpora aren't shredded into
        # scheduling overhead). At the default 128 MB the fat-corpus
        # scan was ~6 tasks — local[32] measured SLOWER than local[8]
        # purely from this starvation (r5 scaling investigation).
        corpus_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dn, fns in os.walk(corpus_path)
            for f in fns
        )
        split_mb = int(os.environ.get(
            "BENCH_CRAWL_SPLIT_MB",
            str(max(8, corpus_bytes // (4 * cpus * 1024 * 1024) or 8)),
        ))
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(split_mb * 1024 * 1024)
        )

        # ---- end-to-end crawl (the headline) -----------------------
        # warm-up: 2 supersteps on a scratch dir so one-time costs
        # (whole-stage-codegen Janino compiles, JIT, Python worker
        # pool spin-up) are not charged to the steady-state number —
        # on a long-lived cluster job they amortize to nothing
        t0 = time.time()
        run_crawl(
            spark,
            web,
            "https://host0.test/p0/",
            os.path.join(work, "crawl_warmup"),
            max_supersteps=2,
        )
        timings["crawl_warmup"] = round(time.time() - t0, 3)

        # best-of-N crawl runs: this sandbox is a host-shared VM whose
        # available CPU swings ~4x between minutes (measured: the same
        # 2-superstep crawl taking 10.7 s and 50.4 s twenty minutes
        # apart). The minimum is the machine-capability number; noise
        # only ever adds time.
        repeats = int(os.environ.get("BENCH_CRAWL_REPEATS", "2"))
        crawl_s = float("inf")
        for rep in range(max(1, repeats)):
            t0 = time.time()
            result = run_crawl(
                spark,
                web,
                "https://host0.test/p0/",
                os.path.join(work, f"crawl{rep}"),
                salt_buckets=1,
            )
            crawl_s = min(crawl_s, time.time() - t0)
        timings["crawl"] = round(crawl_s, 3)
        urls_per_sec = result.requested / crawl_s if crawl_s > 0 else 0.0

        # ---- compaction maintenance pass (VERDICT r2 #7) -----------
        # A crawl writes one delta dir per superstep per table; the
        # compaction pass (Iceberg rewrite_data_files analogue) is the
        # small-file maintenance that keeps scan planning flat. Bench
        # it at the crawl's real output: file counts before/after, the
        # rewrite cost, and a viewer-shaped scan timed on both layouts
        # — the evidence the maintenance pays for itself.
        compaction = None
        if not os.environ.get("BENCH_SKIP_COMPACTION"):
            store = result.store

            def _pages_scan_s() -> float:
                t0 = time.time()
                _materialize(
                    store.read_all("pages").select("url", "title", "language")
                )
                return round(time.time() - t0, 3)

            scan_before = _pages_scan_s()
            t0 = time.time()
            stats = store.compact()
            compact_s = round(time.time() - t0, 3)
            compaction = {
                "compact_sec": compact_s,
                "files_before": {
                    n: s["files_before"] for n, s in stats.items()
                },
                "files_after": {n: s["files_after"] for n, s in stats.items()},
                "pages_scan_sec_before": scan_before,
                "pages_scan_sec_after": _pages_scan_s(),
            }

        # ---- query suite at sf_dir ---------------------------------
        suite = [] if os.environ.get("BENCH_SKIP_QUERIES") else BENCH_QUERIES
        for name in suite:  # noqa: B007
            fn = catalog.SPARK_QUERIES[name]
            t0 = time.time()
            _materialize(fn(spark, sf_dir))
            timings[name] = round(time.time() - t0, 3)

        out = {
            "metric": "frontier URLs processed/sec (fetched+extracted)",
            "value": round(urls_per_sec, 2),
            "unit": "urls/sec",
            "queries": timings,
            "sf": sf,
            "crawl": {
                "corpus_rows": n_rows,
                "html_rows": n_html,
                "requested": result.requested,
                "pages": result.pages,
                "errors": result.errors,
                "redirects": result.redirects,
                "supersteps": result.supersteps,
                "crawl_sec": round(crawl_s, 3),
                "extract_rows": n_extract_rows,
                "extract_pages_per_sec": round(n_extract_rows / extract_s, 2)
                if extract_s > 0
                else 0.0,
            },
            "cpus": cpus,
            "bench_notes": {
                k: v for k, v in BENCH_NOTES.items() if k in timings
            },
        }
        if compaction is not None:
            out["compaction"] = compaction

        # ---- streaming block (r4 verdict item 9) -------------------
        # Replay the benchmark crawl's frontier waves through the
        # Structured Streaming skin (foreachBatch + availableNow) over
        # a fresh store, then replay the SAME waves again with a fresh
        # checkpoint over the now-populated store — the at-least-once
        # recovery path, where every wave dies in the seen anti-join.
        # Wave-file setup (driver copies + mtime spacing) is untimed.
        if not os.environ.get("BENCH_SKIP_STREAMING"):
            import glob as _glob

            from website_indexer_spark.plans import crawl as C
            from website_indexer_spark.sources.tables import FRONTIER_SCHEMA
            from website_indexer_spark.streaming.crawl_stream import (
                run_crawl_stream,
            )
            from website_indexer_spark.functions.urltools import (
                hostname_with_port,
            )

            seed = "https://host0.test/p0/"
            seed_df = C._seed_frontier(spark, seed, hostname_with_port(seed))
            src = os.path.join(work, "frontier_stream")
            os.makedirs(src, exist_ok=True)
            waves = [seed_df]
            for k in range(result.supersteps):
                try:
                    waves.append(result.store.read_frontier(k))
                except Exception:
                    break  # final snapshot may be empty/absent
            for i, wdf in enumerate(waves):
                tmp = os.path.join(work, f"wave{i}")
                wdf.coalesce(1).write.mode("overwrite").parquet(tmp)
                (part,) = _glob.glob(os.path.join(tmp, "part-*.parquet"))
                shutil.copyfile(part, os.path.join(src, f"wave{i}.parquet"))
                time.sleep(1.05)  # distinct mtimes => deterministic order

            def _stream_run(out_name: str, ckpt_name: str) -> float:
                stream = (
                    spark.readStream.schema(FRONTIER_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                t0 = time.time()
                run_crawl_stream(
                    stream,
                    web,
                    os.path.join(work, out_name),
                    seed,
                    os.path.join(work, ckpt_name),
                )
                return round(time.time() - t0, 3)

            drain_s = _stream_run("stream_crawl", "stream_ckpt")
            # recovery: same store, fresh checkpoint — at-least-once
            # replay swallowed by the seen set
            replay_s = _stream_run("stream_crawl", "stream_ckpt2")
            out["streaming"] = {
                "waves": len(waves),
                "requested": result.requested,
                "drain_sec": drain_s,
                "urls_per_sec": round(result.requested / drain_s, 2)
                if drain_s > 0
                else 0.0,
                "replay_recovery_sec": replay_s,
                "note": "foreachBatch availableNow over the batch "
                        "crawl's frontier waves; recovery = full "
                        "at-least-once re-replay against the "
                        "populated store (fresh checkpoint), all "
                        "waves dying in the seen anti-join",
            }
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
