"""The driver-facing query catalog: every SQL-expressible operator
from SURVEY.md §2 (viewer surface §2.C, maintenance §2.D) plus the
training-data operators (dedup, similarity, text analysis), each as a
(spark_fn, oracle_sql) pair over the /root/testdata tables.

Contract (README of the build driver): each spark fn takes
(spark, sf_dir) and returns a DataFrame; oracle SQL is ANSI/DuckDB
SQL over pre-registered views of the same parquet files; column
names/aliases MUST match between the two; approximate operators with
no SQL mirror ship without oracle (rows-only check).

Numeric-determinism rules used throughout (so value hashes match
across engines): aggregates over doubles are avoided in favor of
exact integer sums (quantities are integral; prices go through
round(x*100) cents), ratios are single double divisions of exact
ints (bit-identical IEEE in any engine), and float *scores* are kept
out of output columns where ranking suffices.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from website_indexer_spark.functions import redact
from website_indexer_spark.functions import textstats as ts
from website_indexer_spark.operators import (
    clusters,
    decontam,
    dedup,
    lmscore,
    multimodal,
    packing,
    sampling,
    similarity,
    webquality,
)
from website_indexer_spark.operators.dims import dim_upsert_delta
from website_indexer_spark.plans import queries as vq

SparkQuery = Callable[[SparkSession, str], DataFrame]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------
# Viewer surface (§2.C) mapped onto the testdata tables. The same
# plans/queries.py operators the crawl viewer uses, applied to
# documents/orders/lineitem in place of pages/errors/redirects.
# --------------------------------------------------------------------

def q_search_empty(spark, sf):  # C1/C3: pure projection
    return _t(spark, sf, "documents").select("doc_id", "source", "lang", "n_chars")


def q_search_text(spark, sf):  # C2: case-insensitive substring search
    docs = _t(spark, sf, "documents")
    return docs.filter(
        F.contains(F.lower(F.col("text")), F.lit("merge batch"))
    ).select("doc_id", "source", "lang")


def q_search_name(spark, sf):  # C2 over a second column/table
    return (
        _t(spark, sf, "part")
        .filter(F.contains(F.lower(F.col("p_name")), F.lit("widget")))
        .select("p_partkey", "p_name", "p_retailprice")
    )


def q_language_filter(spark, sf):  # C6 secondary equality filter
    return vq.filter_language(
        _t(spark, sf, "documents").withColumn("language", F.col("lang")), "en"
    ).select("doc_id", "source")


def q_token_search_distinct(spark, sf):  # C4 default fork: explode+distinct
    docs = _t(spark, sf, "documents")
    return (
        docs.select(
            "doc_id", "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .filter(F.contains(F.col("tok"), F.lit("merge")))
        .select("doc_id", "source")
        .dropDuplicates(["doc_id", "source"])
    )


def q_token_search_csv(spark, sf):  # C4 CSV fork: exploded, no distinct
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.contains(F.col("tok"), F.lit("merge")))


def q_join_search(spark, sf):  # C5-shaped join + substring filter
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.contains(F.lower(F.col("o_orderpriority")), F.lit("urgent")))
        .select("l_orderkey", "l_linenumber", "o_orderpriority")
    )


def q_pagination(spark, sf):  # C7/C8 ordered LIMIT/OFFSET page
    return vq.paginate(
        _t(spark, sf, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey"),
        page_number=5,
        page_size=25,
    )


def q_detail_lookup(spark, sf):  # C9 exact-match detail
    return _t(spark, sf, "documents").filter(F.col("doc_id") == 42)


def q_stats_agg(spark, sf):  # C11 count/min/max + duration
    return (
        _t(spark, sf, "events")
        .agg(
            F.count("ts").alias("n_events"),
            F.min("ts").alias("started"),
            F.max("ts").alias("ended"),
        )
        .withColumn(
            "duration_s", F.unix_timestamp("ended") - F.unix_timestamp("started")
        )
    )


def q_title_scrub(spark, sf):  # C12 suffix scrub projection
    return _t(spark, sf, "customer").select(
        "c_custkey",
        F.regexp_replace(F.col("c_name"), "[0-9]+$", "").alias("scrubbed_name"),
    )


def q_computed_flags(spark, sf):  # C13-shaped computed boolean columns
    return _t(spark, sf, "orders").select(
        "o_orderkey",
        (F.col("o_orderstatus") == "O").alias("is_open"),
        (F.col("o_totalprice") > 200000.0).alias("is_big"),
    )


def q_latest_scope(spark, sf):  # LatestCrawlManager-shaped scoping semi-join
    orders = _t(spark, sf, "orders")
    latest = orders.agg(F.max("o_orderdate").alias("d"))
    scoped = orders.join(
        F.broadcast(latest), orders.o_orderdate == latest.d, "left_semi"
    )
    li = _t(spark, sf, "lineitem")
    return li.join(
        scoped.select("o_orderkey"), li.l_orderkey == scoped.o_orderkey, "left_semi"
    ).select("l_orderkey", "l_linenumber", "l_partkey")


def q_topk_retention(spark, sf):  # D3 top-K retention window
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_orderdate"), F.asc("o_orderkey")
    )
    return (
        _t(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 5)
        .select("o_orderkey", "o_orderstatus", "rn")
    )


def q_group_agg(spark, sf):  # TPC-H Q1-shaped partial-agg rollup
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "sum_price_cents"
        ),
        F.count("*").alias("n_rows"),
    )


def q_window_hourly(spark, sf):  # tumbling-window event rollup
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), F.max("value").alias("max_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n", "max_value")
    )


def q_json_props(spark, sf):  # semi-structured extraction
    return (
        _t(spark, sf, "events")
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .filter(F.col("k") > 90)
    )


# --------------------------------------------------------------------
# Wider relational surface (beyond the reference's own operator set —
# §2.E notes the reference has no rollup/set-ops/sessionization; the
# engine supports them as first-class, oracle-verified operators)
# --------------------------------------------------------------------

def q_rollup_agg(spark, sf):  # GROUPING SETS / ROLLUP
    return (
        _t(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


def q_set_ops(spark, sf):  # EXCEPT ∘ INTERSECT ∘ UNION
    docs = _t(spark, sf, "documents")
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    long_docs = docs.filter(F.col("n_chars") > 300).select("doc_id")
    merge_docs = docs.filter(
        F.contains(F.col("text"), F.lit("merge"))
    ).select("doc_id")
    return en.intersect(long_docs).exceptAll(merge_docs).distinct()


def q_sessionize(spark, sf):  # gap-based sessionization (30 min)
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.withColumn(
        "new_session",
        (
            F.coalesce(
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)),
                F.lit(10**9),
            )
            > 1800
        ).cast("long"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = gapped.withColumn("session_id", F.sum("new_session").over(w2))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def q_range_join(spark, sf):  # interval/range join
    ev = _t(spark, sf, "events")
    errs = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    )
    follow = ev.alias("e").join(
        errs.alias("r"),
        (F.col("e.user_id") == F.col("r.err_user"))
        & (F.col("e.ts") > F.col("r.err_ts"))
        & (
            F.unix_timestamp("e.ts") - F.unix_timestamp("r.err_ts") <= 600
        ),
    )
    return follow.groupBy("err_id").agg(
        F.count("*").alias("n_follow"),
        F.min("e.ts").alias("first_follow"),
    )


def q_median_by_type(spark, sf):  # exact median aggregate per group
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.median("value").alias("median_value"),
            F.count("*").alias("n"),
        )
    )


def q_pivot_daily(spark, sf):  # pivoted conditional aggregation
    # day as a string: date objects cross Spark/DuckDB->pandas with
    # different dtypes and defeat the value-hash comparison
    ev = _t(spark, sf, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return ev.groupBy("day").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("clicks"),
        F.sum((F.col("event_type") == "view").cast("long")).alias("views"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("errors"),
        F.count("*").alias("total"),
    )


# --------------------------------------------------------------------
# Training-data operators over documents/embeddings
# --------------------------------------------------------------------

def q_dedup_exact(spark, sf):
    return dedup.exact_dedup_groups(_t(spark, sf, "documents"), "doc_id", "text")


def q_dedup_jaccard(spark, sf):
    # max_shingle_df default-ON (VERDICT r1 #7): the stop-shingle cap
    # that keeps the inverted index from quadratic blowup at corpus
    # scale is part of the gated semantics — jaccard is computed over
    # the capped shingle sets (an approximation of raw jaccard, exact
    # for the capped definition; the oracle applies the same cap).
    return dedup.jaccard_pairs(
        _t(spark, sf, "documents"),
        "doc_id",
        "text",
        n=2,
        threshold=0.4,
        max_shingle_df=25,
    ).select("doc_a", "doc_b", "jaccard")


def q_dedup_minhash_lsh(spark, sf):
    return dedup.minhash_lsh_pairs(
        _t(spark, sf, "documents"),
        "doc_id",
        "text",
        n=2,
        bands=16,
        rows_per_band=4,
        threshold=0.7,
    ).select("doc_a", "doc_b")


def q_dedup_simhash(spark, sf):  # no SQL mirror (custom 64-bit sketch)
    return dedup.simhash_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", max_hamming=6, blocks=8
    )


def q_fingerprint_overlap(spark, sf):  # no SQL mirror (winnowing)
    return ts.fingerprint_overlap_pairs(
        _t(spark, sf, "documents"), "doc_id", min_common=8
    )


def q_dimension_upsert(spark, sf):
    """MERGE-style dimension upsert (A17 persistent form): the delta a
    trigram-key dimension built from the even docs would append when
    the odd docs arrive. Mirrors the crawl store's dim_components/
    dim_links maintenance (operators/dims.py)."""
    sh = dedup.shingles(_t(spark, sf, "documents"), "doc_id", "text", n=3)
    existing = sh.filter(F.col("doc") % 2 == 0).select(
        F.col("shingle").alias("token")
    )
    incoming = sh.filter(F.col("doc") % 2 == 1).select(
        F.col("shingle").alias("token")
    )
    # incoming here is HALF THE CORPUS's distinct shingles (~10^6 keys
    # at sf0.1), not a wave-sized increment — per the operator's own
    # strategy table that mandates the shuffled anti-join: broadcasting
    # megabytes of string keys through the driver is a serial floor
    # (measured ~13 s flat across 1/4/32 cores; shuffled path scales).
    return dim_upsert_delta(
        existing, incoming, "token", broadcast_incoming=False
    )


def q_dedup_clusters(spark, sf):
    """Near-dup pairs → transitive-closure clusters (the step every
    production dedup ends with): exact-Jaccard edges at the
    dedup_jaccard gate's settings, contracted by large-star/small-star
    connected components (operators/clusters.py); every document maps
    to its cluster's min doc_id."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.4, max_shingle_df=25
    ).select("doc_a", "doc_b")
    return clusters.assign_clusters(docs, pairs)


def q_hash_sample(spark, sf):
    """Deterministic md5-keyed fraction sample (training-data mixing):
    stable under repartition/append, pure narrow filter."""
    return sampling.hash_sample(
        _t(spark, sf, "documents"), "doc_id", 0.25
    ).select("doc_id", "source")


def q_stratified_sample(spark, sf):
    """Exactly-20-per-language quota sample drawn by the doc_id hash
    rank (deterministic data mixing across strata)."""
    return sampling.stratified_quota(
        _t(spark, sf, "documents"), "lang", "doc_id", 20
    ).select("doc_id", "lang")


def q_mixture_pack(spark, sf):
    """Composition: temperature mixture → token-budget shard packing
    → shard manifest, as ONE Catalyst plan — the corpus-to-shards
    delivery path of a training-data pipeline (re-weight sources,
    then cut the accepted stream into budgeted shards). Both stages
    keep their integer-exact protocols, so the composed manifest
    hash-matches a single DuckDB query."""
    mixed = sampling.mixture_sample(
        _t(spark, sf, "documents"),
        source_col="lang",
        key_col="doc_id",
        target_rows=250,
    )
    return packing.shard_manifest(packing.pack_documents(mixed))


def q_mixture_sample(spark, sf):
    """Temperature-0.5 mixture sample (Pile/LLaMA-style source
    re-weighting) over the skewed lang distribution: per-lang keep
    rates proportional to isqrt(n)/n under the integer-exact protocol
    (operators/sampling.py:mixture_thresholds), drawn by the doc_id
    md5 hash. Pure narrow literal-map filter after one tiny eager
    count job."""
    return sampling.mixture_sample(
        _t(spark, sf, "documents"),
        source_col="lang",
        key_col="doc_id",
        target_rows=250,
    )


def _fresh_store(spark, prefix):
    import tempfile

    from website_indexer_spark.sources.tables import CrawlStore

    return CrawlStore(spark, tempfile.mkdtemp(prefix=prefix))


def q_seen_anti_join_bucketed(spark, sf):
    """THE crawl-scale dedup path under the oracle gate: even doc_ids
    are the committed seen keys, written hash-bucketed through the
    real store; the storage-partitioned probe over all doc_ids must
    keep exactly the odds. doc_id stands in for the 64-bit url hash
    (any int64 key works and DuckDB replays it exactly); the operator
    is byte-for-byte the one the crawl uses above the broadcast
    threshold (operators/frontier.py exclude_keys_bucketed)."""
    from website_indexer_spark.operators.frontier import exclude_keys_bucketed

    docs = _t(spark, sf, "documents")
    seen = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("url_hash"), F.col("doc_id").cast("string").alias("url")
    )
    store = _fresh_store(spark, "gate_seen_")
    store.write_delta(
        "seen",
        seen.withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(8))).coalesce(1),
        0,
        partition_by=["bucket"],
    )
    store.commit(0, {})
    probe = docs.select(F.col("doc_id").alias("url_hash"))
    return exclude_keys_bucketed(
        probe, store.bucketed_files("seen"), 8
    ).select(F.col("url_hash").alias("doc_id"))


def q_seen_anti_join_bloom(spark, sf):
    """The Bloom-prefiltered twin of `seen_anti_join_bucketed`'s
    seen-set dedup (north-star: "Bloom/cuckoo filter union-merged each
    superstep"): even doc_ids' hashes build a StripedBloom, the probe
    splits all doc_ids into definitely-unseen (kept outright) and
    maybe-seen (exact broadcast anti-join), and the union must be
    exactly the odds — the filter is a superset prefilter, never the
    source of truth. Keys are xxhash64(doc_id), the shape of the
    crawl's url_hash."""
    import tempfile

    from website_indexer_spark.operators.frontier import (
        StripedBloom,
        exclude_keys,
    )

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.xxhash64(F.col("doc_id")).alias("url_hash")
    )
    seen = docs.filter(F.col("doc_id") % 2 == 0).select("url_hash")
    bloom = StripedBloom.create(
        tempfile.mkdtemp(prefix="gate_bloom_"), expected_keys=seen.count()
    )
    bloom.update(seen)
    maybe = bloom.probe_udf()
    fast = docs.filter(~maybe(F.col("url_hash")))
    slow = exclude_keys(docs.filter(maybe(F.col("url_hash"))), seen, "url_hash")
    return fast.unionByName(slow).select("doc_id")


def q_politeness_bucketed(spark, sf):
    """The storage-partitioned per-host politeness selection under the
    oracle gate: documents stand in for frontier rows (host = doc_id %
    37, BFS keys depth = doc_id % 3 and discovery_seq = doc_id), the
    snapshot is written host-bucketed, and the bucketed selection's
    selected/deferred split must equal SQL's per-host
    ROW_NUMBER() OVER (PARTITION BY host ORDER BY depth, seq) <= 5 —
    the operator is byte-for-byte the one the throttled crawl uses
    above FRONTIER_SELECT_BUCKETED_MIN (operators/frontier.py
    politeness_select_bucketed)."""
    import tempfile

    from website_indexer_spark.operators.frontier import (
        politeness_select_bucketed,
    )
    from website_indexer_spark.sources.tables import FRONTIER_SCHEMA, bucket_files

    rows = _t(spark, sf, "documents").select(
        F.concat(F.lit("https://h"), F.col("doc_id") % 37, F.lit(".test/p"), F.col("doc_id")).alias("url"),
        F.concat(F.lit("h"), F.col("doc_id") % 37, F.lit(".test")).alias("host"),
        (F.col("doc_id") % 3).cast("int").alias("depth"),
        F.col("doc_id").cast("long").alias("discovery_seq"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(None).cast("string").alias("parent_host"),
        F.lit("GET").alias("fetch_method"),
    )
    snap = tempfile.mkdtemp(prefix="gate_frontier_")
    (
        rows.withColumn("bucket", F.pmod(F.xxhash64("host"), F.lit(8)))
        .repartition(8, F.col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(snap)
    )
    out = politeness_select_bucketed(
        spark, bucket_files(snap), 5, FRONTIER_SCHEMA
    )
    return out.select(
        F.col("discovery_seq").alias("doc_id"),
        F.col("_selected").alias("selected"),
    )


def q_dimension_upsert_bucketed(spark, sf):
    """The dims MERGE's storage-partitioned strategy under the same
    oracle as `dimension_upsert`: identical delta semantics, physical
    path = bucketed point-reads + partition-local distinct instead of
    the shuffled anti-join."""
    from website_indexer_spark.operators.dims import dim_upsert_delta_bucketed

    sh = dedup.shingles(_t(spark, sf, "documents"), "doc_id", "text", n=3)
    existing = sh.filter(F.col("doc") % 2 == 0).select(
        F.lit("tok").alias("kind"), F.col("shingle").alias("key")
    ).distinct()
    incoming = sh.filter(F.col("doc") % 2 == 1).select(
        F.lit("tok").alias("kind"), F.col("shingle").alias("key")
    )
    store = _fresh_store(spark, "gate_dims_")
    store.write_delta(
        "dims",
        existing.withColumn(
            "bucket", F.pmod(F.xxhash64("kind", "key"), F.lit(8))
        ).coalesce(1),
        0,
        partition_by=["kind", "bucket"],
    )
    store.commit(0, {})
    return dim_upsert_delta_bucketed(
        incoming, store.bucketed_files("dims"), 8
    ).select(F.col("key").alias("token"))


def q_pii_scrub(spark, sf):
    """PII redaction over the events.props payload (emails, phone
    shapes, digit runs) + per-pattern audit counts."""
    return redact.scrub_pii(_t(spark, sf, "events"), "props", ["event_id"])


def q_topk_terms(spark, sf):
    """Global top-50 vocabulary of the documents corpus by occurrence
    count (ties broken by term)."""
    return redact.topk_terms(_t(spark, sf, "documents"), "doc_id", "text", 50)


def q_pretrain_pipeline(spark, sf):
    """The composed pre-training data pipeline — every stage is an
    engine operator, fused by Catalyst into ONE plan:

      corpus split (eval slice held out) → quality gate (token count)
      → language gate (lang_id == en) → Gopher repetition keep-rule
      (dup-line / top-gram / dup-gram signals under the A1-style
      thresholds) → exact dedup (keep min doc per md5) →
      decontaminate vs the eval slice (>=20 shared trigrams,
      benchmark-side DF cap) → deterministic 50% hash sample.

    This is the flagship composition proof: the same operators the
    individual gates verify, chained end-to-end and still
    hash-matched against one DuckDB query.

    Lineage note: three stages reference their own input twice (the
    repetition keep-rule joins stats(q) back to q, exact dedup joins
    keep(q2) back to q2, decontam joins the shingle hit list back to
    its corpus side). Left lazy, Catalyst re-derives every reference
    from the scan and the expensive quality/lang projection runs
    ~2^3 times (measured 12.1 s vs 3.4 s at sf0.1). Each stage
    boundary therefore localCheckpoints — the exact shape a 100 TB
    deployment uses (stage materialization between pipeline phases),
    with identical values, so the single-query DuckDB mirror is
    untouched.
    """
    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    benchmark = docs.filter(F.col("doc_id") % 10 == 0)
    q = corpus.select(
        "doc_id",
        "source",
        "text",
        ts.whitespace_token_count(F.col("text")).alias("n_tokens"),
        ts.lang_id(F.col("text")).alias("pred_lang"),
    ).filter(
        (F.col("n_tokens") >= 20) & (F.col("pred_lang") == "en")
    ).localCheckpoint(eager=False)
    q = ts.repetition_filter(
        q, id_col="doc_id", text_col="text", **REP_FILTER_THRESHOLDS
    ).localCheckpoint(eager=False)
    keep = q.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    dd = q.join(keep.select("doc_id"), "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    clean = decontam.decontaminate(
        dd, benchmark, n=3, min_hits=20, max_shingle_df=25
    )
    return sampling.hash_sample(clean, "doc_id", 0.5).select(
        "doc_id", "source", F.col("n_tokens").cast("long").alias("n_tokens")
    )


def q_decontam_report(spark, sf):
    """Benchmark decontamination (operators/decontam.py): odd docs are
    the training corpus, even docs the benchmark; a corpus doc is
    contaminated when it shares >=2 distinct trigrams with the
    benchmark (benchmark-side stop-shingle DF cap on, same guard as
    dedup_jaccard)."""
    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 1)
    benchmark = docs.filter(F.col("doc_id") % 2 == 0)
    return decontam.contamination_report(
        corpus, benchmark, n=3, min_hits=2, max_shingle_df=25
    )


def q_distinctive_terms(spark, sf):
    """Top-3 distinctive terms per document, tf/df-scored (linear-idf
    TF-IDF variant; the single int division keeps the oracle
    bit-identical)."""
    return decontam.distinctive_terms(
        _t(spark, sf, "documents"), k=3
    ).withColumn("rank", F.col("rank").cast("long"))


def q_media_meta(spark, sf):
    """Binary media plumbing, oracle-checkable half: documents-derived
    payloads audited (size + md5) through the same Arrow/mapInPandas
    channel the decoders use (operators/multimodal.py)."""
    media = multimodal.media_from_documents(_t(spark, sf, "documents"))
    return multimodal.payload_stats(media)


def q_media_features(spark, sf):  # no SQL mirror (fake decode is numpy-side)
    """Full image-feature pass over documents-derived payloads with the
    deterministic fake decoder: decode → luma stats → histogram →
    thumbnail, one Arrow batch at a time."""
    media = multimodal.media_from_documents(_t(spark, sf, "documents"))
    return multimodal.image_features(media, thumb=8, decoder="fake").select(
        "media_id", "mean_luma", "thumb_w", "thumb_h"
    )


def q_media_features_codec(spark, sf):
    """The SAME image-feature plan as q_media_features but through the
    injectable ``decoder=<callable>`` seam with a codec whose decode is
    engine-reproducible (multimodal.oracle_codec) — turning the decode
    → stats → histogram → thumbnail pass into a hash-green gate."""
    media = multimodal.media_from_documents(_t(spark, sf, "documents"))
    feats = multimodal.image_features(
        media, thumb=8, decoder=multimodal.oracle_codec
    )
    return feats.select(
        "media_id",
        "mean_luma",
        (F.expr("array_position(histogram, array_max(histogram))") - 1)
        .cast("int")
        .alias("hist_bin"),
        F.array_max("histogram").alias("hist_count"),
        F.lower(F.hex("thumbnail")).alias("thumb_hex"),
    )


def q_lang_id(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", ts.lang_id(F.col("text")).alias("pred_lang")
    )


def q_quality(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", *ts.quality_columns(F.col("text"))
    )


def q_token_counts(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id",
        ts.whitespace_token_count(F.col("text")).alias("ws_tokens"),
        ts.regex_token_count(F.col("text")).alias("re_tokens"),
    )


def q_ann_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    return similarity.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )


def q_ann_lsh(spark, sf):  # no SQL mirror (approximate)
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    return similarity.lsh_topk(
        emb, queries, k=10, dim=64, n_planes=16, bands=8
    ).select("query_id", "neighbor_id")


def q_ann_ivf(spark, sf):  # no SQL mirror (approximate)
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    return similarity.ivf_topk(
        emb, queries, k=10, n_centroids=16, nprobe=4
    ).select("query_id", "neighbor_id")


def q_embedding_dup_pairs(spark, sf):
    return similarity.cosine_dup_pairs(
        _t(spark, sf, "embeddings"), threshold=0.45, dim=64, exact=True
    ).select("a", "b")


def q_embedding_dup_pairs_lsh(spark, sf):  # no SQL mirror (approximate)
    return similarity.cosine_dup_pairs(
        _t(spark, sf, "embeddings"), threshold=0.45, dim=64, bands=8, n_planes=16
    ).select("a", "b")


REP_FILTER_THRESHOLDS = dict(
    max_dup_line_frac=0.30,
    max_dup_line_char_frac=0.20,
    max_top_ngram_char_frac=0.20,
    max_dup_ngram_char_frac=0.60,
)


def q_repetition_stats(spark, sf):
    """Gopher/MassiveText repetition signals per document (Rae et al.
    2021 A1.1): duplicate-line fraction + char fraction, top-bigram
    char fraction, duplicated-5-gram char fraction. Single-pass
    tagged-explode plan (functions/textstats.py:repetition_stats)."""
    return ts.repetition_stats(_t(spark, sf, "documents"))


def q_repetition_filter(spark, sf):
    """The Gopher keep-rule applied: docs whose repetition signals
    stay under the A1-style thresholds (survivor id + source)."""
    return ts.repetition_filter(
        _t(spark, sf, "documents"), **REP_FILTER_THRESHOLDS
    ).select("doc_id", "source")


def q_dedup_spans(spark, sf):
    """Span-level exact substring dedup (Lee et al. ACL 2022,
    ExactSubstr re-expressed relationally): maximal duplicated
    >=5-token spans per doc (operators/dedup.py:duplicate_spans)."""
    return dedup.duplicate_spans(_t(spark, sf, "documents")).withColumn(
        "span_start", F.col("span_start").cast("int")
    ).withColumn("span_end", F.col("span_end").cast("int"))


def q_dedup_span_removal(spark, sf):
    """The removal half of ExactSubstr: every duplicated span's tokens
    cut from the text (all occurrences — the released tool's
    convention), pass-through docs token-normalized."""
    return dedup.remove_duplicate_spans(_t(spark, sf, "documents")).select(
        "doc_id",
        "clean_text",
        F.col("n_tokens_removed").cast("int").alias("n_tokens_removed"),
    )


def q_warc_ingest(spark, sf):
    """SURVEY §9.12 WARC source as a first-class oracle gate (VERDICT
    r3 #7): deterministic synthetic archives built from the documents
    table (chunked / gzip / identity bodies, 301 redirects, WARC 1.1
    fractional dates, warcinfo records to skip, gzip AND plain shards)
    → read_warc → decoded url/epoch/status/location/content_type +
    body md5, hash-matched against the DuckDB oracle that reconstructs
    the same table from the source rows. The md5 equality proves the
    wire decodings (de-chunk, gunzip) are byte-exact."""
    import hashlib
    import os as _os
    import tempfile

    from website_indexer_spark.sources.warc import (
        read_warc,
        synthesize_warc_files,
    )

    docs = (
        _t(spark, sf, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(300)
    )
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]  # ≤300: driver-sized
    tag = hashlib.md5(_os.path.abspath(sf).encode()).hexdigest()[:10]
    out_dir = _os.path.join(tempfile.gettempdir(), f"wi_spark_warc_gate_{tag}")
    synthesize_warc_files(rows, out_dir)
    parsed = read_warc(spark, out_dir + "/synth-*")
    return parsed.select(
        "url",
        F.col("warc_ts").cast("long").alias("warc_epoch"),
        "status_code",
        "location",
        "content_type",
        F.md5(F.col("html")).alias("body_md5"),
    )


# --------------------------------------------------------------------
# THE CAPSTONE COMPOSITION (r4 verdict item 1): raw archive bytes →
# training shards as ONE lineage. Every stage is an operator the
# catalog already gates individually; this query chains the full span
# — WARC wire decode → route → extraction kernel → encoding gate →
# Gopher gate → C4 line clean → repetition gate → exact dedup →
# cross-doc paragraph dedup → decontamination vs an external slice →
# host-temperature mixture → token-budget packing → shard manifest —
# and hash-matches ONE spliced DuckDB query over the same archive
# synthesis. The final rows are the shard-assignment table enriched
# with its manifest roll-up: every upstream value (which docs
# survived, what their rebuilt texts count) is pinned by the hash.
# --------------------------------------------------------------------

DUMP_GATE_DOCS = 300          # archive corpus (warc_ingest precedent)
DUMP_DECONTAM_MIN_HITS = 12   # >=12 shared distinct trigrams = leaked
DUMP_MIXTURE_TARGET = 60      # temperature-mixture target rows
DUMP_PACK_BUDGET = 500        # tokens per shard
DUMP_PACK_BUCKETS = 4


def q_dump_to_shards(spark, sf):
    """warc bytes → shards, one plan (stage boundaries localCheckpoint
    like pretrain_pipeline — the 100 TB stage-materialization shape;
    values unchanged, so the single-query DuckDB mirror holds).

    The C4 stage runs require_terminal_punct=False (the corpus is
    unpunctuated word text; the punctuation rule would empty it — the
    min-words/boilerplate/page rules still run and the line-wrap
    rebuild gives the paragraph stage real lines). The benchmark for
    decontamination is the doc_id%10 slice — exactly the rows the
    archive 301-redirected away, so they are external to the corpus
    by construction."""
    import hashlib
    import os as _os
    import tempfile

    from website_indexer_spark.functions.encoding import encoding_filter
    from website_indexer_spark.functions.gopherquality import (
        gopher_quality_filter,
    )
    from website_indexer_spark.functions.udfs import extract_udf
    from website_indexer_spark.functions.webclean import c4_clean
    from website_indexer_spark.operators import dedup as dedup_ops
    from website_indexer_spark.sources.warc import (
        read_warc,
        synthesize_warc_files,
    )

    docs = (
        _t(spark, sf, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(DUMP_GATE_DOCS)
    )
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]  # ≤300: driver-sized
    tag = hashlib.md5(_os.path.abspath(sf).encode()).hexdigest()[:10]
    out_dir = _os.path.join(tempfile.gettempdir(), f"wi_spark_dump_gate_{tag}")
    synthesize_warc_files(rows, out_dir)

    # stage 1: wire decode + route + extraction kernel
    parsed = read_warc(spark, out_dir + "/synth-*")
    host = F.regexp_extract("url", r"^https://([^/]+)/", 1)
    ex = (
        parsed.filter(
            (F.col("status_code") == 200) & F.col("html").isNotNull()
        )
        .select(
            F.regexp_extract("url", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            host.alias("host"),
            extract_udf(F.col("html"), host).alias("_ex"),
        )
        .select("doc_id", "host", F.col("_ex.text").alias("text"))
        .localCheckpoint(eager=False)
    )
    # stage 2-4: encoding gate → Gopher gate → C4 clean (rebuild)
    ec = encoding_filter(ex)
    gq = gopher_quality_filter(
        ec, stopwords=GOPHER_GATE_STOPWORDS, **GOPHER_GATE_THRESHOLDS
    )
    c4 = c4_clean(
        gq, keep_cols=["host"], require_terminal_punct=False
    ).drop("n_kept").localCheckpoint(eager=False)
    # stage 5: repetition gate
    rep = ts.repetition_filter(
        c4, id_col="doc_id", text_col="text", **REP_FILTER_THRESHOLDS
    ).localCheckpoint(eager=False)
    # stage 6: exact dedup (min doc per md5)
    keep = rep.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    dd = rep.join(keep.select("doc_id"), "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    # stage 7: cross-doc paragraph dedup, rebuilt text
    pdocs = (
        dedup_ops.dedup_paragraphs(dd, "doc_id", "text")
        .filter(F.col("n_kept") > 0)
        .select("doc_id", "text")
        .join(dd.select("doc_id", "host"), "doc_id")
        .localCheckpoint(eager=False)
    )
    # stage 8: decontaminate vs the redirected-away slice (original text)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    clean = decontam.decontaminate(
        pdocs, bench, n=3,
        min_hits=DUMP_DECONTAM_MIN_HITS, max_shingle_df=25,
    )
    # stage 9: host-temperature mixture (eager per-host count job)
    mixed = sampling.mixture_sample(
        clean, source_col="host", key_col="doc_id",
        target_rows=DUMP_MIXTURE_TARGET,
    )
    # stage 10: pack + manifest, emitted as enriched assignment rows
    asn = packing.pack_documents(
        mixed, budget_tokens=DUMP_PACK_BUDGET, n_buckets=DUMP_PACK_BUCKETS
    )
    man = packing.shard_manifest(asn).select(
        "bucket", "shard_id",
        F.col("n_docs").alias("shard_docs"),
        F.col("shard_tokens"),
    )
    return asn.join(man, ["bucket", "shard_id"]).select(
        "doc_id", "bucket", "shard_id", "n_tokens", "tokens_before",
        "shard_docs", "shard_tokens",
    )


def q_bpe_pair_counts(spark, sf):
    """BPE tokenizer fitting, the distributed core (operators/bpe.py):
    corpus-wide adjacent character-symbol pair counts with the </w>
    end-of-word construction — round 1 of Sennrich-style training.
    One posexplode + one partial-aggregated exchange keyed by the
    pair (mega-pair skew dies in the combiner)."""
    from website_indexer_spark.operators import bpe

    return pair_rename(bpe.pair_counts(_t(spark, sf, "documents")))


def pair_rename(df):
    # left/right are SQL keywords; alias for the driver's column sort
    return df.select(
        F.col("left").alias("sym_left"),
        F.col("right").alias("sym_right"),
        "cnt",
    )


def q_bpe_merges(spark, sf):
    """The iterative trainer: 5 merge rounds, each one distributed
    pair count + a TakeOrdered(1) argmax with the (cnt DESC, left,
    right) total order + a broadcast re-segmentation. Driver state is
    the 5-row merge table. Rows-only (the oracle cannot express the
    iterative re-segmentation in one SQL query); the trainer is
    pinned against a plain-Python reference in pytest."""
    from pyspark.sql import types as T

    from website_indexer_spark.operators import bpe
    from website_indexer_spark.sources.tables import local_frame

    # trainer corpus: ordered, so the slice never depends on file packing
    docs = _t(spark, sf, "documents").orderBy("doc_id").limit(120)
    merges = bpe.fit_bpe(docs, n_merges=5)
    return local_frame(
        spark,
        [(i, l, r, int(c)) for i, (l, r, c) in enumerate(merges)],
        T.StructType(
            [
                T.StructField("rank", T.IntegerType()),
                T.StructField("sym_left", T.StringType()),
                T.StructField("sym_right", T.StringType()),
                T.StructField("cnt", T.LongType()),
            ]
        ),
    )


def q_bpe_encode(spark, sf):
    """The fitted tokenizer applied corpus-wide: fit 5 merges on the
    trainer slice, then encode the first 200 docs in one
    Arrow-batched pass — (doc_id, n_tokens, first token). Rows-only
    (greedy rank-order merging has no single-SQL mirror); exact
    semantics pinned by test_bpe.py's encode round trip."""
    from website_indexer_spark.operators import bpe

    docs = _t(spark, sf, "documents")
    merges = [
        (l, r)
        for l, r, _ in bpe.fit_bpe(
            docs.orderBy("doc_id").limit(120), n_merges=5
        )
    ]
    enc = bpe.encode_with_merges(
        docs.orderBy("doc_id").limit(200), merges
    )
    return enc.select(
        "doc_id",
        "n_tokens",
        F.element_at(F.col("tokens"), 1).alias("first_token"),
    )


def q_weighted_sample(spark, sf):
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-ES, operators/sampling.py::weighted_sample): k smallest
    floor-micro-nat -ln(u)/w keys, u from the md5-prefix16 draw,
    w = n_chars. TakeOrderedAndProject — per-task top-k heaps, no
    global sort."""
    docs = _t(spark, sf, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("weight")
    )
    return sampling.weighted_sample(
        docs, weight_col="weight", k=100
    )


def q_doc_pack(spark, sf):
    """Token-budget training-shard packing (operators/packing.py):
    bucket-parallel greedy packing — md5-ordered cumulative token sum
    per bucket, shard = floor(tokens_before / budget). One narrow
    exchange on bucket; the text column never shuffles."""
    return packing.pack_documents(_t(spark, sf, "documents"))


def q_shard_manifest(spark, sf):
    """The packing's per-(bucket, shard) roll-up: doc count + token
    mass — the shard writer's work list."""
    return packing.shard_manifest(
        packing.pack_documents(_t(spark, sf, "documents"))
    )


def q_lm_logloss(spark, sf):
    """CCNet-style corpus-self-trained capped-vocab unigram LM score
    (operators/lmscore.py): top-K vocabulary via TakeOrdered →
    broadcast scoring join → per-doc mean -ln p in integer
    milli-nats (the hash-stable float protocol)."""
    return lmscore.unigram_logloss(_t(spark, sf, "documents"))


def q_lm_head(spark, sf):
    """The CCNet 'head' cut over the LM score: survivor rows via a
    left-semi join (threshold chosen to split the testdata corpus
    nontrivially at every SF)."""
    return lmscore.perplexity_head(
        _t(spark, sf, "documents"), max_logloss_milli=3400
    ).select("doc_id", "source", "lang")


def q_quantile_buckets(spark, sf):
    """Exact quantile bucketing via the bounded-cardinality histogram
    protocol (operators/quantiles.py): one partial-aggregated
    exchange, CDF over the histogram only, broadcast value->bucket
    map back — never a global sort."""
    from website_indexer_spark.operators.quantiles import (
        bucket_by_value_quantiles,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "n_chars")
    return bucket_by_value_quantiles(docs, "n_chars").select(
        "doc_id", "n_chars", "bucket"
    )


def q_quantile_buckets_by_lang(spark, sf):
    """Per-group exact quantiles (CCNet splits per LANGUAGE): the
    histogram keys on (lang, value) and each language gets its own
    exact thirds — still one corpus exchange, still no sort of
    data."""
    from website_indexer_spark.operators.quantiles import (
        bucket_by_value_quantiles,
    )

    docs = _t(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return bucket_by_value_quantiles(
        docs, "n_chars", group_cols=["lang"]
    ).select("doc_id", "lang", "n_chars", "bucket")


def q_ccnet_buckets(spark, sf):
    """The CCNet head/middle/tail split proper: corpus-self-trained
    LM score cut into exact thirds (ties never split; straddling tie
    groups land in the later bucket — the documented deterministic
    rule)."""
    from website_indexer_spark.operators.quantiles import ccnet_buckets

    return ccnet_buckets(_t(spark, sf, "documents"))


def q_dsir_model(spark, sf):
    """DSIR hashed-bigram importance model (operators/dsir.py):
    target = the src0/src1 'trusted' slice; one conditional-sum
    groupBy(bucket) yields both models' counts, totals ride a
    broadcast 1-row cross join, log ratios floor-quantized to
    integer milli-nats per bucket."""
    from website_indexer_spark.operators import dsir

    docs = _t(spark, sf, "documents")
    return dsir.dsir_bucket_scores(
        docs, F.col("source").isin("src0", "src1")
    )


def q_dsir_logratio(spark, sf):
    """Per-document DSIR importance weight: broadcast bucket-score
    join + integer groupBy(doc_id) sum (summation-order-free by
    construction — the quantization happens per bucket)."""
    from website_indexer_spark.operators import dsir

    docs = _t(spark, sf, "documents")
    return dsir.dsir_logratio(
        docs, F.col("source").isin("src0", "src1")
    )


def q_dsir_head(spark, sf):
    """The DSIR selection step: top-100 docs by (weight desc,
    doc_id asc) via TakeOrderedAndProject."""
    from website_indexer_spark.operators import dsir

    docs = _t(spark, sf, "documents")
    return dsir.dsir_head(
        docs, F.col("source").isin("src0", "src1"), 100
    )


def q_dedup_stream(spark, sf):
    """Streaming incremental dedup (streaming/dedup_stream.py): the
    documents table replayed as three waves (doc_id % 3) through the
    foreachBatch skin — in-batch min-id dedup, then the
    storage-partitioned hash-layout anti-join. The accepted table
    must equal the cumulative first-wave-wins relation the oracle
    states directly."""
    import hashlib
    import os as _os
    import shutil
    import tempfile

    from website_indexer_spark.streaming.dedup_stream import (
        DedupStreamStore,
        dedup_stream_step,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "source", "text")
    tag = hashlib.md5(_os.path.abspath(sf).encode()).hexdigest()[:10]
    out = _os.path.join(
        tempfile.gettempdir(), f"wi_spark_dedup_stream_{tag}"
    )
    shutil.rmtree(out, ignore_errors=True)
    step = dedup_stream_step(out)
    for wave in range(3):
        step(docs.where(F.col("doc_id") % 3 == wave), wave)
    return (
        DedupStreamStore(out)
        .read_accepted(spark)
        .select("doc_id", "source")
    )


def q_incremental_dedup(spark, sf):
    """Cross-dump dedup (operators/dedup.py::dedup_against_snapshot):
    docs with doc_id % 3 == 0 play the published snapshot, the rest
    are the new dump — in-increment exact dedup, then a left-anti
    equi-join on md5(text) against the snapshot's hash set."""
    docs = _t(spark, sf, "documents")
    snapshot = docs.where(F.col("doc_id") % 3 == 0)
    increment = docs.where(F.col("doc_id") % 3 != 0)
    return dedup.dedup_against_snapshot(increment, snapshot).select(
        "doc_id", "source"
    )


def q_host_stats(spark, sf):
    """Host-level aggregate quality signals (operators/webquality.py):
    one partial-aggregated exchange keyed by host; means emitted as a
    single bigint/bigint IEEE division so the doubles hash-match."""
    return webquality.host_stats(_t(spark, sf, "documents"))


def q_host_filter(spark, sf):
    """RefinedWeb-style domain curation: rows whose HOST passes the
    aggregate gate (enough docs, long-enough mean, low short-doc
    fraction) — a host-keyed agg + left-semi join back."""
    return webquality.host_quality_filter(
        _t(spark, sf, "documents")
    ).select("doc_id", "source")


SPARK_QUERIES: Dict[str, SparkQuery] = {
    "search_empty": q_search_empty,
    "search_text": q_search_text,
    "search_name": q_search_name,
    "language_filter": q_language_filter,
    "token_search_distinct": q_token_search_distinct,
    "token_search_csv": q_token_search_csv,
    "join_search": q_join_search,
    "pagination": q_pagination,
    "detail_lookup": q_detail_lookup,
    "stats_agg": q_stats_agg,
    "title_scrub": q_title_scrub,
    "computed_flags": q_computed_flags,
    "latest_scope": q_latest_scope,
    "topk_retention": q_topk_retention,
    "group_agg": q_group_agg,
    "window_hourly": q_window_hourly,
    "json_props": q_json_props,
    "rollup_agg": q_rollup_agg,
    "set_ops": q_set_ops,
    "sessionize": q_sessionize,
    "range_join": q_range_join,
    "median_by_type": q_median_by_type,
    "pivot_daily": q_pivot_daily,
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_clusters": q_dedup_clusters,
    "fingerprint_overlap": q_fingerprint_overlap,
    "hash_sample": q_hash_sample,
    "stratified_sample": q_stratified_sample,
    "mixture_sample": q_mixture_sample,
    "mixture_pack": q_mixture_pack,
    "pii_scrub": q_pii_scrub,
    "topk_terms": q_topk_terms,
    "media_meta": q_media_meta,
    "media_features": q_media_features,
    "media_features_codec": q_media_features_codec,
    "decontam_report": q_decontam_report,
    "distinctive_terms": q_distinctive_terms,
    "pretrain_pipeline": q_pretrain_pipeline,
    "dimension_upsert": q_dimension_upsert,
    "dimension_upsert_bucketed": q_dimension_upsert_bucketed,
    "seen_anti_join_bucketed": q_seen_anti_join_bucketed,
    "seen_anti_join_bloom": q_seen_anti_join_bloom,
    "politeness_bucketed": q_politeness_bucketed,
    "lang_id": q_lang_id,
    "quality": q_quality,
    "token_counts": q_token_counts,
    "ann_topk": q_ann_topk,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "embedding_dup_pairs": q_embedding_dup_pairs,
    "embedding_dup_pairs_lsh": q_embedding_dup_pairs_lsh,
    "warc_ingest": q_warc_ingest,
    "dump_to_shards": q_dump_to_shards,
    "repetition_stats": q_repetition_stats,
    "repetition_filter": q_repetition_filter,
    "dedup_spans": q_dedup_spans,
    "dedup_span_removal": q_dedup_span_removal,
    "doc_pack": q_doc_pack,
    "bpe_pair_counts": q_bpe_pair_counts,
    "bpe_merges": q_bpe_merges,
    "bpe_encode": q_bpe_encode,
    "weighted_sample": q_weighted_sample,
    "shard_manifest": q_shard_manifest,
    "lm_logloss": q_lm_logloss,
    "lm_head": q_lm_head,
    "quantile_buckets": q_quantile_buckets,
    "quantile_buckets_by_lang": q_quantile_buckets_by_lang,
    "ccnet_buckets": q_ccnet_buckets,
    "dsir_model": q_dsir_model,
    "dsir_logratio": q_dsir_logratio,
    "dsir_head": q_dsir_head,
    "incremental_dedup": q_incremental_dedup,
    "dedup_stream": q_dedup_stream,
    "host_stats": q_host_stats,
    "host_filter": q_host_filter,
}


# --------------------------------------------------------------------
# DuckDB oracle SQL — same column names, same semantics.
# --------------------------------------------------------------------

_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS t
  FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS shingle
    FROM toks WHERE len(t) >= 2
  )
), keep AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {max_df}
), sh AS (
  SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= {threshold}
"""


def _lang_id_sql() -> str:
    score_exprs = []
    for lang in ts.LANGS:
        words = ", ".join(f"'{w}'" for w in ts.STOPWORDS[lang])
        score_exprs.append(
            f"len(list_filter(t, x -> list_contains([{words}], x))) AS s_{lang}"
        )
    greatest = "greatest(" + ", ".join(f"s_{l}" for l in ts.LANGS) + ")"
    case = "CASE WHEN " + greatest + " = 0 THEN 'und' "
    for lang in ts.LANGS:
        case += f"WHEN s_{lang} = {greatest} THEN '{lang}' "
    case += "END"
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS t
  FROM documents
), scores AS (
  SELECT doc_id, {', '.join(score_exprs)} FROM toks
)
SELECT doc_id, {case} AS pred_lang FROM scores
"""


def _quality_sql() -> str:
    all_stop = ", ".join(
        f"'{w}'" for lang in ts.LANGS for w in ts.STOPWORDS[lang]
    )
    return f"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS t,
         list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS tl
  FROM documents
)
SELECT doc_id,
  len(t) AS n_tokens,
  length(text) AS n_chars,
  CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS DOUBLE)
    / greatest(len(t), 1) AS mean_word_len,
  CAST(len(list_filter(tl, x -> list_contains([{all_stop}], x))) AS DOUBLE)
    / greatest(len(t), 1) AS stopword_ratio,
  CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
    / greatest(length(text), 1) AS punct_ratio
FROM toks
"""


ORACLE_SQL: Dict[str, str] = {
    "search_empty": "SELECT doc_id, source, lang, n_chars FROM documents",
    "search_text": (
        "SELECT doc_id, source, lang FROM documents "
        "WHERE contains(lower(text), 'merge batch')"
    ),
    "search_name": (
        "SELECT p_partkey, p_name, p_retailprice FROM part "
        "WHERE contains(lower(p_name), 'widget')"
    ),
    "language_filter": "SELECT doc_id, source FROM documents WHERE lang = 'en'",
    "token_search_distinct": """
        SELECT DISTINCT doc_id, source FROM (
          SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
          FROM documents
        ) WHERE contains(tok, 'merge')
    """,
    "token_search_csv": """
        SELECT doc_id, tok FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ) WHERE contains(tok, 'merge')
    """,
    "join_search": """
        SELECT l_orderkey, l_linenumber, o_orderpriority
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE contains(lower(o_orderpriority), 'urgent')
    """,
    "pagination": """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_orderkey LIMIT 25 OFFSET 100
    """,
    "detail_lookup": "SELECT * FROM documents WHERE doc_id = 42",
    "stats_agg": """
        SELECT count(ts) AS n_events, min(ts) AS started, max(ts) AS ended,
               date_diff('second', min(ts), max(ts)) AS duration_s
        FROM events
    """,
    "title_scrub": (
        "SELECT c_custkey, regexp_replace(c_name, '[0-9]+$', '') AS scrubbed_name "
        "FROM customer"
    ),
    "computed_flags": """
        SELECT o_orderkey, o_orderstatus = 'O' AS is_open,
               o_totalprice > 200000.0 AS is_big
        FROM orders
    """,
    "latest_scope": """
        SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        WHERE l_orderkey IN (
          SELECT o_orderkey FROM orders
          WHERE o_orderdate = (SELECT max(o_orderdate) FROM orders)
        )
    """,
    "topk_retention": """
        SELECT o_orderkey, o_orderstatus, rn FROM (
          SELECT o_orderkey, o_orderstatus,
                 row_number() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY o_orderdate DESC, o_orderkey ASC
                 ) AS rn
          FROM orders
        ) WHERE rn > 5
    """,
    "group_agg": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_price_cents,
               count(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "window_hourly": """
        SELECT date_trunc('hour', ts) AS hour_start, event_type,
               count(*) AS n, max(value) AS max_value
        FROM events GROUP BY 1, 2
    """,
    "json_props": """
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
    """,
    "rollup_agg": """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "set_ops": """
        SELECT DISTINCT doc_id FROM (
          (SELECT doc_id FROM documents WHERE lang = 'en'
           INTERSECT
           SELECT doc_id FROM documents WHERE n_chars > 300)
          EXCEPT
          SELECT doc_id FROM documents WHERE contains(text, 'merge')
        )
    """,
    "sessionize": """
        WITH gapped AS (
          SELECT user_id, ts, event_id,
            CASE WHEN coalesce(
                   date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id),
                             ts),
                   1000000000) > 1800
                 THEN 1 ELSE 0 END AS new_session
          FROM events
        ), sess AS (
          SELECT user_id, ts,
                 CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS session_id
          FROM gapped
        )
        SELECT user_id, session_id,
               CAST(count(*) AS BIGINT) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end
        FROM sess GROUP BY user_id, session_id
    """,
    "range_join": """
        SELECT r.event_id AS err_id,
               CAST(count(*) AS BIGINT) AS n_follow,
               min(e.ts) AS first_follow
        FROM events e
        JOIN (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'error') r
          ON e.user_id = r.user_id
         AND e.ts > r.ts
         AND date_diff('second', r.ts, e.ts) <= 600
        GROUP BY r.event_id
    """,
    "median_by_type": """
        SELECT event_type, median(value) AS median_value,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    """,
    "pivot_daily": """
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks,
               CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS views,
               CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS errors,
               CAST(count(*) AS BIGINT) AS total
        FROM events GROUP BY strftime(ts, '%Y-%m-%d')
    """,
    "dedup_exact": """
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "dedup_jaccard": _JACCARD_SQL.format(threshold=0.4, max_df=25),
    # transitive closure of the jaccard near-dup pairs via a recursive
    # CTE (min reachable doc_id per node == the component min the
    # large-star/small-star contraction converges to)
    "dedup_clusters": """
        WITH RECURSIVE jac AS (
          {jac}
        ), e AS (
          SELECT doc_a AS u, doc_b AS v FROM jac
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM jac
        ), reach(node, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.v, reach.r FROM reach JOIN e ON e.u = reach.node
        )
        SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
    """.format(jac=_JACCARD_SQL.format(threshold=0.4, max_df=25)),
    "hash_sample": """
        SELECT doc_id, source FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
    """,
    "stratified_sample": """
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rk
          FROM documents
        ) WHERE rk <= 20
    """,
    "pii_scrub": r"""
        SELECT event_id,
          regexp_replace(
            regexp_replace(
              regexp_replace(props,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g'),
            '[0-9][0-9.]*', '<NUM>', 'g') AS scrubbed,
          len(regexp_extract_all(props,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
          len(regexp_extract_all(props,
            '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) AS n_phone,
          len(regexp_extract_all(props, '[0-9][0-9.]*')) AS n_number
        FROM events
    """,
    # pretrain_pipeline is assembled below (_pretrain_pipeline_sql)
    "decontam_report": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(trim(text), ' '), x -> x <> '') AS t
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
                     AS shingle
            FROM toks WHERE len(t) >= 3
          )
        ), c AS (
          SELECT doc_id AS c_doc, shingle FROM sh WHERE doc_id % 2 = 1
        ), b0 AS (
          SELECT doc_id AS b_doc, shingle FROM sh WHERE doc_id % 2 = 0
        ), keep AS (
          SELECT shingle FROM b0 GROUP BY shingle HAVING count(*) <= 25
        ), b AS (
          SELECT b0.b_doc, b0.shingle FROM b0 JOIN keep USING (shingle)
        ), hits AS (
          SELECT c.c_doc, b.b_doc, c.shingle FROM c JOIN b USING (shingle)
        )
        SELECT c_doc AS doc_id,
               count(DISTINCT shingle) AS n_shared_ngrams,
               count(DISTINCT b_doc) AS n_benchmark_docs
        FROM hits GROUP BY c_doc
        HAVING count(DISTINCT shingle) >= 2
    """,
    "distinctive_terms": r"""
        WITH tok AS (
          SELECT doc_id AS doc,
                 unnest(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   x -> x <> '')) AS term
          FROM documents
        ), tf AS (
          SELECT doc, term, count(*) AS tf FROM tok GROUP BY doc, term
        ), idf AS (
          SELECT term, count(*) AS df
          FROM (SELECT DISTINCT doc, term FROM tok) GROUP BY term
        ), scored AS (
          SELECT doc, tf.term, tf.tf, idf.df,
                 CAST(tf.tf AS DOUBLE) / idf.df AS score
          FROM tf JOIN idf USING (term)
        )
        SELECT doc AS doc_id, term, tf, df, rank FROM (
          SELECT doc, term, tf, df,
                 row_number() OVER (
                   PARTITION BY doc ORDER BY score DESC, term ASC
                 ) AS rank
          FROM scored
        ) WHERE rank <= 3
    """,
    "media_meta": """
        SELECT doc_id AS media_id,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents
    """,
    # media_features: rows-only (the fake decoder's numpy RNG features
    # have no SQL mirror; determinism pinned in tests/test_multimodal.py)
    # media_features_codec: the SAME plan with the injected
    # engine-reproducible codec (constant image = first md5 byte of the
    # payload), so decode -> mean -> histogram -> thumbnail closes in
    # SQL: mean_luma = seed, hot bin = seed//16 with w*h hits, thumb
    # hex = the seed's two hex chars x 8*8*3.
    "media_features_codec": """
        WITH s AS (
          SELECT doc_id,
                 (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1)
                   AS seed,
                 (16 + (doc_id % 4) * 8) AS w,
                 (16 + (doc_id % 3) * 8) AS h,
                 substr(md5(text), 1, 2) AS seed_hex
          FROM documents
        )
        SELECT doc_id AS media_id,
               CAST(seed AS DOUBLE) AS mean_luma,
               CAST(seed // 16 AS INT) AS hist_bin,
               CAST(w * h AS BIGINT) AS hist_count,
               repeat(seed_hex, 192) AS thumb_hex
        FROM s
    """,
    "topk_terms": r"""
        WITH tok AS (
          SELECT doc_id AS doc,
                 unnest(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   x -> x <> '')) AS term
          FROM documents
        ), per_doc AS (
          SELECT doc, term, count(*) AS n FROM tok GROUP BY doc, term
        )
        SELECT term, count(*) AS n_docs,
               CAST(sum(n) AS BIGINT) AS n_occurrences
        FROM per_doc GROUP BY term
        ORDER BY n_occurrences DESC, term ASC LIMIT 50
    """,
    # dedup_minhash_lsh deliberately has NO oracle (ADVICE r1): its
    # exact-Jaccard-over-LSH-candidates output has recall
    # 1-(1-j^r)^b < 1 against the all-pairs SQL, so hash equality
    # against an exact-jaccard oracle only held by luck of the fixed
    # testdata. Precision/recall bounds are pinned in
    # tests/test_dedup.py::test_minhash_lsh_precision_and_recall.
    "dimension_upsert": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(trim(text), ' '), x -> x <> '') AS t
          FROM documents
        ), tri AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(t) - 2),
                        i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS token
          FROM toks WHERE len(t) >= 3
        )
        SELECT DISTINCT token FROM tri WHERE doc_id % 2 = 1
          AND token NOT IN (SELECT token FROM tri WHERE doc_id % 2 = 0)
    """,
    "dimension_upsert_bucketed": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(trim(text), ' '), x -> x <> '') AS t
          FROM documents
        ), tri AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(t) - 2),
                        i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS token
          FROM toks WHERE len(t) >= 3
        )
        SELECT DISTINCT token FROM tri WHERE doc_id % 2 = 1
          AND token NOT IN (SELECT token FROM tri WHERE doc_id % 2 = 0)
    """,
    "seen_anti_join_bucketed": """
        SELECT doc_id FROM documents WHERE doc_id % 2 = 1
    """,
    "seen_anti_join_bloom": """
        SELECT doc_id FROM documents WHERE doc_id % 2 = 1
    """,
    "politeness_bucketed": """
        SELECT doc_id,
               (row_number() OVER (
                  PARTITION BY doc_id % 37
                  ORDER BY doc_id % 3, doc_id) <= 5) AS selected
        FROM documents
    """,
    "lang_id": _lang_id_sql(),
    "quality": _quality_sql(),
    "token_counts": r"""
        SELECT doc_id,
          len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS ws_tokens,
          len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens
        FROM documents
    """,
    "ann_topk": """
        WITH q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 4
        ), scored AS (
          SELECT q.query_id, c.vec_id AS neighbor_id,
                 list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qv) AS cos
          FROM embeddings c, q WHERE c.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
                 ) AS rn
          FROM scored
        ) WHERE rn <= 10
    """,
    "embedding_dup_pairs": """
        SELECT a.vec_id AS a, b.vec_id AS b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.45
    """,
    # The WARC gate's oracle reconstructs the decoded table straight
    # from the source rows using the same doc_id arithmetic as
    # sources/warc.py synth_warc_plan (every 10th doc a 301 redirect
    # with no body; others text/html with the deterministic synthetic
    # html whose md5 must survive the chunked/gzip wire decodings).
    "warc_ingest": """
        WITH docs AS (
          SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 300
        )
        SELECT
          'https://w' || CAST(doc_id % 7 AS VARCHAR) || '.test/doc/'
            || CAST(doc_id AS VARCHAR) AS url,
          CAST(epoch(TIMESTAMP '2024-01-01 00:00:00'
                     + doc_id * INTERVAL 1 SECOND) AS BIGINT) AS warc_epoch,
          CASE WHEN doc_id % 10 = 0 THEN 301 ELSE 200 END AS status_code,
          CASE WHEN doc_id % 10 = 0 THEN
            'https://w' || CAST(doc_id % 7 AS VARCHAR) || '.test/doc/'
              || CAST(doc_id AS VARCHAR) || '/moved'
          END AS location,
          CASE WHEN doc_id % 10 = 0 THEN NULL ELSE 'text/html' END
            AS content_type,
          CASE WHEN doc_id % 10 = 0 THEN NULL ELSE
            md5('<html><head><title>doc ' || CAST(doc_id AS VARCHAR)
                || '</title></head><body>' || text || '</body></html>')
          END AS body_md5
        FROM docs
    """,
    # dedup_simhash, fingerprint_overlap, ann_lsh, ann_ivf,
    # embedding_dup_pairs_lsh: approximate/custom-sketch operators with
    # no faithful SQL mirror -> rows-only driver check; their exact
    # semantics are pinned by tests/test_dedup.py & test_similarity.py.
}


def _pretrain_pipeline_sql() -> str:
    """One DuckDB query mirroring the full composed pipeline
    (q_pretrain_pipeline): eval-slice holdout → token-count gate →
    lang_id gate → Gopher repetition keep-rule → md5 exact dedup →
    >=20-shared-trigram decontam (benchmark DF cap 25) → 50% hash
    sample."""
    rep_cte = _repetition_cte("q0")
    return f"""
WITH lang AS ({_lang_id_sql()}),
base AS (
  SELECT d.doc_id, d.source, d.text,
         len(list_filter(string_split(trim(d.text), ' '), x -> x <> ''))
           AS n_tokens,
         l.pred_lang
  FROM documents d JOIN lang l USING (doc_id)
  WHERE d.doc_id % 10 <> 0
), q0 AS (
  SELECT * FROM base WHERE n_tokens >= 20 AND pred_lang = 'en'
), {rep_cte}, q AS (
  SELECT q0.* FROM q0 JOIN rs_stats s USING (doc_id)
  WHERE s.dup_line_frac <= {REP_FILTER_THRESHOLDS['max_dup_line_frac']}
    AND s.dup_line_char_frac <= {REP_FILTER_THRESHOLDS['max_dup_line_char_frac']}
    AND s.top_ngram_char_frac <= {REP_FILTER_THRESHOLDS['max_top_ngram_char_frac']}
    AND s.dup_ngram_char_frac <= {REP_FILTER_THRESHOLDS['max_dup_ngram_char_frac']}
), keep AS (
  SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)
), dd AS (
  SELECT q.* FROM q JOIN keep USING (doc_id)
), toks AS (
  SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 2),
                  i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shingle
    FROM toks WHERE len(t) >= 3
  )
), bsh0 AS (
  SELECT doc_id AS b_doc, shingle FROM sh WHERE doc_id % 10 = 0
), bkeep AS (
  SELECT shingle FROM bsh0 GROUP BY shingle HAVING count(*) <= 25
), bsh AS (
  SELECT b_doc, bsh0.shingle FROM bsh0 JOIN bkeep USING (shingle)
), csh AS (
  SELECT dd.doc_id AS c_doc, sh.shingle FROM sh JOIN dd USING (doc_id)
), bad AS (
  SELECT c_doc FROM (
    SELECT c_doc, count(DISTINCT shingle) AS n
    FROM csh JOIN bsh USING (shingle) GROUP BY c_doc
  ) WHERE n >= 20
)
SELECT doc_id, source, n_tokens FROM dd
WHERE doc_id NOT IN (SELECT c_doc FROM bad)
  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
"""



# --------------------------------------------------------------------
# Repetition stats / filter + span-level substring dedup oracles.
# The CTE bodies mirror the Spark plans stage for stage: same token
# split regex, same wrap-every-10-tokens line derivation, same
# (count, gram)-lexicographic top-n-gram tie-break, same island
# merge. Doubles are single divisions of exact ints both sides.
# --------------------------------------------------------------------

def _repetition_cte(rel: str = "documents") -> str:
    """The rs_* CTE chain (no leading WITH) computing per-doc
    repetition signals over `rel` — composable into larger WITHs
    (the pretrain pipeline gates its quality+lang slice)."""
    return r"""rs_base AS (
  SELECT doc_id, length(text) AS chars, text,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM """ + rel + r"""
), rs_derived AS (
  SELECT doc_id, chars,
    CASE WHEN contains(text, chr(10)) THEN
      list_filter(list_transform(string_split(text, chr(10)),
                  l -> regexp_replace(l, '^\s+|\s+$', '', 'g')),
                  l -> l <> '')
    WHEN len(t) > 0 THEN
      list_transform(generate_series(0, CAST(ceil(len(t)/10.0) AS INT) - 1),
                     i -> array_to_string(t[i*10+1 : i*10+10], ' '))
    ELSE [] END AS ls,
    CASE WHEN len(t) >= 2 THEN
      list_transform(generate_series(1, len(t)-1),
                     i -> array_to_string(t[i:i+1], ' '))
    ELSE [] END AS tg,
    CASE WHEN len(t) >= 5 THEN
      list_transform(generate_series(1, len(t)-4),
                     i -> array_to_string(t[i:i+4], ' '))
    ELSE [] END AS dg
  FROM rs_base
), rs_ex AS (
  SELECT doc_id, chars, 'L' AS kind, unnest(ls) AS item FROM rs_derived
  UNION ALL SELECT doc_id, chars, 'T' AS kind, unnest(tg) AS item FROM rs_derived
  UNION ALL SELECT doc_id, chars, 'D' AS kind, unnest(dg) AS item FROM rs_derived
  UNION ALL SELECT doc_id, chars, '_' AS kind, '' AS item FROM rs_derived
), rs_cnts AS (
  SELECT doc_id, chars, kind, item, count(*) AS cnt
  FROM rs_ex GROUP BY doc_id, chars, kind, item
), rs_agg AS (
  SELECT doc_id, chars,
    CAST(coalesce(sum(cnt) FILTER (WHERE kind='L'), 0) AS BIGINT) AS n_lines,
    count(*) FILTER (WHERE kind='L') AS dl,
    sum((cnt-1)*length(item)) FILTER (WHERE kind='L') AS dlc,
    sum(cnt*length(item)) FILTER (WHERE kind='L') AS lc,
    max(cnt * 2147483648 + length(item)) FILTER (WHERE kind='T') AS top,
    sum((cnt-1)*length(item)) FILTER (WHERE kind='D' AND cnt>1) AS dgc
  FROM rs_cnts GROUP BY doc_id, chars
), rs_stats AS (
  SELECT doc_id, n_lines,
    CASE WHEN n_lines > 0 THEN 1.0 - CAST(dl AS DOUBLE)/n_lines
         ELSE 0.0 END AS dup_line_frac,
    CAST(coalesce(dlc, 0) AS DOUBLE)/greatest(coalesce(lc, 0), 1)
      AS dup_line_char_frac,
    coalesce(CAST((top >> 31) * (top & 2147483647) AS DOUBLE)/greatest(chars, 1), 0.0)
      AS top_ngram_char_frac,
    CAST(coalesce(dgc, 0) AS DOUBLE)/greatest(chars, 1)
      AS dup_ngram_char_frac
  FROM rs_agg
)"""


ORACLE_SQL["repetition_stats"] = (
    "WITH " + _repetition_cte()
    + "\nSELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,\n"
    "       top_ngram_char_frac, dup_ngram_char_frac FROM rs_stats"
)

ORACLE_SQL["repetition_filter"] = (
    "WITH " + _repetition_cte()
    + f"""
SELECT d.doc_id, d.source FROM documents d
JOIN rs_stats s ON s.doc_id = d.doc_id
WHERE s.dup_line_frac <= {REP_FILTER_THRESHOLDS['max_dup_line_frac']}
  AND s.dup_line_char_frac <= {REP_FILTER_THRESHOLDS['max_dup_line_char_frac']}
  AND s.top_ngram_char_frac <= {REP_FILTER_THRESHOLDS['max_top_ngram_char_frac']}
  AND s.dup_ngram_char_frac <= {REP_FILTER_THRESHOLDS['max_dup_ngram_char_frac']}
"""
)

ORACLE_SQL["pretrain_pipeline"] = _pretrain_pipeline_sql()

_SPAN_ISLANDS_SQL = r"""
WITH sp_toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
), sp_pos AS (
  SELECT doc_id, unnest(generate_series(1, len(t)-4)) AS i, t
  FROM sp_toks WHERE len(t) >= 5
), sp_sh AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+4], ' ') AS shingle
  FROM sp_pos
), sp_keep AS (
  SELECT shingle FROM sp_sh GROUP BY shingle HAVING count(*) >= 2
), sp_hits AS (
  SELECT doc_id, pos FROM sp_sh JOIN sp_keep USING (shingle)
), sp_isl AS (
  SELECT doc_id, pos,
    sum(CASE WHEN prev IS NULL OR pos > prev THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT doc_id, pos,
      max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        AS prev
    FROM sp_hits) z
), sp_spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e,
         CAST(count(*) AS BIGINT) AS n_shingles
  FROM sp_isl GROUP BY doc_id, island
)
"""

ORACLE_SQL["dedup_spans"] = (
    _SPAN_ISLANDS_SQL
    + "SELECT doc_id, CAST(s AS INT) AS span_start,\n"
    "       CAST(e AS INT) AS span_end, n_shingles FROM sp_spans"
)

ORACLE_SQL["dedup_span_removal"] = (
    _SPAN_ISLANDS_SQL
    + r""", sp_lists AS (
  SELECT doc_id, list({'s': s, 'e': e}) AS spans FROM sp_spans GROUP BY doc_id
)
SELECT t.doc_id,
  coalesce(array_to_string(
    CASE WHEN sp.spans IS NULL THEN t.t
         ELSE list_filter(t.t, (x, i) ->
              len(list_filter(sp.spans, v -> i - 1 >= v.s AND i - 1 < v.e)) = 0)
    END, ' '), '') AS clean_text,
  CAST(len(t.t) - CASE WHEN sp.spans IS NULL THEN len(t.t)
       ELSE len(list_filter(t.t, (x, i) ->
            len(list_filter(sp.spans, v -> i - 1 >= v.s AND i - 1 < v.e)) = 0))
       END AS INT) AS n_tokens_removed
FROM sp_toks t LEFT JOIN sp_lists sp ON t.doc_id = sp.doc_id
"""
)


# mixture_sample: the oracle mirrors the integer tau=0.5 protocol —
# floor(sqrt(n)) == isqrt(n) for n < 2^52, then integer division
# only, then the md5-prefix16 draw compared against the 4-nibble hex
# threshold (fixed-width lowercase hex compares like the integer).
ORACLE_SQL["mixture_sample"] = """
WITH mx_c AS (
  SELECT lang, count(*) AS n FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
), mx_w AS (
  SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM mx_c
), mx_thr AS (
  SELECT lang,
         CAST(least(65536, (65536 * 250 * w) // ((SELECT sum(w) FROM mx_w) * n))
              AS BIGINT) AS thr
  FROM mx_w
)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d JOIN mx_thr t ON d.lang = t.lang
WHERE t.thr >= 65536
   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', t.thr)
"""


# doc_pack / shard_manifest: exact window mirror — same md5 order key,
# same greedy floor(tokens_before / budget) cut. string_split_regex
# matches the Spark F.split(..., '\s+') token protocol exactly (the
# single-space split used by older oracles only coincides on this
# testdata; the regex form is the real mirror).
_PACK_SQL = r"""
WITH pk_slim AS (
  SELECT doc_id,
         CAST(doc_id % {buckets} AS INT) AS bucket,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         md5('pack:' || CAST(doc_id AS VARCHAR)) AS _pk
  FROM documents
), pk_cum AS (
  SELECT doc_id, bucket, n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY bucket ORDER BY _pk, doc_id
           ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tokens_before
  FROM pk_slim
)
SELECT doc_id, bucket,
       CAST(floor(CAST(tokens_before AS DOUBLE) / {budget}) AS INT) AS shard_id,
       n_tokens, tokens_before
FROM pk_cum
"""

# bpe_pair_counts: the round-1 BPE pair count — char symbols with the
# </w> end-of-word fusion, adjacent pairs, one group-count. Mirrors
# operators/bpe.py::pair_counts(merges=()) symbol for symbol.
ORACLE_SQL["bpe_pair_counts"] = r"""
WITH bw AS (
  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS w
  FROM documents
), bc AS (
  SELECT regexp_extract_all(w, '.') AS cs FROM bw
), bs AS (
  SELECT CASE WHEN len(cs) = 0 THEN []
         ELSE list_append(cs[1:len(cs)-1], cs[len(cs)] || '</w>')
         END AS s
  FROM bc
), bp AS (
  SELECT unnest(list_transform(generate_series(1, len(s) - 1),
           i -> struct_pack(l := s[i], r := s[i+1]))) AS p
  FROM bs WHERE len(s) >= 2
)
SELECT p.l AS sym_left, p.r AS sym_right,
       CAST(count(*) AS BIGINT) AS cnt
FROM bp GROUP BY 1, 2
"""

# weighted_sample: A-ES winners under the floor-micro-nat protocol;
# the 16-bit draw decoded to an integer via the md5 digit trick.
_H16 = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {i}, 1)) - 1) * {16 ** (4 - i)}"
    for i in range(1, 5)
)
ORACLE_SQL["weighted_sample"] = f"""
WITH ws AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         CAST(floor(-1000000.0
              * ln((CAST({_H16} AS DOUBLE) + 1) / 65537.0)
              / CAST(n_chars AS DOUBLE)) AS BIGINT) AS sample_key_micro
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, weight, sample_key_micro
FROM ws ORDER BY sample_key_micro ASC, doc_id ASC LIMIT 100
"""

ORACLE_SQL["doc_pack"] = _PACK_SQL.format(
    buckets=packing.DEFAULT_BUCKETS, budget=packing.DEFAULT_BUDGET
)

# mixture_pack: the mixture CTEs feed the pack CTEs as relation
# `mixed` — one composed DuckDB query mirroring the one Spark plan.
ORACLE_SQL["mixture_pack"] = (
    r"""WITH mx_c AS (
  SELECT lang, count(*) AS n FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
), mx_w AS (
  SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM mx_c
), mx_thr AS (
  SELECT lang,
         CAST(least(65536, (65536 * 250 * w) // ((SELECT sum(w) FROM mx_w) * n))
              AS BIGINT) AS thr
  FROM mx_w
), mixed AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN mx_thr t ON d.lang = t.lang
  WHERE t.thr >= 65536
     OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', t.thr)
), """
    + _PACK_SQL.format(
        buckets=packing.DEFAULT_BUCKETS, budget=packing.DEFAULT_BUDGET
    )
    .replace("FROM documents", "FROM mixed")
    .replace("WITH pk_slim", "pk_slim", 1)
    .replace(
        "SELECT doc_id, bucket,\n       CAST(floor(",
        ", pk_rows AS (SELECT doc_id, bucket,\n       CAST(floor(",
        1,
    )
    + r""")
SELECT bucket, shard_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
FROM pk_rows GROUP BY bucket, shard_id
"""
)
ORACLE_SQL["shard_manifest"] = (
    "SELECT bucket, shard_id, count(*) AS n_docs, "
    "CAST(sum(n_tokens) AS BIGINT) AS shard_tokens FROM ("
    + ORACLE_SQL["doc_pack"]
    + ") GROUP BY bucket, shard_id"
)

# lm_logloss / lm_head: the capped-vocab unigram LM. The floor-milli
# protocol tolerates engine ln/summation-order ulps; the vocabulary's
# (cnt DESC, term ASC) order is a deterministic total order so the
# LIMIT never tie-breaks differently across engines.
_LM_SQL = r"""
WITH lm_tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), lm_counts AS (
  SELECT term, count(*) AS cnt FROM lm_tok GROUP BY term
), lm_vocab AS (
  SELECT term, cnt FROM lm_counts ORDER BY cnt DESC, term ASC LIMIT {k}
), lm_scal AS (
  SELECT (SELECT count(*) FROM lm_tok) AS n_total,
         (SELECT count(*) FROM lm_vocab) AS k_eff,
         (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM lm_vocab) AS covered
), lm_scored AS (
  SELECT t.doc_id,
         ln(CAST(coalesce(v.cnt, s.n_total - s.covered) + 1 AS DOUBLE)
            / CAST(s.n_total + s.k_eff + 1 AS DOUBLE)) AS lnp
  FROM lm_tok t LEFT JOIN lm_vocab v USING (term) CROSS JOIN lm_scal s
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(floor(-1000.0 * avg(lnp)) AS BIGINT) AS logloss_milli
FROM lm_scored GROUP BY doc_id
"""

ORACLE_SQL["lm_logloss"] = _LM_SQL.format(k=lmscore.DEFAULT_VOCAB_K)
ORACLE_SQL["lm_head"] = (
    "SELECT doc_id, source, lang FROM documents WHERE doc_id IN ("
    "SELECT doc_id FROM (" + ORACLE_SQL["lm_logloss"] + ") "
    "WHERE logloss_milli <= 3400)"
)

# quantile_buckets / ccnet_buckets: the histogram-CDF exact-quantile
# protocol. Cut counts are (N*num)//den bigints; the tie rule (a
# value group whose CDF exceeds the cut lands wholly in the later
# bucket) is pure integer comparison, so both engines agree exactly.
def _quantile_map_sql(rel: str, vcol: str) -> str:
    return f"""qh AS (
  SELECT {vcol} AS v, CAST(count(*) AS BIGINT) AS c
  FROM {rel} GROUP BY {vcol}
), qcdf AS (
  SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum FROM qh
), qtot AS (
  SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM qh
), qmap AS (
  SELECT v, CASE WHEN cum <= (n * 1) // 3 THEN 'head'
                 WHEN cum <= (n * 2) // 3 THEN 'middle'
                 ELSE 'tail' END AS bucket
  FROM qcdf CROSS JOIN qtot
)"""


ORACLE_SQL["quantile_buckets"] = (
    "WITH "
    + _quantile_map_sql("documents", "n_chars")
    + r"""
SELECT d.doc_id, d.n_chars, m.bucket
FROM documents d JOIN qmap m ON m.v = d.n_chars
"""
)

ORACLE_SQL["quantile_buckets_by_lang"] = r"""
WITH qh AS (
  SELECT lang, n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY lang, n_chars
), qcdf AS (
  SELECT lang, v,
         CAST(sum(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
  FROM qh
), qmap AS (
  SELECT lang, v, CASE WHEN cum <= (n * 1) // 3 THEN 'head'
                       WHEN cum <= (n * 2) // 3 THEN 'middle'
                       ELSE 'tail' END AS bucket
  FROM qcdf
)
SELECT d.doc_id, d.lang, d.n_chars, m.bucket
FROM documents d
JOIN qmap m ON m.lang IS NOT DISTINCT FROM d.lang AND m.v = d.n_chars
"""

ORACLE_SQL["ccnet_buckets"] = (
    "WITH lm AS ("
    + _LM_SQL.format(k=lmscore.DEFAULT_VOCAB_K)
    + "), "
    + _quantile_map_sql("lm", "logloss_milli")
    + r"""
SELECT lm.doc_id, lm.n_tokens, lm.logloss_milli, m.bucket
FROM lm JOIN qmap m ON m.v = lm.logloss_milli
"""
)

# dedup_stream: cumulative first-wave-wins stated directly as SQL —
# a doc survives iff it is its wave's min id for its text AND its
# wave is the first wave containing that text.
ORACLE_SQL["dedup_stream"] = r"""
WITH w AS (
  SELECT doc_id, source, text, doc_id % 3 AS wave FROM documents
), f AS (
  SELECT text, wave, min(doc_id) AS doc_id
  FROM w GROUP BY text, wave
), fw AS (
  SELECT text, min(wave) AS wave FROM w GROUP BY text
)
SELECT d.doc_id, d.source
FROM f JOIN fw USING (text, wave)
JOIN w d ON d.doc_id = f.doc_id
"""

# dsir_model / dsir_logratio / dsir_head: the hashed-bigram
# importance model. Bucket id mirrors Spark's
# conv(substring(md5(g),1,4),16,10) via strpos arithmetic over the
# md5 hex prefix; the ln argument is assembled from exact-int casts
# with one multiply and one divide (each IEEE-correctly-rounded), so
# the per-bucket floor-milli quantization agrees across engines and
# every per-doc weight is an integer sum (summation-order-free).
_DSIR_B = 65_536


def _dsir_sql_core() -> str:
    digit = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    prefix16 = " + ".join(
        f"{digit.format(i=i)} * {m}"
        for i, m in ((1, 4096), (2, 256), (3, 16), (4, 1))
    )
    return (
        r"""ds_tok AS (
  SELECT doc_id, source IN ('src0', 'src1') AS is_t,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
), ds_bg AS (
  SELECT doc_id, is_t,
         unnest(CASE WHEN len(t) >= 2 THEN
           list_transform(generate_series(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1])
         ELSE [] END) AS g
  FROM ds_tok
), ds_h AS (
  SELECT doc_id, is_t, md5(g) AS h FROM ds_bg
), ds_fb AS (
  SELECT doc_id, is_t, ("""
        + prefix16
        + r""") % {B} AS bucket FROM ds_h
), ds_stats AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS raw_ct,
         CAST(coalesce(sum(CASE WHEN is_t THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS tgt_ct
  FROM ds_fb GROUP BY bucket
), ds_tot AS (
  SELECT CAST(coalesce(sum(raw_ct), 0) AS BIGINT) AS rt,
         CAST(coalesce(sum(tgt_ct), 0) AS BIGINT) AS tt
  FROM ds_stats
), ds_scores AS (
  SELECT bucket, raw_ct, tgt_ct,
    CAST(floor(1000.0 * ln(
      (CAST(tgt_ct + 1 AS DOUBLE) * CAST(rt + {B} AS DOUBLE))
      / (CAST(raw_ct + 1 AS DOUBLE) * CAST(tt + {B} AS DOUBLE))))
      AS BIGINT) AS lr_milli
  FROM ds_stats CROSS JOIN ds_tot
)"""
    ).replace("{B}", str(_DSIR_B))


ORACLE_SQL["dsir_model"] = (
    "WITH "
    + _dsir_sql_core()
    + r"""
SELECT bucket, raw_ct, tgt_ct, lr_milli FROM ds_scores
"""
)

_DSIR_DOC_SQL = (
    "WITH "
    + _dsir_sql_core()
    + r"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(lr_milli) AS BIGINT) AS weight_milli
FROM ds_fb JOIN ds_scores USING (bucket)
GROUP BY doc_id
"""
)

ORACLE_SQL["dsir_logratio"] = _DSIR_DOC_SQL
ORACLE_SQL["dsir_head"] = (
    "SELECT * FROM ("
    + _DSIR_DOC_SQL
    + ") ORDER BY weight_milli DESC, doc_id ASC LIMIT 100"
)

# host_stats / host_filter: one groupBy(host); the doubles are a
# single bigint/bigint IEEE division in both engines (never an
# incremental average), so they hash bit-identically.
_HOST_STATS_SQL = r"""
WITH hq_tok AS (
  SELECT source AS host,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS nt
  FROM documents
), hq_agg AS (
  SELECT host, count(*) AS n_docs,
         CAST(sum(nt) AS BIGINT) AS sum_tokens,
         CAST(sum(CASE WHEN nt < {short} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_short
  FROM hq_tok GROUP BY host
)
SELECT host, n_docs, sum_tokens, n_short,
       CAST(sum_tokens AS DOUBLE) / n_docs AS mean_tokens,
       CAST(n_short AS DOUBLE) / n_docs AS short_frac
FROM hq_agg
"""

ORACLE_SQL["host_stats"] = _HOST_STATS_SQL.format(
    short=webquality.DEFAULT_SHORT_TOKENS
)
ORACLE_SQL["host_filter"] = (
    "SELECT doc_id, source FROM documents WHERE source IN ("
    "SELECT host FROM (" + ORACLE_SQL["host_stats"] + ") "
    "WHERE host IS NOT NULL AND n_docs >= {min_docs} "
    "AND mean_tokens >= {min_mean} AND short_frac <= {max_short})"
).format(
    min_docs=webquality.DEFAULT_MIN_DOCS,
    min_mean=webquality.DEFAULT_MIN_MEAN_TOKENS,
    max_short=webquality.DEFAULT_MAX_SHORT_FRAC,
)


# incremental_dedup: in-increment min-id winners whose text hash is
# absent from the snapshot's content-hash set.
ORACLE_SQL["incremental_dedup"] = """
WITH inc AS (
  SELECT * FROM documents WHERE doc_id % 3 <> 0
), snap_h AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 = 0
), fresh AS (
  SELECT * FROM inc WHERE doc_id IN (
    SELECT min(doc_id) FROM inc GROUP BY md5(text))
)
SELECT doc_id, source FROM fresh
WHERE md5(text) IS NULL
   OR md5(text) NOT IN (SELECT h FROM snap_h WHERE h IS NOT NULL)
"""


# --------------------------------------------------------------------
# Web-cleaning / URL-quality / paragraph-dedup / CDX gates (round 4,
# second batch). The testdata documents are single-line and
# punctuation-free, so each gate runs over a DETERMINISTIC web-shaped
# derivation (sources/synth.py::weblines_from_documents /
# urls_from_documents / pages_from_documents) whose native-expression
# Spark form has an exact DuckDB CTE twin below — both engines derive
# the same bytes from the same parquet, then the operator under test
# transforms them.
# --------------------------------------------------------------------

from website_indexer_spark.functions import urlstats as _urlstats  # noqa: E402
from website_indexer_spark.functions import webclean as _webclean  # noqa: E402
from website_indexer_spark.sources import cdx as _cdx  # noqa: E402
from website_indexer_spark.sources.synth import (  # noqa: E402
    pages_from_documents,
    urls_from_documents,
    weblines_from_documents,
)


def q_c4_line_stats(spark, sf):
    """C4 line-cleaning outcome per doc (functions/webclean.py):
    one narrow higher-order-function projection — zero exchanges."""
    web = weblines_from_documents(_t(spark, sf, "documents"))
    return _webclean.c4_line_stats(web)


def q_c4_clean(spark, sf):
    """C4 page gate: bad pages and <3-surviving-line pages dropped,
    text replaced by the cleaned rebuild."""
    web = weblines_from_documents(_t(spark, sf, "documents"))
    return _webclean.c4_clean(web, keep_cols=["source"])


def q_paragraph_dedup(spark, sf):
    """Corpus-wide first-occurrence line dedup (operators/dedup.py::
    dedup_paragraphs): partial-agg firsts (skew dies map-side),
    AQE-splittable N:1 probe join, per-doc reassembly."""
    web = weblines_from_documents(_t(spark, sf, "documents"))
    return dedup.dedup_paragraphs(web)


def q_url_features(spark, sf):
    """URL quality features (functions/urlstats.py): one narrow
    regexp/arithmetic projection; digit_ratio is a single int/int
    IEEE division so the double hash-matches."""
    urls = urls_from_documents(_t(spark, sf, "documents"))
    return urls.select(
        "doc_id", "url", *_urlstats.url_quality_columns(F.col("url"))
    )


def q_url_filter(spark, sf):
    """URL gauntlet survivors — narrow filter, pushes to the scan."""
    urls = urls_from_documents(_t(spark, sf, "documents"))
    return _urlstats.url_quality_filter(urls)


def q_cdx_index(spark, sf):
    """CDX capture index over a web_pages-shaped derivation
    (sources/cdx.py): SURT + 14-digit UTC timestamp + digest, all
    native expressions. The 14-digit rendering is wall-clock-free but
    session-TZ-sensitive, so the gate pins the session to UTC (the
    engine's own sessions already run UTC — sources/tables.py)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pages = pages_from_documents(_t(spark, sf, "documents"))
    return _cdx.cdx_index(pages)


def q_encoding_stats(spark, sf):
    """Decode-damage signals (functions/encoding.py): U+FFFD /
    C0-C1-control / mojibake-pilot character counts + exact permille
    density, over the deterministic damage-injected derivation —
    one narrow projection, zero exchanges."""
    from website_indexer_spark.functions.encoding import encoding_stats
    from website_indexer_spark.sources.synth import (
        damaged_from_documents,
    )

    return encoding_stats(
        damaged_from_documents(_t(spark, sf, "documents"))
    )


def q_encoding_filter(spark, sf):
    """The keep-rule form: survivors at the default <=5-permille
    damage threshold (injected rows die, clean rows pass)."""
    from website_indexer_spark.functions.encoding import (
        encoding_filter,
    )
    from website_indexer_spark.sources.synth import (
        damaged_from_documents,
    )

    return encoding_filter(
        damaged_from_documents(_t(spark, sf, "documents"))
    ).select("doc_id", "source")


SPARK_QUERIES["c4_line_stats"] = q_c4_line_stats
SPARK_QUERIES["c4_clean"] = q_c4_clean
SPARK_QUERIES["encoding_stats"] = q_encoding_stats
SPARK_QUERIES["encoding_filter"] = q_encoding_filter
SPARK_QUERIES["paragraph_dedup"] = q_paragraph_dedup
SPARK_QUERIES["url_features"] = q_url_features
SPARK_QUERIES["url_filter"] = q_url_filter
SPARK_QUERIES["cdx_index"] = q_cdx_index


# encoding_stats / encoding_filter: the damage-injected derivation is
# rebuilt from chr() codepoints (byte-identical to synth's literals);
# counters are chars-removed-by-regexp in both engines, and the
# permille is one IEEE double division of exact ints, floor-bucketed.
_ENC_MOJI_SFX = (
    "' caf' || chr(195) || chr(169) || ' ' || chr(226) || chr(8364)"
    " || chr(8482) || 's'"
)
_ENC_CTRL_SFX = "chr(65533) || chr(1) || chr(159)"
_ENC_CTE = f"""enc AS (
  SELECT doc_id, source,
    text
    || CASE WHEN doc_id % 5 = 0 THEN {_ENC_MOJI_SFX} ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN {_ENC_CTRL_SFX} ELSE '' END
    AS text
  FROM documents
), enc_cnt AS (
  SELECT doc_id, source, length(text) AS n,
    length(text) - length(regexp_replace(text, chr(65533), '', 'g'))
      AS r,
    length(text) - length(regexp_replace(text,
      '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]', '', 'g')) AS c,
    length(text) - length(regexp_replace(text,
      '(?:' || chr(195) || '|' || chr(194) || '|' || chr(226)
      || chr(8364) || '|' || chr(239) || chr(187) || chr(191) || ')',
      '', 'g')) AS m
  FROM enc
), enc_stats AS (
  SELECT doc_id, source,
    CAST(n AS BIGINT) AS n_chars,
    CAST(r AS BIGINT) AS repl_chars,
    CAST(c AS BIGINT) AS ctrl_chars,
    CAST(m AS BIGINT) AS moji_chars,
    CAST(floor(1000 * (r + c + m) / greatest(n, 1)) AS BIGINT)
      AS badness_permille
  FROM enc_cnt
)"""

ORACLE_SQL["encoding_stats"] = (
    "WITH " + _ENC_CTE + r"""
SELECT doc_id, n_chars, repl_chars, ctrl_chars, moji_chars,
       badness_permille
FROM enc_stats
"""
)

ORACLE_SQL["encoding_filter"] = (
    "WITH " + _ENC_CTE + r"""
SELECT doc_id, source FROM enc_stats WHERE badness_permille <= 5
"""
)


# --- DuckDB twins ----------------------------------------------------

def _webtext_cte(rel: str = "documents") -> str:
    """CTE chain deriving the web-shaped multi-line text (exact twin
    of synth.weblines_from_documents: 8-token lines, (doc_id+i)%12
    flavor switch, %41/%43 page-level appends)."""
    return r"""wt_tok AS (
  SELECT doc_id, source, lang,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM """ + rel + r"""
), webtext AS (
  SELECT doc_id, source, lang,
    coalesce(array_to_string(list_concat(
      CASE WHEN len(t) > 0 THEN
        list_transform(generate_series(0, CAST(ceil(len(t)/8.0) AS INT) - 1),
          i -> CASE ((doc_id + i) % 12)
               WHEN 0 THEN array_to_string(t[i*8+1 : i*8+8], ' ')
               WHEN 1 THEN array_to_string(t[i*8+1 : i*8+8], ' ')
                           || ' javascript required.'
               WHEN 2 THEN t[i*8+1] || '.'
               WHEN 3 THEN array_to_string(t[i*8+1 : i*8+8], ' ')
                           || ' please review our privacy policy.'
               ELSE array_to_string(t[i*8+1 : i*8+8], ' ') || '.' END)
      ELSE [] END,
      CASE WHEN doc_id % 41 = 0 THEN ['lorem ipsum dolor sit amet.']
           WHEN doc_id % 43 = 0 THEN ['if (x) { return; }']
           ELSE [] END
    ), chr(10)), '') AS text
  FROM wt_tok
)"""


# wrapped_lines twin over the webtext (same CASE chain rs_derived
# uses: real newlines stripped/blank-dropped, else wrap-10).
_WLINES = r"""wl AS (
  SELECT doc_id, source, text,
    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t2
  FROM webtext
), plines AS (
  SELECT doc_id, source, text,
    CASE WHEN contains(text, chr(10)) THEN
      list_filter(list_transform(string_split(text, chr(10)),
                  l -> regexp_replace(l, '^\s+|\s+$', '', 'g')),
                  l -> l <> '')
    WHEN len(t2) > 0 THEN
      list_transform(generate_series(0, CAST(ceil(len(t2)/10.0) AS INT) - 1),
                     i -> array_to_string(t2[i*10+1 : i*10+10], ' '))
    ELSE [] END AS ls
  FROM wl
)"""

def _c4_keep_sql(require_terminal_punct: bool = True) -> str:
    """The C4 line-keep predicate over a line array `ls` — one
    generator for both rule variants (webclean.line_keep's
    require_terminal_punct switch)."""
    punct = (
        r"""regexp_matches(l, '[.!?"]$') AND """
        if require_terminal_punct
        else ""
    )
    return (
        r"""list_filter(ls, l -> """ + punct
        + r"""len(list_filter(string_split_regex(l, '\s+'), x -> x <> '')) >= 3"""
        r""" AND NOT contains(lower(l), 'javascript')"""
        r""" AND NOT contains(lower(l), 'terms of use')"""
        r""" AND NOT contains(lower(l), 'privacy policy')"""
        r""" AND NOT contains(lower(l), 'cookie policy')"""
        r""" AND NOT contains(lower(l), 'uses cookies')"""
        r""" AND NOT contains(lower(l), 'use of cookies')"""
        r""" AND NOT contains(lower(l), 'use cookies'))"""
    )


_C4_KEEP = _c4_keep_sql()

ORACLE_SQL["c4_line_stats"] = (
    "WITH " + _webtext_cte() + ", " + _WLINES + f""", c4 AS (
  SELECT doc_id, text, ls, {_C4_KEEP} AS kept FROM plines
)
SELECT doc_id,
       len(ls) AS n_lines,
       len(kept) AS n_kept,
       (contains(lower(text), 'lorem ipsum') OR contains(text, '{{'))
         AS bad_page,
       coalesce(array_to_string(kept, chr(10)), '') AS clean_text
FROM c4
""".replace("{{", "{")
)

ORACLE_SQL["c4_clean"] = (
    "WITH " + _webtext_cte() + ", " + _WLINES + f""", c4 AS (
  SELECT doc_id, source, text, {_C4_KEEP} AS kept FROM plines
)
SELECT doc_id, source,
       coalesce(array_to_string(kept, chr(10)), '') AS text,
       len(kept) AS n_kept
FROM c4
WHERE NOT (contains(lower(text), 'lorem ipsum') OR contains(text, '{{'))
  AND len(kept) >= 3
""".replace("{{", "{")
)

ORACLE_SQL["paragraph_dedup"] = (
    "WITH " + _webtext_cte() + ", " + _WLINES + r""", ex AS (
  SELECT doc_id, e.pos AS pos, e.line AS line FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
             i -> struct_pack(pos := i - 1, line := ls[i]))) AS e
    FROM plines)
), rk AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk
  FROM ex
), kept AS (
  SELECT doc_id, pos, line FROM rk WHERE rk = 1
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text
  FROM kept GROUP BY doc_id
)
SELECT p.doc_id,
       len(p.ls) AS n_lines,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(a.text, '') AS text
FROM plines p LEFT JOIN agg a USING (doc_id)
"""
)

_URLS_CTE = r"""u AS (
  SELECT doc_id, source,
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://'
    || (CASE WHEN doc_id % 5 = 0
        THEN upper(source || '-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com')
        ELSE source || '-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' END)
    || (CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END)
    || (CASE WHEN doc_id % 17 = 0 THEN '/casino' ELSE '' END)
    || '/sec' || CAST(doc_id % 13 AS VARCHAR)
    || '/page' || CAST(doc_id AS VARCHAR)
    || (CASE WHEN doc_id % 3 = 0 THEN '?ref=rss&id=' || CAST(doc_id AS VARCHAR)
             WHEN doc_id % 3 = 1 THEN '?utm_source=feed'
             ELSE '' END) AS url
  FROM documents
)"""

_URL_FEATURES = r"""feat AS (
  SELECT doc_id, source, url,
    length(url) AS url_len,
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:@]*@)?([^/?#:]*)', 2)) AS host,
    lower(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)) AS lpath,
    regexp_extract(url, '\?([^#]*)', 1) AS q
  FROM u
), feat2 AS (
  SELECT doc_id, source, url, url_len, scheme, host,
    CAST(length(lpath) - length(replace(lpath, '/', '')) AS INT)
      AS path_depth,
    CAST(len(regexp_extract_all(url, '[0-9]')) AS DOUBLE)
      / CAST(greatest(length(url), 1) AS DOUBLE) AS digit_ratio,
    CASE WHEN q = '' THEN 0 ELSE len(string_split(q, '&')) END AS n_params,
    (contains(host, 'casino') OR contains(lpath, 'casino')
     OR contains(host, 'gambling') OR contains(lpath, 'gambling')
     OR contains(host, 'viagra') OR contains(lpath, 'viagra'))
      AS blocklisted
  FROM feat
)"""

ORACLE_SQL["url_features"] = (
    "WITH " + _URLS_CTE + ", " + _URL_FEATURES + """
SELECT doc_id, url, url_len, scheme, host, path_depth, digit_ratio,
       n_params, blocklisted
FROM feat2
"""
)

ORACLE_SQL["url_filter"] = (
    "WITH " + _URLS_CTE + ", " + _URL_FEATURES + """
SELECT doc_id, source, url FROM feat2
WHERE url_len <= 2048 AND path_depth <= 8 AND digit_ratio <= 0.5
  AND n_params <= 8 AND NOT blocklisted
"""
)

ORACLE_SQL["cdx_index"] = (
    "WITH " + _URLS_CTE + r""", p AS (
  SELECT u.doc_id, u.url,
         1735689600 + u.doc_id * 37 AS epoch,
         d.text,
         CASE WHEN u.doc_id % 19 = 0 THEN 301 ELSE 200 END AS status_code
  FROM u JOIN documents d USING (doc_id)
), s AS (
  SELECT doc_id, url, epoch, text, status_code,
    lower(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#@]*@)?([^/?#]*)', 2)) AS auth,
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)) AS lpath,
    regexp_extract(url, '\?([^#]*)', 1) AS q
  FROM p
), s2 AS (
  SELECT doc_id, url, epoch, text, status_code, scheme, lpath, q,
    CASE WHEN starts_with(regexp_extract(auth, '^([^:]*)', 1), 'www.')
         THEN substr(regexp_extract(auth, '^([^:]*)', 1), 5)
         ELSE regexp_extract(auth, '^([^:]*)', 1) END AS host,
    regexp_extract(auth, ':(\d+)$', 1) AS port
  FROM s
)
SELECT
  array_to_string(list_reverse(string_split(host, '.')), ',')
  || (CASE WHEN port = '' OR port = (CASE WHEN scheme = 'http' THEN '80'
            WHEN scheme = 'https' THEN '443' ELSE '' END)
      THEN '' ELSE ':' || port END)
  || ')'
  || (CASE WHEN lpath = '' THEN '/' ELSE lpath END)
  || (CASE WHEN q = '' THEN ''
      ELSE '?' || array_to_string(list_sort(string_split(q, '&')), '&') END)
    AS surt,
  strftime(make_timestamp(epoch * 1000000), '%Y%m%d%H%M%S') AS ts14,
  url,
  'text/html' AS mime,
  status_code,
  md5(text) AS digest,
  CAST(octet_length(encode(text)) AS BIGINT) AS length
FROM s2
"""
)


def q_paragraph_dedup_snapshot(spark, sf):
    """Rolling-dump paragraph dedup (operators/dedup.py::
    dedup_paragraphs_against_snapshot): snapshot = webtext docs with
    doc_id%3==0 (the incremental_dedup split), increment = the rest;
    snapshot lines are dropped everywhere, then in-increment
    first-occurrence dedup."""
    web = weblines_from_documents(_t(spark, sf, "documents"))
    snapshot = web.where(F.col("doc_id") % 3 == 0)
    increment = web.where(F.col("doc_id") % 3 != 0)
    return dedup.dedup_paragraphs_against_snapshot(increment, snapshot)


SPARK_QUERIES["paragraph_dedup_snapshot"] = q_paragraph_dedup_snapshot

ORACLE_SQL["paragraph_dedup_snapshot"] = (
    "WITH " + _webtext_cte() + ", " + _WLINES + r""", snapl AS (
  SELECT DISTINCT line FROM (
    SELECT unnest(ls) AS line FROM plines WHERE doc_id % 3 = 0)
), inc AS (
  SELECT doc_id, ls FROM plines WHERE doc_id % 3 <> 0
), ex AS (
  SELECT doc_id, e.pos AS pos, e.line AS line FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
             i -> struct_pack(pos := i - 1, line := ls[i]))) AS e
    FROM inc)
), surv AS (
  SELECT ex.doc_id, ex.pos, ex.line FROM ex
  LEFT JOIN snapl s USING (line) WHERE s.line IS NULL
), rk AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk
  FROM surv
), kept AS (
  SELECT doc_id, pos, line FROM rk WHERE rk = 1
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text
  FROM kept GROUP BY doc_id
)
SELECT i.doc_id,
       len(i.ls) AS n_lines,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(a.text, '') AS text
FROM inc i LEFT JOIN agg a USING (doc_id)
"""
)


def q_semdedup(spark, sf):
    """SemDeDup (operators/similarity.py::semdedup): k-means cells +
    within-cell greedy leader pass. Approximate/float-seeded (Lloyd
    means), so rows-only like the other sketch operators; semantics
    pinned by tests/test_similarity.py's greedy oracle."""
    return similarity.semdedup(
        _t(spark, sf, "embeddings"), n_centroids=8, threshold=0.92
    )


SPARK_QUERIES["semdedup"] = q_semdedup


# --------------------------------------------------------------------
# Gopher/MassiveText document-quality rule set (Rae et al. 2021 A1.1,
# the non-repetition half — functions/gopherquality.py). One narrow
# projection, zero exchanges; thresholds per the A1 table. The gate
# passes an explicit stop-word list matched to the synthetic corpus's
# function-word inventory (the operator defaults to Gopher's 8).
# --------------------------------------------------------------------

from website_indexer_spark.functions import gopherquality as gq  # noqa: E402

GOPHER_GATE_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that"]
GOPHER_GATE_THRESHOLDS = dict(
    min_words=50,
    max_words=100_000,
    min_mean_word_len=3.0,
    max_mean_word_len=10.0,
    max_symbol_word_ratio=0.1,
    max_bullet_line_frac=0.1,
    max_ellipsis_line_frac=0.3,
    min_alpha_word_frac=0.8,
    min_stopword_hits=2,
)


def q_gopher_stats(spark, sf):
    """Gopher non-repetition quality signals per document: word count,
    mean word length, symbol-to-word ratio, bullet/ellipsis line
    fractions, alpha-word fraction, distinct stop-word presence —
    all in one native projection (zero exchanges at any scale)."""
    out = gq.gopher_quality_stats(
        _t(spark, sf, "documents"), stopwords=GOPHER_GATE_STOPWORDS
    )
    return out.withColumn("n_words", F.col("n_words").cast("long")).withColumn(
        "stopword_hits", F.col("stopword_hits").cast("long")
    )


def q_gopher_filter(spark, sf):
    """The Gopher A1 keep rule applied to the documents table
    (survivor doc_id + source)."""
    return gq.gopher_quality_filter(
        _t(spark, sf, "documents"),
        stopwords=GOPHER_GATE_STOPWORDS,
        **GOPHER_GATE_THRESHOLDS,
    ).select("doc_id", "source")


SPARK_QUERIES["gopher_stats"] = q_gopher_stats
SPARK_QUERIES["gopher_filter"] = q_gopher_filter


def _gopher_cte(rel: str = "documents") -> str:
    """gq_* CTE chain (no leading WITH) mirroring
    gopher_quality_columns stage for stage over `rel`."""
    sw_terms = " + ".join(
        "CASE WHEN len(list_filter(t, x -> lower(x) = '%s')) > 0 "
        "THEN 1 ELSE 0 END" % w
        for w in GOPHER_GATE_STOPWORDS
    )
    return (
        r"""gq_base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM """
        + rel
        + r"""
), gq_lines AS (
  SELECT doc_id, text, t,
    CASE WHEN contains(text, chr(10)) THEN
      list_filter(list_transform(string_split(text, chr(10)),
                  l -> regexp_replace(l, '^\s+|\s+$', '', 'g')),
                  l -> l <> '')
    WHEN len(t) > 0 THEN
      list_transform(generate_series(0, CAST(ceil(len(t)/10.0) AS INT) - 1),
                     i -> array_to_string(t[i*10+1 : i*10+10], ' '))
    ELSE [] END AS ls
  FROM gq_base
), gq_stats AS (
  SELECT doc_id,
    CAST(len(t) AS BIGINT) AS n_words,
    CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS DOUBLE)
      / greatest(len(t), 1) AS mean_word_len,
    CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE)
      / greatest(len(t), 1) AS symbol_word_ratio,
    CAST(len(list_filter(ls, l -> starts_with(l, '•') OR starts_with(l, '‣')
         OR starts_with(l, '▶') OR starts_with(l, '- ')
         OR starts_with(l, '* '))) AS DOUBLE)
      / greatest(len(ls), 1) AS bullet_line_frac,
    CAST(len(list_filter(ls, l -> ends_with(l, '...') OR ends_with(l, '…')))
         AS DOUBLE) / greatest(len(ls), 1) AS ellipsis_line_frac,
    CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
      / greatest(len(t), 1) AS alpha_word_frac,
    CAST("""
        + sw_terms
        + r""" AS BIGINT) AS stopword_hits
  FROM gq_lines
)"""
    )


ORACLE_SQL["gopher_stats"] = (
    "WITH " + _gopher_cte()
    + "\nSELECT doc_id, n_words, mean_word_len, symbol_word_ratio,\n"
    "       bullet_line_frac, ellipsis_line_frac, alpha_word_frac,\n"
    "       stopword_hits FROM gq_stats"
)

ORACLE_SQL["gopher_filter"] = (
    "WITH " + _gopher_cte()
    + f"""
SELECT d.doc_id, d.source FROM documents d
JOIN gq_stats s ON s.doc_id = d.doc_id
WHERE s.n_words BETWEEN {GOPHER_GATE_THRESHOLDS['min_words']}
      AND {GOPHER_GATE_THRESHOLDS['max_words']}
  AND s.mean_word_len >= {GOPHER_GATE_THRESHOLDS['min_mean_word_len']}
  AND s.mean_word_len <= {GOPHER_GATE_THRESHOLDS['max_mean_word_len']}
  AND s.symbol_word_ratio <= {GOPHER_GATE_THRESHOLDS['max_symbol_word_ratio']}
  AND s.bullet_line_frac <= {GOPHER_GATE_THRESHOLDS['max_bullet_line_frac']}
  AND s.ellipsis_line_frac <= {GOPHER_GATE_THRESHOLDS['max_ellipsis_line_frac']}
  AND s.alpha_word_frac >= {GOPHER_GATE_THRESHOLDS['min_alpha_word_frac']}
  AND s.stopword_hits >= {GOPHER_GATE_THRESHOLDS['min_stopword_hits']}
"""
)


def _enc_badness_sql(t: str) -> str:
    """encoding badness_permille over expression `t` — the same three
    damage families as _ENC_CTE (replacement char, control range,
    mojibake lead bytes), inlined as one expression for composition
    into larger CTE chains."""
    return (
        f"CAST(floor(1000 * ("
        f"(length({t}) - length(regexp_replace({t}, chr(65533), '', 'g')))"
        f" + (length({t}) - length(regexp_replace({t},"
        f" '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]', '', 'g')))"
        f" + (length({t}) - length(regexp_replace({t},"
        f" '(?:' || chr(195) || '|' || chr(194) || '|' || chr(226)"
        f" || chr(8364) || '|' || chr(239) || chr(187) || chr(191) || ')',"
        f" '', 'g')))"
        f") / greatest(length({t}), 1)) AS BIGINT)"
    )


def _dump_to_shards_sql() -> str:
    """ONE DuckDB query mirroring the full dump→shards composition
    (q_dump_to_shards) stage for stage: the archive synthesis is
    deterministic in doc_id (synth_warc_plan), so the mirror starts
    from the same LIMIT-300 slice, drops the %10 redirects, collapses
    whitespace (the extraction kernel's text normalization on tagless
    bodies), then replays encoding/gopher/c4(no-punct)/repetition
    gates, md5 exact dedup, cross-doc first-occurrence paragraph
    dedup, trigram decontam vs the %10 slice, the 16-bit mixture
    protocol keyed on host, and the md5-ordered token packing."""
    G = GOPHER_GATE_THRESHOLDS
    R = REP_FILTER_THRESHOLDS
    return f"""
WITH w0 AS (
  SELECT doc_id, text FROM (SELECT doc_id, text FROM documents
                            ORDER BY doc_id LIMIT {DUMP_GATE_DOCS})
  WHERE doc_id % 10 <> 0
), ext AS (
  SELECT doc_id, 'w' || CAST(doc_id % 7 AS VARCHAR) || '.test' AS host,
         regexp_replace(trim(text), '\\s+', ' ', 'g') AS text
  FROM w0
), encg AS (
  SELECT * FROM ext WHERE {_enc_badness_sql('text')} <= 5
), {_gopher_cte('encg')}, gog AS (
  SELECT e.* FROM encg e JOIN gq_stats s USING (doc_id)
  WHERE s.n_words BETWEEN {G['min_words']} AND {G['max_words']}
    AND s.mean_word_len >= {G['min_mean_word_len']}
    AND s.mean_word_len <= {G['max_mean_word_len']}
    AND s.symbol_word_ratio <= {G['max_symbol_word_ratio']}
    AND s.bullet_line_frac <= {G['max_bullet_line_frac']}
    AND s.ellipsis_line_frac <= {G['max_ellipsis_line_frac']}
    AND s.alpha_word_frac >= {G['min_alpha_word_frac']}
    AND s.stopword_hits >= {G['min_stopword_hits']}
), c4t AS (
  SELECT doc_id, host, text,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t2
  FROM gog
), c4l AS (
  SELECT doc_id, host, text,
    CASE WHEN contains(text, chr(10)) THEN
      list_filter(list_transform(string_split(text, chr(10)),
                  l -> regexp_replace(l, '^\\s+|\\s+$', '', 'g')), l -> l <> '')
    WHEN len(t2) > 0 THEN
      list_transform(generate_series(0, CAST(ceil(len(t2)/10.0) AS INT) - 1),
                     i -> array_to_string(t2[i*10+1 : i*10+10], ' '))
    ELSE [] END AS ls
  FROM c4t
), c4 AS (
  SELECT doc_id, host, array_to_string(kept, chr(10)) AS text FROM (
    SELECT doc_id, host, text,
           {_c4_keep_sql(require_terminal_punct=False)} AS kept
    FROM c4l
  ) WHERE NOT (contains(lower(text), 'lorem ipsum')
               OR contains(text, '{{'))
    AND len(kept) >= 3
), {_repetition_cte('c4')}, repg AS (
  SELECT c4.* FROM c4 JOIN rs_stats s USING (doc_id)
  WHERE s.dup_line_frac <= {R['max_dup_line_frac']}
    AND s.dup_line_char_frac <= {R['max_dup_line_char_frac']}
    AND s.top_ngram_char_frac <= {R['max_top_ngram_char_frac']}
    AND s.dup_ngram_char_frac <= {R['max_dup_ngram_char_frac']}
), xk AS (
  SELECT min(doc_id) AS doc_id FROM repg GROUP BY md5(text)
), dd AS (
  SELECT repg.* FROM repg JOIN xk USING (doc_id)
), pls AS (
  SELECT doc_id, host,
    list_filter(list_transform(string_split(text, chr(10)),
                l -> regexp_replace(l, '^\\s+|\\s+$', '', 'g')),
                l -> l <> '') AS ls
  FROM dd
), pex AS (
  SELECT doc_id, e.pos AS pos, e.line AS line FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
             i -> struct_pack(pos := i - 1, line := ls[i]))) AS e
    FROM pls)
), prk AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk
  FROM pex
), pagg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text
  FROM prk WHERE rk = 1 GROUP BY doc_id
), pd AS (
  SELECT d.doc_id, d.host, a.text FROM dd d JOIN pagg a USING (doc_id)
  WHERE a.n_kept > 0
), btoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
  FROM (SELECT doc_id, text FROM documents
        ORDER BY doc_id LIMIT {DUMP_GATE_DOCS})
  WHERE doc_id % 10 = 0
), bsh0 AS (
  SELECT DISTINCT doc_id AS b_doc, shingle FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM btoks WHERE len(t) >= 3)
), bkeep AS (
  SELECT shingle FROM bsh0 GROUP BY shingle HAVING count(*) <= 25
), bsh AS (
  SELECT b_doc, bsh0.shingle FROM bsh0 JOIN bkeep USING (shingle)
), ctoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
  FROM pd
), csh AS (
  SELECT DISTINCT doc_id AS c_doc, shingle FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM ctoks WHERE len(t) >= 3)
), bad AS (
  SELECT c_doc FROM (
    SELECT c_doc, count(DISTINCT shingle) AS n
    FROM csh JOIN bsh USING (shingle) GROUP BY c_doc
  ) WHERE n >= {DUMP_DECONTAM_MIN_HITS}
), dec AS (
  SELECT * FROM pd WHERE doc_id NOT IN (SELECT c_doc FROM bad)
), mx_c AS (
  SELECT host, count(*) AS n FROM dec GROUP BY host
), mx_w AS (
  SELECT host, n, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM mx_c
), mx_thr AS (
  SELECT host,
         CAST(least(65536, (65536 * {DUMP_MIXTURE_TARGET} * w)
              // ((SELECT sum(w) FROM mx_w) * n)) AS BIGINT) AS thr
  FROM mx_w
), mixed AS (
  SELECT d.* FROM dec d JOIN mx_thr t USING (host)
  WHERE t.thr >= 65536
     OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', t.thr)
), pk_slim AS (
  SELECT doc_id, CAST(doc_id % {DUMP_PACK_BUCKETS} AS INT) AS bucket,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         md5('pack:' || CAST(doc_id AS VARCHAR)) AS _pk
  FROM mixed
), pk_cum AS (
  SELECT doc_id, bucket, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY _pk, doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tokens_before
  FROM pk_slim
), pk_rows AS (
  SELECT doc_id, bucket,
         CAST(floor(CAST(tokens_before AS DOUBLE) / {DUMP_PACK_BUDGET})
              AS INT) AS shard_id,
         n_tokens, tokens_before
  FROM pk_cum
), man AS (
  SELECT bucket, shard_id, CAST(count(*) AS BIGINT) AS shard_docs,
         CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
  FROM pk_rows GROUP BY bucket, shard_id
)
SELECT r.doc_id, r.bucket, r.shard_id, r.n_tokens, r.tokens_before,
       m.shard_docs, m.shard_tokens
FROM pk_rows r JOIN man m USING (bucket, shard_id)
"""


ORACLE_SQL["dump_to_shards"] = _dump_to_shards_sql()


# --------------------------------------------------------------------
# Link-graph analytics (operators/linkgraph.py): integer-exact
# PageRank + degree stats over a deterministic doc-level link graph
# derived from the documents table (synth.links_from_documents ⟷ the
# pr_e CTE — both engines derive identical edges, then the operator
# under test runs). The integer micro-unit protocol makes 5 rounds of
# PageRank hash-exact across engines (see linkgraph.py docstring).
# --------------------------------------------------------------------

from website_indexer_spark.operators import linkgraph  # noqa: E402
from website_indexer_spark.sources.synth import links_from_documents  # noqa: E402

PAGERANK_ROUNDS = 5


def q_link_degrees(spark, sf):
    """(node, out_degree, in_degree) over the derived link graph —
    one tagged union + one partial-aggregated exchange keyed by node."""
    docs = _t(spark, sf, "documents")
    edges = links_from_documents(docs, docs.count())
    return linkgraph.degree_stats(edges)


def q_pagerank(spark, sf):
    """Fixed-round integer-exact PageRank (micro-unit protocol —
    operators/linkgraph.py): 5 rounds, damping 85/100, dangling mass
    dropped. Eager doc-count job for the derivation's modulus
    (documents is node-sized; the operator itself never collects)."""
    docs = _t(spark, sf, "documents")
    nodes = docs.select("doc_id")
    edges = links_from_documents(docs, docs.count())
    return linkgraph.pagerank_exact(
        nodes, edges, rounds=PAGERANK_ROUNDS, node_col="doc_id"
    )


def q_host_pagerank(spark, sf):
    """Domain-level ranking (the Common Crawl host-graph staple):
    contract the page edge list to the weighted host multigraph
    (linkgraph.contract_to_hosts — two key-partitioned mapping joins
    + one partial-aggregated (src_host, dst_host) fold), then run the
    integer-exact PageRank in its weighted form (contribution =
    weight * (pr div out_weight), still pure bigints)."""
    docs = _t(spark, sf, "documents")
    nodes = docs.select("doc_id")
    edges = links_from_documents(docs, docs.count())
    hosts = docs.select(
        "doc_id",
        F.lower(
            F.concat(
                F.col("source"),
                F.lit("-"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.com"),
            )
        ).alias("host"),
    )
    hedges = linkgraph.contract_to_hosts(
        edges, hosts, node_col="doc_id"
    )
    hnodes = hosts.select("host").distinct()
    return linkgraph.pagerank_exact(
        hnodes,
        hedges,
        rounds=PAGERANK_ROUNDS,
        node_col="host",
        weight_col="weight",
    )


HITS_ROUNDS = 3


def q_hits(spark, sf):
    """Integer-exact HITS hubs/authorities (linkgraph.hits_exact):
    3 mutual-reinforcement rounds with the div-first max-rescale
    normalization — every intermediate a bigint, so the fixed point
    hashes identically on any engine."""
    docs = _t(spark, sf, "documents")
    nodes = docs.select("doc_id")
    edges = links_from_documents(docs, docs.count())
    return linkgraph.hits_exact(
        nodes, edges, rounds=HITS_ROUNDS, node_col="doc_id"
    )


def q_host_components(spark, sf):
    """Connected components over the contracted host graph — the
    second standard domain-graph analysis next to host_pagerank
    (mirror networks, site families, link farms all surface as
    components). Hosts get stable numeric ids (min member doc_id —
    deterministic and engine-mirrorable), the undirected star-
    contraction CC runs on the host-id edge list, and singleton
    hosts map to themselves."""
    docs = _t(spark, sf, "documents")
    edges = links_from_documents(docs, docs.count())
    hosts = docs.select(
        "doc_id",
        F.lower(
            F.concat(
                F.col("source"),
                F.lit("-"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.com"),
            )
        ).alias("host"),
    )
    hid = hosts.groupBy("host").agg(F.min("doc_id").alias("hid"))
    hedges = linkgraph.contract_to_hosts(
        edges, hosts, node_col="doc_id"
    )
    pair_ids = (
        hedges.join(
            hid.select(F.col("host").alias("src"), F.col("hid").alias("doc_a")),
            "src",
        )
        .join(
            hid.select(F.col("host").alias("dst"), F.col("hid").alias("doc_b")),
            "dst",
        )
        .select("doc_a", "doc_b")
    )
    comp = clusters.assign_clusters(
        hid.select(F.col("hid").alias("doc_id")), pair_ids
    )
    return hid.join(
        comp.withColumnRenamed("doc_id", "hid"), "hid"
    ).select("host", F.col("cluster_id").alias("component"))


SPARK_QUERIES["link_degrees"] = q_link_degrees
SPARK_QUERIES["pagerank"] = q_pagerank
SPARK_QUERIES["host_pagerank"] = q_host_pagerank
SPARK_QUERIES["hits"] = q_hits
SPARK_QUERIES["host_components"] = q_host_components


def q_anf_sketch(spark, sf):
    """ANF neighborhood sketches (operators/anf.py): FM bitmap flood
    along out-edges, 3 rounds — the gate emits the integer
    sufficient statistic s per (node, round)."""
    from website_indexer_spark.operators import anf

    docs = _t(spark, sf, "documents")
    nodes = docs.select("doc_id")
    edges = links_from_documents(docs, docs.count())
    return anf.anf_neighborhood_stats(
        nodes, edges, rounds=3, node_col="doc_id"
    )


def q_harmonic_centrality(spark, sf):
    """HyperBall harmonic-centrality estimate from the ANF flood —
    rows-only (the 2^(s/R) estimator is libm float); the integer
    sketch itself is the hash-gated artifact (anf_sketch)."""
    from website_indexer_spark.operators import anf

    docs = _t(spark, sf, "documents")
    nodes = docs.select("doc_id")
    edges = links_from_documents(docs, docs.count())
    return anf.harmonic_centrality(
        nodes, edges, rounds=3, node_col="doc_id"
    )


def q_harmonic_rank(spark, sf):
    """Exact-integer harmonic-centrality RANK (anf.harmonic_rank —
    r4 verdict item 6): the float estimator's order, re-derived as
    pure 128-bit integer arithmetic over the gated sketch statistic
    (weights clear the telescoping denominators, a pinned fixed-point
    table carries the fractional power), then ranked by the scalable
    range-partitioned enumeration. Hash-gated where the float
    estimate itself stays rows-only."""
    from website_indexer_spark.operators import anf

    docs = _t(spark, sf, "documents")
    nodes = docs.select("doc_id")
    edges = links_from_documents(docs, docs.count())
    return anf.harmonic_rank(
        nodes, edges, rounds=3, node_col="doc_id"
    )


SPARK_QUERIES["anf_sketch"] = q_anf_sketch
SPARK_QUERIES["harmonic_centrality"] = q_harmonic_centrality
SPARK_QUERIES["harmonic_rank"] = q_harmonic_rank

_LINKGRAPH_CTE = """pr_n AS (SELECT count(*) AS n FROM documents),
pr_e AS (
  SELECT src, dst FROM (
    SELECT doc_id AS src,
           (doc_id * 2654435761 + j * 40503) % (SELECT n FROM pr_n) AS dst
    FROM (SELECT doc_id,
                 unnest(generate_series(1, CAST(1 + doc_id % 3 AS INT))) AS j
          FROM documents)
  ) WHERE dst <> src
)"""


def _pagerank_sql(rounds: int = PAGERANK_ROUNDS) -> str:
    sql = (
        "WITH "
        + _LINKGRAPH_CTE
        + """,
pr_deg AS (SELECT src, count(*) AS deg FROM pr_e GROUP BY src),
pr_r0 AS (SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS pr
          FROM documents)"""
    )
    for k in range(rounds):
        sql += f""",
pr_c{k} AS (
  SELECT e.dst, sum(r.pr // g.deg) AS m
  FROM pr_e e JOIN pr_deg g USING (src) JOIN pr_r{k} r ON r.node = e.src
  GROUP BY e.dst
),
pr_r{k + 1} AS (
  SELECT n0.node,
         CAST(150000 + (85 * coalesce(c.m, 0)) // 100 AS BIGINT) AS pr
  FROM pr_r0 n0 LEFT JOIN pr_c{k} c ON c.dst = n0.node
)"""
    return sql + (
        f"\nSELECT node AS doc_id, pr AS pr_micro FROM pr_r{rounds}"
    )


ORACLE_SQL["pagerank"] = _pagerank_sql()


def _host_pagerank_sql(rounds: int = PAGERANK_ROUNDS) -> str:
    """Weighted integer-exact PageRank over the host contraction:
    mirrors contract_to_hosts + the weighted protocol stage for
    stage (contribution = w * (pr // out_weight), all bigints)."""
    sql = (
        "WITH "
        + _LINKGRAPH_CTE
        + """,
hp_h AS (
  SELECT doc_id,
         lower(source || '-' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com') AS host
  FROM documents
),
hp_e AS (
  SELECT hs.host AS src, hd.host AS dst, CAST(count(*) AS BIGINT) AS w
  FROM pr_e e
  JOIN hp_h hs ON hs.doc_id = e.src
  JOIN hp_h hd ON hd.doc_id = e.dst
  WHERE hs.host <> hd.host
  GROUP BY hs.host, hd.host
),
hp_deg AS (SELECT src, sum(w) AS deg FROM hp_e GROUP BY src),
hp_r0 AS (SELECT DISTINCT host AS node,
                 CAST(1000000 AS BIGINT) AS pr
          FROM hp_h)"""
    )
    for k in range(rounds):
        sql += f""",
hp_c{k} AS (
  SELECT e.dst, sum(e.w * (r.pr // g.deg)) AS m
  FROM hp_e e JOIN hp_deg g USING (src) JOIN hp_r{k} r ON r.node = e.src
  GROUP BY e.dst
),
hp_r{k + 1} AS (
  SELECT n0.node,
         CAST(150000 + (85 * coalesce(c.m, 0)) // 100 AS BIGINT) AS pr
  FROM hp_r0 n0 LEFT JOIN hp_c{k} c ON c.dst = n0.node
)"""
    return sql + (
        f"\nSELECT node AS host, pr AS pr_micro FROM hp_r{rounds}"
    )


ORACLE_SQL["host_pagerank"] = _host_pagerank_sql()


def _hits_sql(rounds: int = HITS_ROUNDS) -> str:
    """Mirrors hits_exact stage for stage: raw sums, LEFT-join-0 for
    unreferenced nodes, div-first max rescale — all bigints."""
    sql = (
        "WITH "
        + _LINKGRAPH_CTE
        + """,
ht_n AS (SELECT doc_id AS node FROM documents),
ht_h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS v FROM ht_n)"""
    )
    for k in range(rounds):
        sql += f""",
ht_ar{k} AS (
  SELECT e.dst AS node, CAST(sum(h.v) AS BIGINT) AS raw
  FROM pr_e e JOIN ht_h{k} h ON h.node = e.src GROUP BY e.dst
),
ht_af{k} AS (
  SELECT n.node, coalesce(r.raw, 0) AS raw
  FROM ht_n n LEFT JOIN ht_ar{k} r USING (node)
),
ht_am{k} AS (SELECT coalesce(max(raw), 0) AS mx FROM ht_af{k}),
ht_a{k + 1} AS (
  SELECT node,
         CAST(raw // greatest(mx // 1000000, 1) AS BIGINT) AS v
  FROM ht_af{k} CROSS JOIN ht_am{k}
),
ht_hr{k} AS (
  SELECT e.src AS node, CAST(sum(a.v) AS BIGINT) AS raw
  FROM pr_e e JOIN ht_a{k + 1} a ON a.node = e.dst GROUP BY e.src
),
ht_hf{k} AS (
  SELECT n.node, coalesce(r.raw, 0) AS raw
  FROM ht_n n LEFT JOIN ht_hr{k} r USING (node)
),
ht_hm{k} AS (SELECT coalesce(max(raw), 0) AS mx FROM ht_hf{k}),
ht_h{k + 1} AS (
  SELECT node,
         CAST(raw // greatest(mx // 1000000, 1) AS BIGINT) AS v
  FROM ht_hf{k} CROSS JOIN ht_hm{k}
)"""
    return sql + f"""
SELECT h.node AS doc_id, h.v AS hub_micro, a.v AS auth_micro
FROM ht_h{rounds} h JOIN ht_a{rounds} a USING (node)
"""


ORACLE_SQL["hits"] = _hits_sql()

# host_components: undirected min-label closure via a recursive CTE
# over host-id edges (host id = min member doc_id — deterministic in
# both engines); singleton hosts are their own component.
ORACLE_SQL["host_components"] = (
    "WITH RECURSIVE "
    + _LINKGRAPH_CTE
    + r""",
hc_h AS (
  SELECT doc_id,
         lower(source || '-' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com') AS host
  FROM documents
),
hc_id AS (
  SELECT host, CAST(min(doc_id) AS BIGINT) AS hid
  FROM hc_h GROUP BY host
),
hc_e AS (
  SELECT DISTINCT least(s.hid, d.hid) AS u, greatest(s.hid, d.hid) AS v
  FROM pr_e e
  JOIN hc_h hs ON hs.doc_id = e.src
  JOIN hc_h hd ON hd.doc_id = e.dst
  JOIN hc_id s ON s.host = hs.host
  JOIN hc_id d ON d.host = hd.host
  WHERE s.hid <> d.hid
),
hc_reach(node, label) AS (
  SELECT hid, hid FROM hc_id
  UNION
  SELECT CASE WHEN r.node = e.u THEN e.v ELSE e.u END, r.label
  FROM hc_reach r JOIN hc_e e ON r.node IN (e.u, e.v)
)
SELECT i.host, CAST(min(r.label) AS BIGINT) AS component
FROM hc_id i JOIN hc_reach r ON r.node = i.hid
GROUP BY i.host
"""
)

ANF_GATE_ROUNDS = 3


def _anf_ctes(rounds: int = ANF_GATE_ROUNDS, registers: int = 16) -> str:
    """Mirrors anf_neighborhood_stats bit for bit: md5-32 seeds,
    trailing-zero rho, bit_or flood, lowest-unset-bit statistic —
    every operation exact bigint/bit arithmetic in both engines.
    Returns the WITH chain up through an_st{rounds}."""
    digit = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    h32 = " + ".join(
        f"{digit.format(i=i)} * {16 ** (8 - i)}" for i in range(1, 9)
    )
    sql = (
        "WITH "
        + _LINKGRAPH_CTE
        + f""",
an_h AS (
  SELECT doc_id AS node, r.reg,
         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(r.reg AS VARCHAR)) AS h
  FROM documents
  CROSS JOIN (SELECT unnest(generate_series(0, {registers - 1})) AS reg) r
), an_rho AS (
  SELECT node, reg, CAST({h32} AS BIGINT) AS hv FROM an_h
), an_st0 AS (
  SELECT node, reg,
         (CAST(1 AS BIGINT) << CAST(least(
            CASE WHEN hv = 0 THEN 32
                 ELSE bit_count((hv & -hv) - 1) END, 62) AS INT)) AS bits
  FROM an_rho
)"""
    )
    for t in range(1, rounds + 1):
        sql += f""",
an_st{t} AS (
  SELECT node, reg, bit_or(bits) AS bits FROM (
    SELECT node, reg, bits FROM an_st{t - 1}
    UNION ALL
    SELECT e.src AS node, s.reg, s.bits
    FROM pr_e e JOIN an_st{t - 1} s ON s.node = e.dst
  ) GROUP BY node, reg
)"""
    return sql


def _anf_sql(rounds: int = ANF_GATE_ROUNDS, registers: int = 16) -> str:
    levels = "\nUNION ALL\n".join(
        f"""SELECT node AS doc_id, CAST({t} AS INT) AS round,
       CAST(sum(bit_count(((~bits) & (bits + 1)) - 1)) AS BIGINT) AS s
FROM an_st{t} GROUP BY node"""
        for t in range(1, rounds + 1)
    )
    return _anf_ctes(rounds, registers) + "\n" + levels


def _harmonic_rank_sql(
    rounds: int = ANF_GATE_ROUNDS, registers: int = 16
) -> str:
    """Exact-integer harmonic rank over the ANF flood — the key
    expression comes from the SAME generator as the Spark query
    (anf.harmonic_key_expr), evaluated in HUGEINT; the rank itself is
    row_number over (key DESC, node), mirroring harmonic_rank's
    (-key, node) range-partitioned enumeration."""
    from website_indexer_spark.operators.anf import harmonic_key_expr

    sql = _anf_ctes(rounds, registers)
    for t in range(1, rounds + 1):
        sql += f""",
hr{t} AS (
  SELECT node,
         CAST(sum(bit_count(((~bits) & (bits + 1)) - 1)) AS BIGINT) AS s{t}
  FROM an_st{t} GROUP BY node
)"""
    joins = " ".join(f"JOIN hr{t} USING (node)" for t in range(2, rounds + 1))
    key = harmonic_key_expr(rounds, registers, dialect="duckdb")
    return (
        sql
        + f""",
hr_key AS (
  SELECT node, {key} AS k
  FROM hr1 {joins}
)
SELECT node AS doc_id,
       CAST(row_number() OVER (ORDER BY k DESC, node ASC) AS BIGINT)
         AS harmonic_rank
FROM hr_key
"""
    )


ORACLE_SQL["anf_sketch"] = _anf_sql()
ORACLE_SQL["harmonic_rank"] = _harmonic_rank_sql()

ORACLE_SQL["link_degrees"] = (
    "WITH "
    + _LINKGRAPH_CTE
    + """
SELECT node, CAST(sum(o) AS BIGINT) AS out_degree,
       CAST(sum(i) AS BIGINT) AS in_degree
FROM (SELECT src AS node, 1 AS o, 0 AS i FROM pr_e
      UNION ALL
      SELECT dst AS node, 0 AS o, 1 AS i FROM pr_e)
GROUP BY node
"""
)


# --------------------------------------------------------------------
# WET round trip (sources/wet.py): publish the derived pages table as
# WET conversion shards (range-partitioned task-side writes), read it
# back with the shared WARC record grammar, and hash-match the
# decoded (url, epoch, text md5) against DuckDB's reconstruction from
# the same source rows — the md5 equality proves the record framing
# and utf-8 round trip are byte-exact.
# --------------------------------------------------------------------


def q_wet_roundtrip(spark, sf):
    """Common Crawl WET format round trip: pages → write_wet (one
    task per shard, warcinfo-led multi-member gzip) → read_wet (one
    task per file) → decoded rows."""
    import hashlib
    import os as _os
    import tempfile

    from website_indexer_spark.sources.synth import pages_from_documents
    from website_indexer_spark.sources.wet import read_wet, write_wet

    pages = pages_from_documents(_t(spark, sf, "documents")).filter(
        F.col("status_code") == 200
    )
    tag = hashlib.md5(_os.path.abspath(sf).encode()).hexdigest()[:10]
    out_dir = _os.path.join(tempfile.gettempdir(), f"wi_spark_wet_gate_{tag}")
    write_wet(pages, out_dir, shards=4)
    back = read_wet(spark, out_dir + "/part-*")
    return back.select(
        "url",
        F.col("wet_ts").cast("long").alias("wet_epoch"),
        F.md5(F.col("text")).alias("text_md5"),
    )


SPARK_QUERIES["wet_roundtrip"] = q_wet_roundtrip

ORACLE_SQL["wet_roundtrip"] = (
    "WITH " + _URLS_CTE + """
SELECT u.url,
       CAST(1735689600 + u.doc_id * 37 AS BIGINT) AS wet_epoch,
       md5(d.text) AS text_md5
FROM u JOIN documents d USING (doc_id)
WHERE u.doc_id % 19 <> 0
"""
)


# --------------------------------------------------------------------
# Sitemap source (sources/sitemap.py): deterministic sitemaps built
# from the documents table (synth.sitemaps_from_documents — per-source
# <urlset> docs + one <sitemapindex>, URLs entity-escaped), parsed
# back by the native-regexp entry parser. The oracle reconstructs the
# expected entry rows straight from the source rows, so the gate
# proves the whole build → escape → parse → unescape round trip.
# --------------------------------------------------------------------


def q_sitemap_entries(spark, sf):
    """sitemaps.org entry parser over derived sitemap XML: one row
    per <url>/<sitemap> entry with decoded loc + optional fields.
    Parse is a narrow regexp projection + explode (no Python)."""
    from website_indexer_spark.sources.sitemap import sitemap_entries
    from website_indexer_spark.sources.synth import sitemaps_from_documents

    sm = sitemaps_from_documents(_t(spark, sf, "documents"))
    return sitemap_entries(sm)


def q_sitemap_seeds(spark, sf):
    """Frontier seed extraction: distinct page URLs + child sitemap
    URLs from the same corpus."""
    from website_indexer_spark.sources.sitemap import seeds_from_sitemaps
    from website_indexer_spark.sources.synth import sitemaps_from_documents

    sm = sitemaps_from_documents(_t(spark, sf, "documents"))
    return seeds_from_sitemaps(sm)


SPARK_QUERIES["sitemap_entries"] = q_sitemap_entries
SPARK_QUERIES["sitemap_seeds"] = q_sitemap_seeds

_SITEMAP_ENTRIES_SQL = (
    "WITH " + _URLS_CTE + """
SELECT 'https://' || u.source || '.example.com/sitemap.xml' AS sitemap_url,
       'url' AS kind,
       u.url AS loc,
       CASE WHEN u.doc_id % 2 = 0 THEN
         strftime(make_timestamp((1735689600 + u.doc_id * 37) * 1000000),
                  '%Y-%m-%d') END AS lastmod,
       CASE WHEN u.doc_id % 5 = 0 THEN
         (['daily', 'weekly', 'monthly'])[CAST(u.doc_id % 3 AS INT) + 1]
       END AS changefreq,
       CASE WHEN u.doc_id % 3 = 0 THEN
         '0.' || CAST(u.doc_id % 10 AS VARCHAR) END AS priority
FROM u
UNION ALL
SELECT 'https://index.example.com/sitemap_index.xml' AS sitemap_url,
       'sitemap' AS kind,
       'https://' || source || '.example.com/sitemap.xml' AS loc,
       NULL AS lastmod, NULL AS changefreq, NULL AS priority
FROM (SELECT DISTINCT source FROM documents)
"""
)

ORACLE_SQL["sitemap_entries"] = _SITEMAP_ENTRIES_SQL

ORACLE_SQL["sitemap_seeds"] = (
    "WITH sm_e AS (" + _SITEMAP_ENTRIES_SQL + """)
SELECT DISTINCT kind, loc AS url FROM sm_e WHERE loc IS NOT NULL
"""
)


# --------------------------------------------------------------------
# Anchor-text aggregation (operators/anchortext.py) over the derived
# link graph: each edge (src, dst) carries a deterministic anchor —
# a 2-token slice of the TARGET doc's text selected by src % 3 — so
# different sources repeat the same anchors and the top-k has real
# frequency structure. Both engines derive identical edges+anchors,
# then the operator under test aggregates.
# --------------------------------------------------------------------


def q_anchor_text(spark, sf):
    """Per-target top-3 anchor strings by in-link frequency (count
    desc, anchor asc): partial-agg pair counts + WindowGroupLimit
    top-k."""
    from website_indexer_spark.functions.textstats import tokens as _toks
    from website_indexer_spark.operators.anchortext import anchor_text_agg

    docs = _t(spark, sf, "documents")
    edges = links_from_documents(docs, docs.count())
    toked = docs.select(
        F.col("doc_id").alias("dst"), _toks(F.col("text")).alias("_t")
    )
    linked = edges.join(toked, "dst").select(
        "dst",
        F.array_join(
            F.slice(F.col("_t"), (F.col("src") % 3).cast("int") + 1, 2), " "
        ).alias("anchor"),
    )
    return anchor_text_agg(linked, target_col="dst", anchor_col="anchor")


SPARK_QUERIES["anchor_text"] = q_anchor_text

ORACLE_SQL["anchor_text"] = (
    "WITH " + _LINKGRAPH_CTE + r""",
at_t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
), at_a AS (
  SELECT e.dst AS url,
         regexp_replace(trim(array_to_string(
           b.t[CAST(e.src % 3 AS INT) + 1 : CAST(e.src % 3 AS INT) + 2], ' ')),
           '\s+', ' ', 'g') AS anchor
  FROM pr_e e JOIN at_t b ON b.doc_id = e.dst
), at_c AS (
  SELECT url, anchor, count(*) AS n_links
  FROM at_a WHERE anchor <> '' GROUP BY url, anchor
), at_r AS (
  SELECT url, anchor, n_links,
         row_number() OVER (PARTITION BY url
                            ORDER BY n_links DESC, anchor ASC) AS rank
  FROM at_c
)
SELECT url, anchor, n_links, CAST(rank AS BIGINT) AS rank
FROM at_r WHERE rank <= 3
"""
)


# --------------------------------------------------------------------
# Dedup text normalization + compression-ratio signal
# (functions/textnorm.py). The normalized-key gate groups the corpus
# by md5(normalize(text)) — the FineWeb/Dolma dedup key — and the
# compression gate is rows-only (zlib output is build-dependent;
# semantics pinned by tests/test_textnorm.py against zlib directly).
# --------------------------------------------------------------------


def q_dedup_normalized(spark, sf):
    """Exact dedup on the normalized key: per dedup_key the surviving
    (min) doc_id and the group size. Same partial-agg one-exchange
    shape as dedup_exact, with the key projection fused into the
    scan."""
    from website_indexer_spark.functions.textnorm import with_dedup_key

    keyed = with_dedup_key(_t(spark, sf, "documents"))
    return keyed.groupBy("dedup_key").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count("*").alias("n_docs"),
    )


def q_compression_ratio(spark, sf):
    """Per-doc deflate/utf-8 byte ratio (Arrow-batched pandas UDF —
    the documented slow path; no native deflate exists). Rows-only."""
    from website_indexer_spark.functions.textnorm import (
        with_compression_ratio,
    )

    return with_compression_ratio(
        _t(spark, sf, "documents").select("doc_id", "text")
    ).select("doc_id", "compression_ratio")


SPARK_QUERIES["dedup_normalized"] = q_dedup_normalized
SPARK_QUERIES["compression_ratio"] = q_compression_ratio

ORACLE_SQL["dedup_normalized"] = r"""
WITH tn AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(regexp_replace(
           lower(text), '[^\w\s]|_', ' ', 'g'),
           '[0-9]+', '0', 'g'),
           '\s+', ' ', 'g'))) AS dedup_key
  FROM documents
)
SELECT dedup_key, min(doc_id) AS keeper_id, count(*) AS n_docs
FROM tn GROUP BY dedup_key
"""


# --------------------------------------------------------------------
# Robots Crawl-delay -> per-host politeness budgets
# (operators/policy.py::parse_crawl_delay / crawl_delay_budgets over
# synth.robots_from_documents bodies). The Spark side parses real
# robots.txt text (comments, mixed-case keys, Sitemap lines inside a
# group, multi-group max-wins, unparseable and zero values); the
# oracle recomputes only the expected (host, delay) arithmetic —
# greatest(floor(superstep/delay), 1) — from the same h-case map, so
# a parser regression on ANY of the seven grammar cases flips the
# hash.
# --------------------------------------------------------------------


def q_crawl_delay_budgets(spark, sf):
    """robots.txt Crawl-delay parsing -> (host, budget) politeness
    override table at superstep_seconds=30 (A11/A12; the broadcast
    override input of frontier.politeness_select)."""
    from website_indexer_spark.operators.policy import crawl_delay_budgets
    from website_indexer_spark.sources.synth import robots_from_documents

    bodies = robots_from_documents(_t(spark, sf, "documents"))
    return crawl_delay_budgets(bodies, superstep_seconds=30)


SPARK_QUERIES["crawl_delay_budgets"] = q_crawl_delay_budgets

ORACLE_SQL["crawl_delay_budgets"] = r"""
WITH hosts AS (
  SELECT DISTINCT
    source || '-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
    CAST(doc_id % 7 AS INT) AS hmod
  FROM documents
), d AS (
  SELECT host,
    CASE hmod WHEN 1 THEN 0.5 WHEN 2 THEN 2.0
              WHEN 3 THEN 10.0 WHEN 6 THEN 9999.0 END AS delay
  FROM hosts WHERE hmod IN (1, 2, 3, 6)
)
SELECT host,
       CAST(greatest(floor(30.0 / delay), 1) AS BIGINT) AS budget
FROM d
"""


# --------------------------------------------------------------------
# WAT round trip (sources/wat.py): per-capture metadata envelopes
# (title + out-links, the link-graph interchange form) published as
# WAT metadata shards and read back with the shared WARC grammar.
# The oracle reconstructs title / link multiset / link order from the
# same deterministic derivations (urls + linkgraph CTEs), so the gate
# pins JSON envelope framing, utf-8 round trip, and link ordering.
# --------------------------------------------------------------------


def q_wat_roundtrip(spark, sf):
    """Common Crawl WAT format round trip: pages + out-link urls →
    write_wat (one task per shard, warcinfo-led multi-member gzip) →
    read_wat (one task per file) → decoded metadata rows."""
    import hashlib
    import os as _os
    import tempfile

    from website_indexer_spark.sources.synth import (
        links_from_documents,
        pages_from_documents,
        urls_from_documents,
    )
    from website_indexer_spark.sources.wat import read_wat, write_wat

    docs = _t(spark, sf, "documents")
    pages = pages_from_documents(docs).filter(F.col("status_code") == 200)
    dst_urls = urls_from_documents(docs).select(
        F.col("doc_id").alias("dst"), F.col("url").alias("dst_url")
    )
    edges = links_from_documents(docs, docs.count())
    out_links = (
        edges.join(dst_urls, "dst")
        .groupBy("src")
        .agg(F.array_sort(F.collect_list("dst_url")).alias("links"))
    )
    wat_in = (
        pages.join(out_links, pages["doc_id"] == out_links["src"], "left")
        .select(
            "url",
            "warc_ts",
            F.concat(
                F.lit("Document "), F.col("doc_id").cast("string")
            ).alias("title"),
            F.coalesce(
                F.col("links"), F.array().cast("array<string>")
            ).alias("links"),
        )
    )
    tag = hashlib.md5(_os.path.abspath(sf).encode()).hexdigest()[:10]
    out_dir = _os.path.join(tempfile.gettempdir(), f"wi_spark_wat_gate_{tag}")
    write_wat(wat_in, out_dir, shards=4)
    back = read_wat(spark, out_dir + "/part-*")
    return back.select(
        "url",
        F.col("wat_ts").cast("long").alias("wat_epoch"),
        "title",
        F.size("links").cast("long").alias("n_links"),
        F.array_join("links", "|").alias("links_joined"),
    )


SPARK_QUERIES["wat_roundtrip"] = q_wat_roundtrip

ORACLE_SQL["wat_roundtrip"] = (
    "WITH " + _URLS_CTE + ", " + _LINKGRAPH_CTE + r""", wat_lnk AS (
  SELECT e.src, u.url AS dst_url
  FROM pr_e e JOIN u ON u.doc_id = e.dst
), wat_agg AS (
  SELECT src, count(*) AS n_links,
         string_agg(dst_url, '|' ORDER BY dst_url) AS links_joined
  FROM wat_lnk GROUP BY src
)
SELECT u.url,
       CAST(1735689600 + u.doc_id * 37 AS BIGINT) AS wat_epoch,
       'Document ' || CAST(u.doc_id AS VARCHAR) AS title,
       CAST(coalesce(a.n_links, 0) AS BIGINT) AS n_links,
       coalesce(a.links_joined, '') AS links_joined
FROM u LEFT JOIN wat_agg a ON a.src = u.doc_id
WHERE u.doc_id % 19 <> 0
"""
)


# --------------------------------------------------------------------
# CDX digest-collapse + latest-capture (sources/cdx.py) and robots
# Sitemap discovery (operators/policy.py::robots_sitemaps). The CDX
# gates run over a deterministic 4-snapshot capture history so the
# collapse actually has runs to collapse: even doc_ids change content
# at snapshot 2 only (runs [0,1][2,3] -> keep snaps 0 and 2), odd
# doc_ids change every snapshot (all four kept).
# --------------------------------------------------------------------

from website_indexer_spark.sources.synth import DOC_PAGES_EPOCH  # noqa: E402


def _multi_captures(spark, sf):
    """web_pages-shaped 4-snapshot capture history per derived URL
    (synth.captures_from_documents — shared with the scaling tool)."""
    from website_indexer_spark.sources.synth import (
        captures_from_documents,
    )

    return captures_from_documents(_t(spark, sf, "documents"))


def q_cdx_collapse(spark, sf):
    """pywb collapse=digest over the snapshot history: one exchange
    keyed by surt, lag() in-partition, runs of unchanged digests
    collapse to their first capture."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _cdx.cdx_collapse(_cdx.cdx_index(_multi_captures(spark, sf)))


def q_cdx_latest(spark, sf):
    """Latest capture per surt (wayback most-recent-snapshot):
    row_number over (surt, ts14 desc) folded into WindowGroupLimit —
    map-side partial top-1 before the exchange."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _cdx.cdx_latest(_cdx.cdx_index(_multi_captures(spark, sf)))


def q_robots_sitemaps(spark, sf):
    """Sitemap: directive discovery from robots bodies — one native
    multiline regexp, no group-state machine (RFC 9309 §2.3: Sitemap
    is a non-group directive)."""
    from website_indexer_spark.operators.policy import robots_sitemaps
    from website_indexer_spark.sources.synth import robots_from_documents

    bodies = robots_from_documents(_t(spark, sf, "documents"))
    return robots_sitemaps(bodies)


SPARK_QUERIES["cdx_collapse"] = q_cdx_collapse
SPARK_QUERIES["cdx_latest"] = q_cdx_latest
SPARK_QUERIES["robots_sitemaps"] = q_robots_sitemaps

# Shared capture-history -> cdx-rows CTE chain (mirrors the
# ORACLE_SQL["cdx_index"] surt arithmetic over the snapshot capture
# table instead of the single-capture pages derivation).
_CAPS_CDX_CTE = r"""caps AS (
  SELECT u.doc_id, u.url,
         1735689600 + u.doc_id * 37 + s.snap * 1000000 AS epoch,
         d.text || '#' || CAST(CASE WHEN u.doc_id % 2 = 0
                THEN s.snap // 2 ELSE s.snap END AS VARCHAR) AS content
  FROM u JOIN documents d USING (doc_id)
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS snap) s
), cs AS (
  SELECT doc_id, url, epoch, content,
    lower(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#@]*@)?([^/?#]*)', 2)) AS auth,
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)) AS lpath,
    regexp_extract(url, '\?([^#]*)', 1) AS q
  FROM caps
), cs2 AS (
  SELECT doc_id, url, epoch, content, scheme, lpath, q,
    CASE WHEN starts_with(regexp_extract(auth, '^([^:]*)', 1), 'www.')
         THEN substr(regexp_extract(auth, '^([^:]*)', 1), 5)
         ELSE regexp_extract(auth, '^([^:]*)', 1) END AS host,
    regexp_extract(auth, ':(\d+)$', 1) AS port
  FROM cs
), cidx AS (
  SELECT
    array_to_string(list_reverse(string_split(host, '.')), ',')
    || (CASE WHEN port = '' OR port = (CASE WHEN scheme = 'http' THEN '80'
              WHEN scheme = 'https' THEN '443' ELSE '' END)
        THEN '' ELSE ':' || port END)
    || ')'
    || (CASE WHEN lpath = '' THEN '/' ELSE lpath END)
    || (CASE WHEN q = '' THEN ''
        ELSE '?' || array_to_string(list_sort(string_split(q, '&')), '&') END)
      AS surt,
    strftime(make_timestamp(epoch * 1000000), '%Y%m%d%H%M%S') AS ts14,
    url, 'text/html' AS mime, 200 AS status_code,
    md5(content) AS digest,
    CAST(octet_length(encode(content)) AS BIGINT) AS length
  FROM cs2
)"""

ORACLE_SQL["cdx_collapse"] = (
    "WITH " + _URLS_CTE + ", " + _CAPS_CDX_CTE + r""", lagd AS (
  SELECT *, lag(digest) OVER (PARTITION BY surt ORDER BY ts14) AS prev
  FROM cidx
)
SELECT surt, ts14, url, mime, status_code, digest, length
FROM lagd WHERE prev IS NULL OR prev <> digest
"""
)

ORACLE_SQL["cdx_latest"] = (
    "WITH " + _URLS_CTE + ", " + _CAPS_CDX_CTE + r""", rn AS (
  SELECT *, row_number() OVER (PARTITION BY surt ORDER BY ts14 DESC) AS r
  FROM cidx
)
SELECT surt, ts14, url, mime, status_code, digest, length
FROM rn WHERE r = 1
"""
)

def q_cdx_merge(spark, sf):
    """Published-index merge (sources/cdx.py::cdx_merge): snaps 0-2
    play the published index, snaps 2-3 the new increment — the
    overlapping snap-2 captures are exact duplicates and must fold
    once, so the merged index equals the full 4-snapshot index."""
    import time as _time

    from website_indexer_spark.sources.synth import DOC_PAGES_EPOCH

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    idx = _cdx.cdx_index(_multi_captures(spark, sf))
    b_pub = _time.strftime(
        "%Y%m%d%H%M%S", _time.gmtime(DOC_PAGES_EPOCH + 2_500_000)
    )
    b_inc = _time.strftime(
        "%Y%m%d%H%M%S", _time.gmtime(DOC_PAGES_EPOCH + 1_500_000)
    )
    published = idx.filter(F.col("ts14") < b_pub)
    increment = idx.filter(F.col("ts14") >= b_inc)
    from website_indexer_spark.sources.cdx import cdx_merge

    return cdx_merge(published, increment)


SPARK_QUERIES["cdx_merge"] = q_cdx_merge


def q_recrawl_schedule(spark, sf):
    """Cho & Garcia-Molina change-rate estimation + integer recrawl
    priority over the 4-snapshot capture history: one exchange keyed
    by surt (lag window + aggregate share the partitioning); even
    doc_ids changed once (lambda_milli=336), odd every interval
    (1945), staleness varies per URL via the epoch arithmetic."""
    from website_indexer_spark.sources.cdx import cdx_change_rate

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return cdx_change_rate(
        _cdx.cdx_index(_multi_captures(spark, sf)),
        now_epoch=DOC_PAGES_EPOCH + 10_000_000,
    )


def q_recrawl_topk(spark, sf):
    """Top-50 refetch candidates by (priority desc, surt asc) —
    TakeOrderedAndProject, no global sort."""
    from website_indexer_spark.sources.cdx import recrawl_topk

    return recrawl_topk(q_recrawl_schedule(spark, sf), 50)


SPARK_QUERIES["recrawl_schedule"] = q_recrawl_schedule
SPARK_QUERIES["recrawl_topk"] = q_recrawl_topk

# Mirrors cdx_change_rate stage for stage over the shared capture CTE.
# The ln argument is an IEEE-exact ratio of small integers (the
# lm_logloss float protocol) and the priority is pure bigint
# arithmetic, so both columns hash-match across engines.
_RECRAWL_CORE = r""", rlag AS (
  SELECT surt, ts14, url, digest,
         CAST(epoch(strptime(ts14, '%Y%m%d%H%M%S')) AS BIGINT) AS ep,
         lag(digest) OVER (PARTITION BY surt ORDER BY ts14) AS prev
  FROM cidx
), ragg AS (
  SELECT surt,
         CAST(count(*) AS BIGINT) AS n_captures,
         CAST(coalesce(sum(CASE WHEN prev IS NOT NULL AND prev <> digest
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_changes,
         min(ep) AS first_epoch, max(ep) AS last_epoch,
         arg_max(url, ts14) AS url
  FROM rlag GROUP BY surt
), rlam AS (
  SELECT surt, url, n_captures, n_changes, first_epoch, last_epoch,
    CAST(floor(-1000.0 * ln(
      (CAST(n_captures - 1 AS DOUBLE) - n_changes + 0.5)
      / (CAST(n_captures - 1 AS DOUBLE) + 0.5))) AS BIGINT) AS lambda_milli
  FROM ragg
), rsched AS (
  SELECT surt, url, n_captures, n_changes, first_epoch, last_epoch,
         lambda_milli,
    CAST(CASE WHEN last_epoch > first_epoch
         THEN lambda_milli * ({NOW} - last_epoch) * (n_captures - 1)
              // (last_epoch - first_epoch)
         ELSE 0 END AS BIGINT) AS priority
  FROM rlam
)""".replace("{NOW}", str(DOC_PAGES_EPOCH + 10_000_000))

ORACLE_SQL["cdx_merge"] = (
    "WITH " + _URLS_CTE + ", " + _CAPS_CDX_CTE + r"""
SELECT surt, ts14, url, mime, status_code, digest, length FROM cidx
"""
)

ORACLE_SQL["recrawl_schedule"] = (
    "WITH " + _URLS_CTE + ", " + _CAPS_CDX_CTE + _RECRAWL_CORE + r"""
SELECT surt, url, n_captures, n_changes, first_epoch, last_epoch,
       lambda_milli, priority
FROM rsched
"""
)

ORACLE_SQL["recrawl_topk"] = (
    "WITH " + _URLS_CTE + ", " + _CAPS_CDX_CTE + _RECRAWL_CORE + r"""
SELECT surt, url, n_captures, n_changes, first_epoch, last_epoch,
       lambda_milli, priority
FROM rsched
ORDER BY priority DESC, surt ASC
LIMIT 50
"""
)


ORACLE_SQL["robots_sitemaps"] = r"""
WITH hosts AS (
  SELECT DISTINCT
    source || '-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
    doc_id % 7 AS hmod
  FROM documents
)
SELECT host, 'https://' || host || '/sitemap.xml' AS sitemap_url
FROM hosts WHERE hmod = 2
"""


# --------------------------------------------------------------------
# Focused-crawl frontier prioritization (operators/frontier.py::
# frontier_prioritize): global top-k by an external per-URL score,
# BFS order as the deterministic tie-break, TakeOrderedAndProject
# (map-side top-k heaps, no global sort). Scores cover only even
# doc_ids so the unscored->default_score path is exercised too.
# --------------------------------------------------------------------


def q_frontier_topk(spark, sf):
    """Top-100 frontier rows by a deterministic integer-derived score
    over half the URLs (the other half rides default_score=0)."""
    from website_indexer_spark.operators.frontier import (
        frontier_prioritize,
    )

    docs = _t(spark, sf, "documents")
    u = urls_from_documents(docs)
    doc = F.col("doc_id")
    frontier = u.select(
        "url",
        (doc % 4).cast("int").alias("depth"),
        doc.cast("long").alias("discovery_seq"),
    )
    scores = u.filter(doc % 2 == 0).select(
        "url",
        (((doc * 2654435761) % 1000).cast("double") / 1000.0).alias(
            "score"
        ),
    )
    return frontier_prioritize(frontier, scores, k=100)


def q_recrawl_frontier(spark, sf):
    """The crawl<->index loop closed: change-rate priorities from the
    capture history (cdx_change_rate) feed the focused-crawl top-k
    (frontier_prioritize) — the incremental crawler's 'which URLs do
    we refetch this wave' plan as ONE composition. URLs never seen to
    change ride default_score=0 and fall back to BFS order."""
    from website_indexer_spark.operators.frontier import (
        frontier_prioritize,
    )
    from website_indexer_spark.sources.cdx import cdx_change_rate

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = _t(spark, sf, "documents")
    u = urls_from_documents(docs)
    doc = F.col("doc_id")
    frontier = u.select(
        "url",
        (doc % 4).cast("int").alias("depth"),
        doc.cast("long").alias("discovery_seq"),
    )
    rates = cdx_change_rate(
        _cdx.cdx_index(_multi_captures(spark, sf)),
        now_epoch=DOC_PAGES_EPOCH + 10_000_000,
    )
    scores = rates.select("url", F.col("priority").alias("score"))
    return frontier_prioritize(frontier, scores, k=50)


SPARK_QUERIES["frontier_topk"] = q_frontier_topk
SPARK_QUERIES["recrawl_frontier"] = q_recrawl_frontier

ORACLE_SQL["frontier_topk"] = (
    "WITH " + _URLS_CTE + r""", f AS (
  SELECT url,
         CAST(doc_id % 4 AS INT) AS depth,
         CAST(doc_id AS BIGINT) AS discovery_seq,
         CASE WHEN doc_id % 2 = 0
              THEN CAST((doc_id * 2654435761) % 1000 AS DOUBLE) / 1000.0
              ELSE 0.0 END AS score
  FROM u
)
SELECT url, depth, discovery_seq
FROM f
ORDER BY score DESC, depth ASC, discovery_seq ASC, url ASC
LIMIT 100
"""
)

ORACLE_SQL["recrawl_frontier"] = (
    "WITH "
    + _URLS_CTE
    + ", "
    + _CAPS_CDX_CTE
    + _RECRAWL_CORE
    + r""", rf AS (
  SELECT u.url,
         CAST(u.doc_id % 4 AS INT) AS depth,
         CAST(u.doc_id AS BIGINT) AS discovery_seq,
         coalesce(CAST(r.priority AS DOUBLE), 0.0) AS score
  FROM u LEFT JOIN rsched r ON r.url = u.url
)
SELECT url, depth, discovery_seq
FROM rf
ORDER BY score DESC, depth ASC, discovery_seq ASC, url ASC
LIMIT 50
"""
)
