"""Physical-plan audit: dump `.explain("formatted")` for the headline
queries and assert the plan properties that matter at 100 TB —
filter/column pushdown into the parquet scan, whole-stage codegen
coverage, broadcast joins for small dimensions.

Writes PLANS.md at the repo root. Usage:

    python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHECKS = {
    # query -> list of (description, predicate-on-plan-text)
    "search_text": [
        ("column pruning reaches scan (no text in output of scan? "
         "text IS needed — check ReadSchema limited to used cols)",
         lambda p: "ReadSchema" in p and "n_chars" not in p),
        ("fused narrow pipeline (no exchange between scan and output)",
         lambda p: "Exchange" not in p),
    ],
    "language_filter": [
        ("lang = 'en' pushed to parquet scan",
         lambda p: "PushedFilters" in p and "EqualTo(lang,en)" in p),
    ],
    "detail_lookup": [
        ("doc_id = 42 pushed to parquet scan",
         lambda p: "EqualTo(doc_id,42)" in p),
    ],
    "join_search": [
        ("broadcast join (orders side small after filter)",
         lambda p: "BroadcastHashJoin" in p),
        ("priority filter pushed to orders scan",
         lambda p: "PushedFilters" in p),
    ],
    "group_agg": [
        ("partial aggregation before shuffle (map-side combine)",
         lambda p: "HashAggregate" in p and "partial" in p.lower()),
        ("shipdate filter pushed to scan",
         lambda p: "l_shipdate" in p.split("PushedFilters", 1)[-1][:400]
         if "PushedFilters" in p else False),
    ],
    "latest_scope": [
        ("semi join, not inner+distinct",
         lambda p: "LeftSemi" in p),
    ],
    "topk_retention": [
        ("single window sort, no extra exchange after window",
         lambda p: p.count("Window") >= 1),
    ],
    "dedup_exact": [
        ("partial agg on md5 before exchange",
         lambda p: "partial" in p.lower()),
    ],
    "ann_topk": [
        ("query side broadcast (no shuffle of the corpus for the join)",
         lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
    ],
    "ann_lsh": [
        ("banding candidate join is an equi hash join on (band, code) "
         "— never a cartesian / nested loop over the corpus",
         lambda p: "Cartesian" not in p and "NestedLoop" not in p),
        ("all joins broadcast the small side; only TWO hash exchanges "
         "total (candidate-pair distinct + final top-k window), both "
         "moving id/score rows — corpus vectors never cross a shuffle",
         lambda p: p.count("Arguments: hashpartitioning") == 2
         and "BroadcastHashJoin" in p),
        ("per-query top-k pre-pruned below the window shuffle",
         lambda p: "WindowGroupLimit" in p and "Partial" in p),
        ("band-code sketches are Arrow-batched MapInPandas",
         lambda p: "MapInPandas" in p),
    ],
    "ann_ivf": [
        ("cell candidate join is an equi hash join on centroid — "
         "never a cartesian / nested loop over the corpus",
         lambda p: "Cartesian" not in p and "NestedLoop" not in p),
        ("all joins broadcast the small side; only TWO hash exchanges "
         "total (candidate-pair distinct + final top-k window), both "
         "moving id/score rows — corpus vectors never cross a shuffle",
         lambda p: p.count("Arguments: hashpartitioning") == 2
         and "BroadcastHashJoin" in p),
        ("per-query top-k pre-pruned below the window shuffle",
         lambda p: "WindowGroupLimit" in p and "Partial" in p),
        ("centroid assignment is an Arrow-batched MapInPandas",
         lambda p: "MapInPandas" in p),
    ],
    "hash_sample": [
        ("pure narrow filter: zero exchanges, sample decided per-row",
         lambda p: "Exchange" not in p),
        ("column pruning reaches the scan",
         lambda p: "ReadSchema" in p and "text" not in
         p.split("ReadSchema", 1)[-1][:200]),
    ],
    "stratified_sample": [
        ("one shuffle total: the stratum-key window partitioning "
         "(tree + detail section each print it once)",
         lambda p: p.count("Exchange hashpartitioning") <= 2),
        ("partial rank-limit pushed below the shuffle: each map task "
         "pre-prunes to the quota before exchanging",
         lambda p: "WindowGroupLimit" in p and "Partial" in p),
    ],
    "pii_scrub": [
        ("redaction is a narrow projection: zero exchanges",
         lambda p: "Exchange" not in p),
        ("whole-stage codegen covers the regex projection",
         lambda p: "codegen id" in p),
    ],
    "topk_terms": [
        ("map-side partial aggregation before each shuffle",
         lambda p: "partial" in p.lower()),
        ("global top-k via TakeOrdered, no full sort materialized",
         lambda p: "TakeOrderedAndProject" in p),
    ],
    "mixture_sample": [
        ("temperature mixture draw is a PURE NARROW literal-map "
         "filter: zero exchanges, zero joins (thresholds are baked "
         "literals; the one count job runs eagerly at build time)",
         lambda p: "Exchange" not in p and "Join" not in p),
        ("whole-stage codegen covers the hash draw",
         lambda p: "codegen id" in p),
    ],
    "repetition_stats": [
        ("single tagged-explode pass: exactly TWO hash exchanges "
         "(uniform (doc,kind,item) count, then the per-doc fold)",
         lambda p: p.count("Arguments: hashpartitioning") == 2),
        ("map-side partial aggregation before each shuffle",
         lambda p: "partial" in p.lower()),
        ("every aggregate is hash-based — the packed-bigint top-gram "
         "max keeps the per-doc fold off the SortAggregate path "
         "(max over a struct/string buffer would sort the whole "
         "token-stream-sized intermediate twice)",
         lambda p: "SortAggregate" not in p),
        ("ONE parquet scan feeds all three signal families",
         lambda p: p.count("Location:") == 1),
    ],
    "repetition_filter": [
        ("keep-rule re-enters the corpus as a broadcast LEFT SEMI "
         "join on doc_id (no distinct, no inner+dedup)",
         lambda p: "LeftSemi" in p),
        ("no cartesian / nested loop anywhere",
         lambda p: "Cartesian" not in p and "NestedLoop" not in p),
    ],
    "dedup_spans": [
        ("duplicated-shingle candidate join is an equi hash join on "
         "the shingle string — never a cartesian / nested loop",
         lambda p: "Cartesian" not in p and "NestedLoop" not in p),
        ("exactly TWO hash exchanges: the corpus-wide shingle count "
         "and the per-doc island window; both window passes share "
         "ONE sort and the (doc, island) span fold reuses the "
         "window's partitioning (no third exchange)",
         lambda p: p.count("Arguments: hashpartitioning") == 2),
        ("map-side partial aggregation under the shingle count",
         lambda p: "partial" in p.lower()),
    ],
    "dedup_span_removal": [
        ("span list rejoins the corpus as an equi join on doc_id; "
         "the covered-token cut is a JVM higher-order filter, not "
         "Python",
         lambda p: "Cartesian" not in p and "NestedLoop" not in p
         and "MapInPandas" not in p and "EvalPython" not in p),
        ("still exactly TWO hash exchanges end-to-end — the removal "
         "half adds joins, not shuffles",
         lambda p: p.count("Arguments: hashpartitioning") == 2),
    ],
    "decontam_report": [
        ("shingle join is an equi hash join (never a cross product)",
         lambda p: "Join" in p and "Cartesian" not in p
         and "NestedLoop" not in p),
        ("map-side partial aggregation before each shuffle",
         lambda p: "partial" in p.lower()),
    ],
    "distinctive_terms": [
        ("per-doc rank-limit pushed below the window shuffle",
         lambda p: "WindowGroupLimit" in p),
        ("term df join is an equi hash join",
         lambda p: "Cartesian" not in p and "NestedLoop" not in p),
    ],
    "pretrain_pipeline": [
        ("composed pipeline stays equi-join only (no cross product "
         "anywhere in the 6-stage chain)",
         lambda p: "Cartesian" not in p and "NestedLoop" not in p),
        ("map-side partial aggregation before each shuffle",
         lambda p: "partial" in p.lower()),
        ("eval-slice holdout pushed into the scan",
         lambda p: "PushedFilters" in p),
    ],
    "bpe_pair_counts": [
        ("round-1 pair count is pure native dataflow: no Python "
         "evaluator anywhere in the plan",
         lambda p: "EvalPython" not in p and "MapInPandas" not in p),
        ("pair count partial-aggregates map-side (mega-pair skew "
         "dies in the combiner)",
         lambda p: "partial" in p.lower()),
    ],
    "weighted_sample": [
        ("A-ES winners via TakeOrderedAndProject: per-task top-k "
         "heaps, never a global sort",
         lambda p: "TakeOrderedAndProject" in p),
        ("one narrow projection computes the key: no exchange before "
         "the top-k",
         lambda p: "Exchange hashpartitioning" not in p),
    ],
    "harmonic_rank": [
        ("the ANF flood + key projection stays equi-join only",
         lambda p: "Cartesian" not in p and "NestedLoop" not in p),
        ("the rank is the scalable ordered enumeration: range "
         "partitioning (TeraSort shape), never a single-partition "
         "global window",
         lambda p: "rangepartitioning" in p),
        ("bit_or flood folds map-side before each exchange",
         lambda p: "partial" in p.lower()),
    ],
    "dump_to_shards": [
        ("the full dump→shards chain stays equi-join only — no cross "
         "product anywhere from archive bytes to manifest",
         lambda p: "Cartesian" not in p and "NestedLoop" not in p),
        ("map-side partial aggregation before every shuffle (exact "
         "dedup firsts, paragraph firsts, decontam counts, manifest)",
         lambda p: "partial" in p.lower()),
        ("the chain either shows its Arrow-batched runners (wire "
         "decode / extraction kernel) inline or reads from a "
         "checkpoint-materialized stage boundary — never "
         "row-at-a-time Python (no EvalPython / BatchEvalPython)",
         lambda p: ("MapInPandas" in p or "ArrowEvalPython" in p
                    or "ExistingRDD" in p)
         and "BatchEvalPython" not in p),
        ("packing is bucket-parallel: no global range sort anywhere "
         "in the plan",
         lambda p: "rangepartitioning" not in p),
    ],
    "media_meta": [
        ("payload audit is a narrow mapInPandas pipeline: no exchange",
         lambda p: "Exchange" not in p),
        ("column pruning: only media_id+payload inputs survive to the "
         "Python runner",
         lambda p: "ArrowEvalPython" in p or "MapInPandas" in p),
    ],
    "media_features_codec": [
        ("decode -> stats -> histogram -> thumbnail is ONE narrow "
         "Arrow-batched pass: zero exchanges end to end",
         lambda p: "Exchange" not in p),
        ("the decode runs in an Arrow-batched Python runner, never "
         "row-at-a-time",
         lambda p: "MapInPandas" in p or "ArrowEvalPython" in p),
    ],
    "warc_ingest": [
        ("archive parse is a narrow Arrow-batched pass over whole "
         "files: one task per archive, zero exchanges",
         lambda p: "Exchange" not in p),
        ("wire decode (de-chunk/gunzip) runs in MapInPandas, "
         "never row-at-a-time Python",
         lambda p: "MapInPandas" in p),
        ("binaryFile scan prunes to content only (no per-record "
         "predicate can push into an opaque archive — parsing IS the "
         "scan)",
         lambda p: "binaryFile" in p or "BatchScan" in p
         or "FileScan" in p),
    ],
    "doc_pack": [
        ("exactly ONE hash exchange — the bucket route; packing is "
         "bucket-parallel, never a global sort",
         lambda p: p.count("Arguments: hashpartitioning") == 1
         and "rangepartitioning" not in p),
        ("the text column is dropped BEFORE the exchange: no "
         "sort/window/exchange operator carries text (only the "
         "scan-side token-count projection reads it)",
         lambda p: all(
             "text#" not in ln
             for ln in p.splitlines()
             if ln.startswith("Arguments: [")
         )),
        ("single corpus scan feeds the whole assignment",
         lambda p: p.count("Location:") == 1),
    ],
    "shard_manifest": [
        ("the roll-up reuses the packing window's bucket "
         "partitioning — hashpartitioning(bucket) satisfies the "
         "(bucket, shard) clustering, so STILL exactly one exchange",
         lambda p: p.count("Arguments: hashpartitioning") == 1),
        ("map-side partial aggregation",
         lambda p: "partial" in p.lower()),
    ],
    "lm_logloss": [
        ("scoring plan reads the corpus parquet exactly ONCE — the "
         "train side (term counts) is a localCheckpointed term-"
         "cardinality frame, so vocab AND model scalars reuse it "
         "instead of re-scanning",
         lambda p: p.count("Location:") == 1
         and "Scan ExistingRDD" in p),
        ("vocabulary is TakeOrdered (K rows), never a global sort",
         lambda p: "TakeOrderedAndProject" in p),
        ("the scoring join is a BROADCAST hash join against the "
         "K-row model",
         lambda p: "BroadcastHashJoin" in p),
        ("scalar attach is a 1-row broadcast cross (BNLJ BuildRight) "
         "— no true cartesian, no shuffle join anywhere",
         lambda p: "CartesianProduct" not in p
         and "SortMergeJoin" not in p and "ShuffledHashJoin" not in p),
        ("per-doc fold stays hash-aggregated",
         lambda p: "SortAggregate" not in p),
    ],
    "lm_head": [
        ("the head cut re-enters the corpus as a LEFT SEMI join",
         lambda p: "LeftSemi" in p),
        ("no cartesian / nested-loop on corpus-sized inputs",
         lambda p: "CartesianProduct" not in p),
    ],
    "incremental_dedup": [
        ("snapshot probe is a LEFT ANTI equi join on the content "
         "hash (uniform key — skew-free by construction)",
         lambda p: "LeftAnti" in p),
        ("snapshot side never carries text above the scan: the hash "
         "projection is scan-side, and no join/exchange operator "
         "lists a text attribute",
         lambda p: all(
             "text#" not in ln
             for ln in p.splitlines()
             if ln.startswith("Arguments: hashpartitioning")
         )),
        ("in-increment dedup partial-aggregates before its exchange",
         lambda p: "partial" in p.lower()),
        ("no cartesian anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "host_stats": [
        ("one partial-aggregated hash exchange keyed by host — "
         "mega-host skew lands in map-side combine",
         lambda p: p.count("Arguments: hashpartitioning") == 1
         and "partial" in p.lower()),
        ("scan prunes to (source, text) only",
         lambda p: "ReadSchema: struct<text:string,source:string>" in p
         or "ReadSchema: struct<source:string,text:string>" in p),
    ],
    "host_filter": [
        ("gate-back is a LEFT SEMI equi join on host (broadcast under "
         "AQE for any realistic surviving-host list)",
         lambda p: "LeftSemi" in p and "BroadcastHashJoin" in p),
        ("host IS NOT NULL pushed into both scans (null hosts can "
         "never pass, so the scan drops them)",
         lambda p: "IsNotNull(source)" in p),
        ("no cartesian anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "c4_line_stats": [
        ("the whole cleaner is narrow: ZERO exchanges — it runs "
         "inside the scan stage at 100 TB",
         lambda p: "Exchange" not in p),
        ("no Python anywhere: higher-order functions stay JVM-side",
         lambda p: "Python" not in p),
        ("scan prunes to (doc_id, text)",
         lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
    ],
    "c4_clean": [
        ("gate composes into the same narrow projection chain — "
         "still zero exchanges",
         lambda p: "Exchange" not in p and "Python" not in p),
    ],
    "paragraph_dedup": [
        ("per-line firsts partial-aggregate before the exchange "
         "(mega-dup boilerplate skew dies in map-side combine)",
         lambda p: "partial_min" in p),
        ("the probe is an equi join, never cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("reassembly is one hash exchange keyed by doc",
         lambda p: p.count("Arguments: hashpartitioning") >= 2),
    ],
    "semdedup": [
        ("ONE exchange keyed by (centroid, sub) into the "
         "Arrow-batched leader pass — vectors cross the wire once",
         lambda p: "FlatMapGroupsInPandas" in p),
        ("no cartesian / cross join anywhere (the pairwise check is "
         "a numpy matmul inside the cell)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "paragraph_dedup_snapshot": [
        ("snapshot-line drop is a LEFT ANTI equi join on the line "
         "(snapshot text never shuffles as documents — its side is "
         "a partial-aggregated distinct line set)",
         lambda p: "LeftAnti" in p and "partial" in p.lower()),
        ("in-increment firsts still partial-aggregate (mega-dup "
         "boilerplate skew dies map-side)",
         lambda p: "partial_min" in p),
        ("no cartesian / nested-loop anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "url_features": [
        ("feature block is one narrow projection: zero exchanges, "
         "no Python",
         lambda p: "Exchange" not in p and "Python" not in p),
    ],
    "url_filter": [
        ("the gauntlet is a narrow filter fused into the scan stage",
         lambda p: "Exchange" not in p and "Python" not in p),
    ],
    "cdx_index": [
        ("the index transform adds no exchange of its own (the only "
         "join is the derivation's broadcast doc_id self-join)",
         lambda p: "CartesianProduct" not in p
         and "SortMergeJoin" not in p),
        ("SURT/digest are native expressions — no Python",
         lambda p: "Python" not in p),
    ],
    "gopher_stats": [
        ("all seven Gopher signals in ONE narrow projection: zero "
         "exchanges — fuses into the scan stage at 100 TB",
         lambda p: "Exchange" not in p),
        ("no Python: tokenization/lines/regex stay JVM-side",
         lambda p: "Python" not in p),
        ("scan prunes to (doc_id, text)",
         lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
    ],
    "gopher_filter": [
        ("the keep rule is a narrow filter on the same projection — "
         "no join, no exchange",
         lambda p: "Exchange" not in p and "Join" not in p
         and "Python" not in p),
    ],
    "pagerank": [
        ("edge list cached + pre-partitioned: consumed from "
         "InMemoryTableScan every round, built once",
         lambda p: p.count("InMemoryTableScan") >= 5),
        ("in-link fan-in partial-aggregates before each round's "
         "exchange (mega-page skew dies map-side)",
         lambda p: "partial" in p.lower()),
        ("never cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "host_pagerank": [
        ("the contracted host edge list is cached + pre-partitioned "
         "— consumed from InMemoryTableScan every round",
         lambda p: p.count("InMemoryTableScan") >= 5),
        ("the host-pair fold AND each round's fan-in "
         "partial-aggregate before their exchanges",
         lambda p: "partial" in p.lower()),
        ("mapping joins + rounds are equi-joins — never cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "anf_sketch": [
        ("per-round state rides checkpointed frames (the flood's "
         "partial bit_or runs inside those jobs — plan-asserted by "
         "test_anf.py with checkpointing off); the statistic fold "
         "stays hash-aggregated integer arithmetic",
         lambda p: "Scan ExistingRDD" in p
         and "bit_count" in p
         and "SortAggregate" not in p),
        ("no Python, never cartesian",
         lambda p: "EvalPython" not in p
         and "CartesianProduct" not in p),
    ],
    "hits": [
        ("the visible plan consumes ONLY checkpointed node-sized "
         "score frames (Scan ExistingRDD, no parquet rescan) — the "
         "per-rescale lineage cut that killed the 4^r recompute "
         "(BENCH/NOTES.md graph-sketch batch); edge caching is "
         "inside the checkpoint jobs",
         lambda p: "Scan ExistingRDD" in p
         and "Scan parquet" not in p),
        ("fan-in/fan-out sums partial-aggregate before their "
         "exchanges; max-rescale attaches as a 1-row broadcast",
         lambda p: "partial" in p.lower()
         and "BroadcastNestedLoopJoin" in p),
        ("never cartesian, no Python",
         lambda p: "CartesianProduct" not in p
         and "EvalPython" not in p),
    ],
    "link_degrees": [
        ("one tagged union + one partial-aggregated exchange keyed "
         "by node",
         lambda p: "Union" in p and "partial" in p.lower()),
    ],
    "sitemap_entries": [
        ("the XML entry parse is a narrow regexp projection + "
         "explode — the only exchanges belong to the derivation's "
         "per-source groupBy, never the parse",
         lambda p: "Python" not in p
         and "CartesianProduct" not in p),
    ],
    "dedup_normalized": [
        ("key projection fuses into the scan; group is ONE "
         "partial-aggregated exchange on the md5 key",
         lambda p: "partial" in p.lower() and "Python" not in p),
    ],
    "compression_ratio": [
        ("the one unavoidable Python stage is Arrow-batched, never "
         "row-at-a-time",
         lambda p: "ArrowEvalPython" in p and "BatchEvalPython" not in p),
    ],
    "anchor_text": [
        ("pair counts partial-aggregate before the exchange "
         "(mega-duplicate anchors collapse map-side)",
         lambda p: "partial" in p.lower()),
        ("top-k is a WindowGroupLimit pushed below the shuffle — a "
         "mega-in-degree target never funnels all anchors through "
         "one reducer",
         lambda p: "WindowGroupLimit" in p),
        ("never cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "crawl_delay_budgets": [
        ("the robots parse is ONE Arrow-batched vectorized UDF, "
         "never row-at-a-time Python",
         lambda p: "ArrowEvalPython" in p
         and "BatchEvalPython" not in p),
        ("the parse runs ONCE, ABOVE the host distinct "
         "(nondeterministic barrier blocks the filter pushdown): "
         "a single Arrow stage sits over the aggregate, never below "
         "the exchange and never duplicated per input row",
         lambda p: (lambda tree: tree.count("ArrowEvalPython") == 1
                    and "Exchange" in tree
                    and tree.index("ArrowEvalPython")
                    < tree.index("Exchange"))(p.split("\n\n")[0])),
        ("never cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "window_hourly": [
        ("tumbling-window agg partial-aggregates map-side before its "
         "single exchange",
         lambda p: "partial_count" in p
         and p.count("hashpartitioning") == 1),
        ("no Python", lambda p: "EvalPython" not in p),
    ],
    "dedup_minhash_lsh": [
        ("band buckets meet in an equi-join — never cartesian, and "
         "the sketch UDFs are Arrow-batched, never row-at-a-time",
         lambda p: "CartesianProduct" not in p
         and "BatchEvalPython" not in p),
        ("pair verification happens after a real join (banding "
         "prunes the candidate space)",
         lambda p: "Join" in p),
    ],
    "dedup_simhash": [
        ("block buckets meet in an equi-join — never cartesian; "
         "Arrow-batched sketches only",
         lambda p: "CartesianProduct" not in p
         and "BatchEvalPython" not in p),
        ("candidate pairs come from a join, not an all-pairs pass",
         lambda p: "Join" in p),
    ],
    "lang_id": [
        ("narrow projection: zero exchanges, no Python",
         lambda p: "Exchange" not in p and "EvalPython" not in p),
    ],
    "quality": [
        ("narrow projection: zero exchanges, no Python",
         lambda p: "Exchange" not in p and "EvalPython" not in p),
    ],
    "token_counts": [
        ("narrow projection: zero exchanges, no Python",
         lambda p: "Exchange" not in p and "EvalPython" not in p),
    ],
    "embedding_dup_pairs_lsh": [
        ("fused LSH: exactly three bounded exchanges — band route, "
         "capacity sub-split route, pair-dedup agg — never cartesian",
         lambda p: p.count("hashpartitioning") <= 3
         and "CartesianProduct" not in p),
        ("vector compare is Arrow-batched, never row-at-a-time",
         lambda p: "BatchEvalPython" not in p),
    ],
    "dimension_upsert": [
        ("above-broadcast-threshold MERGE: the anti-join is the "
         "shuffled LeftAnti the strategy table mandates (broadcasting "
         "10^6 string keys through the driver is a serial floor)",
         lambda p: "LeftAnti" in p),
        ("never cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "seen_anti_join_bucketed": [
        ("the committed seen table is ABSENT from the plan: one probe "
         "scan, one probe-side exchange into the bucket-pinned "
         "MapInPandas point-reader",
         lambda p: "MapInPandas" in p
         and p.count("hashpartitioning") == 1),
        ("no seen-side join in the plan at all",
         lambda p: "Join" not in p),
    ],
    "seen_anti_join_bloom": [
        ("maybe-seen rows resolve via broadcast LeftAnti (the filter "
         "is a prefilter, the exact join stays small); the big side "
         "never sort-merge-shuffles",
         lambda p: "BroadcastExchange" in p
         and "SortMergeJoin" not in p),
        ("never cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "politeness_bucketed": [
        ("the queue snapshot is read bucket-pinned inside MapInPandas; "
         "the ONLY exchange moves B driver-sized bucket-id rows "
         "(REPARTITION_BY_NUM on bucket), never frontier rows — no "
         "frontier-row hash exchange exists in the plan",
         lambda p: "MapInPandas" in p
         and p.count("hashpartitioning") == 1
         and "REPARTITION_BY_NUM" in p
         and "ENSURE_REQUIREMENTS" not in p),
    ],
    "dedup_clusters": [
        ("the cluster map applies through real joins — never "
         "cartesian, no row-at-a-time Python",
         lambda p: "CartesianProduct" not in p
         and "BatchEvalPython" not in p),
    ],
    "wet_roundtrip": [
        ("read side is file-parallel (one MapInPandas task per "
         "shard; gzip members are not splittable)",
         lambda p: "MapInPandas" in p),
        ("no exchange after the parse — decode + projection stay "
         "in the file task",
         lambda p: "Exchange" not in p.split("MapInPandas", 1)[0]),
        ("never cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "frontier_topk": [
        ("global top-k is TakeOrderedAndProject — map-side top-k "
         "heaps, never a global Sort+Limit",
         lambda p: "TakeOrderedAndProject" in p
         and "Sort " not in p.split("TakeOrderedAndProject")[0]),
        ("score join is a plain equi-join, never cartesian",
         lambda p: "CartesianProduct" not in p),
        ("no Python in the plan",
         lambda p: "EvalPython" not in p),
    ],
    "cdx_collapse": [
        ("ONE shuffle exchange (keyed by surt) feeds the in-partition "
         "lag() window — the collapse adds no second shuffle (the "
         "derivation's doc_id join is broadcast)",
         lambda p: p.count("hashpartitioning") == 1
         and "Window" in p and "BroadcastHashJoin" in p),
        ("native expressions only — no Python",
         lambda p: "EvalPython" not in p),
        ("never cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "cdx_latest": [
        ("the rank-1 predicate folds into WindowGroupLimit: partial "
         "top-1 runs map-side BEFORE the exchange, so the shuffle "
         "carries one candidate per (surt, input partition), not the "
         "full capture history",
         lambda p: "WindowGroupLimit" in p),
        ("native expressions only — no Python",
         lambda p: "EvalPython" not in p),
        ("never cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "robots_sitemaps": [
        ("Sitemap extraction is ONE native multiline regexp fused "
         "into the scan projection — no Python, no group-state UDF",
         lambda p: "EvalPython" not in p),
        ("two partial-aggregated shuffles only: the synthetic host "
         "derivation's distinct and the closing distinct — both "
         "map-side combined",
         lambda p: p.count("hashpartitioning") <= 2),
        ("never cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "encoding_stats": [
        ("the whole damage detector is one narrow projection — no "
         "exchange, no Python; it fuses into any scan",
         lambda p: "Exchange" not in p and "EvalPython" not in p),
    ],
    "encoding_filter": [
        ("the keep-rule is a pure filter over the same narrow "
         "expressions — no exchange, no Python",
         lambda p: "Exchange" not in p and "EvalPython" not in p),
    ],
    "cdx_merge": [
        ("the merge is one partial-aggregated exchange on the "
         "capture identity — no sort, no join, both sides stream",
         lambda p: "partial" in p.lower()
         and "SortMergeJoin" not in p
         and "CartesianProduct" not in p),
        ("no Python",
         lambda p: "EvalPython" not in p),
    ],
    "recrawl_schedule": [
        ("the lag() window and the per-surt aggregate share ONE "
         "surt-keyed exchange (the derivation's doc_id join is "
         "broadcast) — change detection adds no second shuffle",
         lambda p: p.count("hashpartitioning") == 1
         and "Window" in p),
        ("priority arithmetic is native bigint expressions — no "
         "Python anywhere",
         lambda p: "EvalPython" not in p),
        ("never cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "recrawl_topk": [
        ("refetch top-k is TakeOrderedAndProject — per-task heaps, "
         "never a global Sort+Limit",
         lambda p: "TakeOrderedAndProject" in p),
        ("never cartesian, no Python",
         lambda p: "CartesianProduct" not in p
         and "EvalPython" not in p),
    ],
    "mixture_pack": [
        ("the composed mixture->pack->manifest stays one plan: the "
         "mixture is a literal-map filter (no corpus exchange of its "
         "own) and the manifest reuses the pack's bucket "
         "partitioning — text never shuffles",
         lambda p: "text" not in
         p.split(") Exchange\n", 1)[-1].split("]", 1)[0]
         and "CartesianProduct" not in p),
        ("window packing partial-folds per bucket; no Python",
         lambda p: "Window" in p and "EvalPython" not in p),
    ],
    "quantile_buckets": [
        ("the corpus never re-exchanges in the visible plan: the "
         "histogram is a checkpointed frame and the value->bucket "
         "map joins back via BROADCAST — no global sort of data ever",
         lambda p: "BroadcastHashJoin" in p
         and p.count("Exchange hashpartitioning") == 0
         and "SortMergeJoin" not in p),
        ("the CDF window's input subtree (plan tree below the first "
         "Window) is the checkpointed histogram, never a parquet "
         "scan",
         lambda p: "Scan ExistingRDD"
         in p.split("\n\n(", 1)[0].split("Window (", 1)[-1]
         and "Scan parquet"
         not in p.split("\n\n(", 1)[0].split("Window (", 1)[-1]),
        ("no Python, never cartesian (the totals attach is a 1-row "
         "broadcast cross)",
         lambda p: "EvalPython" not in p
         and "CartesianProduct" not in p),
    ],
    "quantile_buckets_by_lang": [
        ("per-group form keeps the shape: broadcast map join (now "
         "null-safe on every key), no shuffle join, no corpus "
         "re-exchange in the visible plan",
         lambda p: "BroadcastHashJoin" in p
         and "SortMergeJoin" not in p
         and p.count("Exchange hashpartitioning") == 0),
    ],
    "ccnet_buckets": [
        ("the LM scoring join stays broadcast and the bucket map "
         "joins broadcast — no shuffle join anywhere",
         lambda p: "SortMergeJoin" not in p
         and "ShuffledHashJoin" not in p
         and "BroadcastHashJoin" in p),
        ("vocabulary still TakeOrdered; never cartesian",
         lambda p: "TakeOrderedAndProject" in p
         and "CartesianProduct" not in p),
    ],
    "dsir_model": [
        ("both models come from ONE localCheckpointed <=B-row counts "
         "frame (target counts are a conditional sum in the same "
         "groupBy) — the scores plan reuses it twice and never "
         "rescans the corpus parquet",
         lambda p: "Location:" not in p
         and p.count("Scan ExistingRDD") >= 2
         and "partial_sum" in p),
        ("totals attach as a 1-row broadcast cross — no shuffle "
         "join, no cartesian",
         lambda p: "CartesianProduct" not in p
         and "SortMergeJoin" not in p
         and "ShuffledHashJoin" not in p),
        ("no Python in the plan",
         lambda p: "EvalPython" not in p),
    ],
    "dsir_logratio": [
        ("scoring joins the <=B-row model via BROADCAST hash join — "
         "the corpus token stream never shuffles for the lookup",
         lambda p: "BroadcastHashJoin" in p),
        ("per-doc weight folds in a partial HashAggregate (map-side "
         "combine: a doc's bigrams never leave its input partition)",
         lambda p: "HashAggregate" in p and "partial" in p.lower()),
        ("integer-sum protocol end to end: no shuffle join, no "
         "cartesian, no Python",
         lambda p: "CartesianProduct" not in p
         and "SortMergeJoin" not in p
         and "EvalPython" not in p),
    ],
    "recrawl_frontier": [
        ("the composed refetch wave is still TakeOrderedAndProject "
         "— priorities join the frontier as a plain outer equi-join "
         "and no global sort ever materializes",
         lambda p: "TakeOrderedAndProject" in p
         and "CartesianProduct" not in p),
        ("change detection contributes its one surt-keyed window "
         "exchange; no Python anywhere",
         lambda p: "Window" in p and "EvalPython" not in p),
    ],
    "dsir_head": [
        ("DSIR selection is TakeOrderedAndProject over the scored "
         "frame — never a global sort",
         lambda p: "TakeOrderedAndProject" in p),
    ],
    "wat_roundtrip": [
        ("read side is file-parallel (one MapInPandas task per "
         "shard; gzip members are not splittable)",
         lambda p: "MapInPandas" in p),
        ("no exchange after the parse — decode + projection stay "
         "in the file task",
         lambda p: "Exchange" not in p.split("MapInPandas", 1)[0]),
        ("never cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
}


def crawl_operator_plans(spark, work_dir: str):
    """Plans for the crawl-internal joins the 100 TB design leans on.
    Built over real parquet scans (a synthetic 1M-row seen/lookup
    table) so exchange behavior matches the deployed shape. The
    critical property: the BIG side (seen set / web_pages lookup /
    dims history) must show NO shuffle exchange — broadcast exchanges
    of the wave-bounded side are the only exchanges allowed.

    Returns name -> (DataFrame, or the plan text of one already
    captured, checks)."""
    import pyspark.sql.functions as F

    from website_indexer_spark.operators.dims import dim_upsert_delta
    from website_indexer_spark.operators.frontier import anti_join_seen

    big = spark.range(0, 1_000_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("https://h.test/p"), F.col("id")).alias("url"),
    )
    big.write.mode("overwrite").parquet(os.path.join(work_dir, "seen"))
    seen = spark.read.parquet(os.path.join(work_dir, "seen"))
    wave = spark.range(0, 1000).select(
        F.concat(F.lit("https://h.test/p"), F.col("id") * 997).alias("url")
    )

    no_shuffle = (
        "big side never shuffle-exchanged (broadcast exchanges only)",
        lambda p: "Exchange hashpartitioning" not in p
        and "BroadcastExchange" in p,
    )
    plans = {}
    plans["crawl_seen_anti_join"] = (
        anti_join_seen(wave, seen.select("url_hash"), None, broadcast_frontier=True),
        [
            no_shuffle,
            ("LeftSemi streams the seen scan map-side",
             lambda p: "LeftSemi" in p),
            ("final exclusion is a LeftAnti",
             lambda p: "LeftAnti" in p),
        ],
    )

    # the ABOVE-broadcast-threshold seen path: storage-partitioned
    # anti-join against the hash-bucketed seen layout. The seen table
    # must not appear in the Spark plan at all — probe tasks point-read
    # their bucket's files executor-side; the only exchange is the
    # probe's repartition by bucket.
    from website_indexer_spark.operators.frontier import (
        StripedBloom,
        anti_join_seen_bucketed,
    )
    from website_indexer_spark.sources.tables import SEEN_BUCKETS, CrawlStore

    bstore = CrawlStore(spark, os.path.join(work_dir, "bstore"))
    big.select(
        "url_hash", "url",
        F.pmod(F.col("url_hash"), F.lit(SEEN_BUCKETS)).alias("bucket"),
    ).write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(work_dir, "bstore", "seen", "superstep=0")
    )
    bstore.commit(0, {})
    wave_delta = spark.range(0, 1000).select(
        F.xxhash64(F.concat(F.lit("https://h.test/q"), F.col("id"))).alias(
            "url_hash"
        )
    )
    plans["crawl_seen_anti_join_bucketed"] = (
        anti_join_seen_bucketed(
            wave, bstore.bucketed_files("seen"), SEEN_BUCKETS,
            extra_exclude=wave_delta,
        ),
        [
            ("seen table absent from the plan (no scan node reads "
             "bstore/seen): probe tasks point-read their bucket's "
             "files executor-side",
             lambda p: "bstore" not in p),
            ("exactly one hash exchange — the probe side's repartition "
             "by pmod(url_hash, buckets); the seen side is never "
             "exchanged",
             lambda p: p.count("Arguments: hashpartitioning") == 1
             and "pmod" in p),
            ("wave's uncommitted delta excluded via broadcast LeftAnti",
             lambda p: "BroadcastExchange" in p and "LeftAnti" in p),
            ("probe is an Arrow-batched MapInPandas",
             lambda p: "MapInPandas" in p),
        ],
    )

    # the Bloom-prefiltered seen path: the filter's bucket bitmaps
    # are executor-side point reads, so — like the bucketed seen
    # layout — they must be invisible to the Spark plan; the probe
    # itself is an Arrow-batched pandas UDF and the exact check on the
    # maybe-seen residue stays broadcast-only.
    bloom = StripedBloom.create(
        os.path.join(work_dir, "seenbf"), expected_keys=1_000_000
    )
    bloom.update(seen.select("url_hash"))
    plans["crawl_seen_anti_join_bloom"] = (
        anti_join_seen(wave, seen.select("url_hash"), bloom, broadcast_frontier=True),
        [
            ("Bloom bucket bitmaps absent from the plan (no scan node "
             "reads seenbf/): probe tasks point-read their bucket files "
             "executor-side",
             lambda p: "seenbf" not in p),
            ("probe is an Arrow-batched pandas UDF (vectorized, "
             "never per-row Python)",
             lambda p: "ArrowEvalPython" in p),
            no_shuffle,
            ("maybe-seen residue takes the exact LeftSemi/LeftAnti "
             "broadcast check; definitely-unseen rows bypass it",
             lambda p: "LeftSemi" in p and "LeftAnti" in p
             and "Union" in p),
        ],
    )

    # storage-partitioned politeness selection (round 4): per-host
    # budget ranking over a host-bucketed frontier snapshot — the
    # queue never crosses an exchange; the window variant's
    # hash-exchange of the whole queue is the thing this kills.
    from website_indexer_spark.operators.frontier import (
        politeness_select_bucketed,
    )
    from website_indexer_spark.sources.tables import FRONTIER_SCHEMA, bucket_files

    fsnap = os.path.join(work_dir, "fsnap")
    (
        big.select(
            "url",
            F.concat(F.lit("h"), F.pmod(F.col("url_hash"), F.lit(50)), F.lit(".test")).alias("host"),
            F.lit(3).alias("depth"),
            F.col("url_hash").alias("discovery_seq"),
            F.lit(None).cast("string").alias("parent_url"),
            F.lit(None).cast("string").alias("parent_host"),
            F.lit("GET").alias("fetch_method"),
        )
        .withColumn("bucket", F.pmod(F.xxhash64("host"), F.lit(8)))
        .repartition(8, F.col("bucket"))
        .write.partitionBy("bucket")
        .parquet(fsnap)
    )
    plans["crawl_politeness_bucketed"] = (
        politeness_select_bucketed(
            spark, bucket_files(fsnap), 100, FRONTIER_SCHEMA
        ),
        [
            ("frontier snapshot absent from the plan (no scan node "
             "reads fsnap/): selection tasks point-read their bucket's "
             "files executor-side",
             lambda p: "fsnap" not in p),
            ("exactly one hash exchange — the BUCKET-ID driver rows; "
             "the 10^10-row queue itself never crosses an exchange",
             lambda p: p.count("Arguments: hashpartitioning") == 1),
            ("no Window/Sort of the queue in the Spark plan (the "
             "per-host rank runs inside the Arrow-batched task)",
             lambda p: "Window" not in p and "MapInPandas" in p),
        ],
    )

    # the fetch join's hits ∪ misses synthesis (plans/crawl.py A13).
    # Tiny waves: the wave's URL list is pushed into the lookup scan
    # as an IN predicate (point lookup — parquet row-group skipping).
    # Big waves: full-width streamed pass with the wave broadcast,
    # plus a url-column-only pass for the miss set. Either way html
    # never crosses the driver, nothing shuffles.
    from website_indexer_spark.plans.crawl import (
        POINT_LOOKUP_THRESHOLD,
        fetch_sim_join,
    )

    fetched_point, _ = fetch_sim_join(seen, wave, 1000)
    plans["crawl_fetch_join_point"] = (
        fetched_point,
        [
            no_shuffle,
            ("wave URL list pushed into the lookup scan (IN predicate)",
             lambda p: "PushedFilters: [In(url" in p),
            ("hits: inner join builds the broadcast wave side",
             lambda p: "BuildRight" in p),
            ("misses via LeftAnti over the same filtered scan, unioned",
             lambda p: "LeftAnti" in p and "Union" in p),
        ],
    )

    fetched_streamed, _ = fetch_sim_join(seen, wave, POINT_LOOKUP_THRESHOLD + 1)
    plans["crawl_fetch_join_streamed"] = (
        fetched_streamed,
        [
            no_shuffle,
            ("hits: inner join builds the broadcast wave side",
             lambda p: "BuildRight" in p),
            ("misses derived via LeftSemi + LeftAnti, unioned back",
             lambda p: "LeftSemi" in p and "LeftAnti" in p and "Union" in p),
        ],
    )

    # dims MERGE above the broadcast threshold: storage-partitioned
    # probe against the kind/bucket dims layout — exact on the key
    # strings; default shape pre-collapses the wave's repeated hrefs
    # with a map-side partial aggregate before the bucket exchange.
    from website_indexer_spark.operators.dims import dim_upsert_delta_bucketed
    from website_indexer_spark.sources.tables import DIMS_BUCKETS

    big.select(
        F.lit("link").alias("kind"), F.col("url").alias("key")
    ).select(
        "kind", "key",
        F.pmod(F.xxhash64("kind", "key"), F.lit(DIMS_BUCKETS)).alias("bucket"),
    ).write.mode("overwrite").partitionBy("kind", "bucket").parquet(
        os.path.join(work_dir, "bstore", "dims", "superstep=0")
    )
    incoming_dims = wave.select(
        F.lit("link").alias("kind"), F.col("url").alias("key")
    )
    plans["dims_merge_delta_bucketed"] = (
        dim_upsert_delta_bucketed(
            incoming_dims, bstore.bucketed_files("dims"), DIMS_BUCKETS
        ),
        [
            ("dims table absent from the plan: probe tasks point-read "
             "their bucket's files executor-side",
             lambda p: "bstore" not in p),
            ("TWO exchanges total — the wave's pre-distinct (whose "
             "partial HashAggregate collapses web-fan-out href repeats "
             "map-side, before any bytes cross the wire) plus the "
             "bucket repartition; no dims-side exchange",
             lambda p: p.count("Arguments: hashpartitioning") == 2
             and "HashAggregate" in p),
            ("probe is an Arrow-batched MapInPandas",
             lambda p: "MapInPandas" in p),
        ],
    )

    plans["dims_merge_delta"] = (
        dim_upsert_delta(
            seen.select(F.col("url").alias("key")),
            wave.select(F.col("url").alias("key")),
            "key",
        ),
        [
            (
                "dimension history never shuffle-exchanged; only the "
                "wave's distinct pays a shuffle",
                lambda p: p.count("Exchange hashpartitioning") <= 1
                and "BroadcastExchange" in p,
            ),
        ],
    )
    # the superstep's one Python pass: the crawl UDF extracts AND
    # resolves out-links in the cached extraction, so the harvest →
    # policy → within-delta dedup chain built over that cache (and the
    # seen anti-join / numbering above it) is JVM-only — each of its
    # references in the frontier write re-reads the cache, none
    # re-enters Python.
    from website_indexer_spark.operators.policy import CrawlPolicy
    from website_indexer_spark.plans.crawl import (
        harvest_candidates,
        number_in_one_task,
        route_and_extract,
        with_effective_status,
    )
    from website_indexer_spark.streaming.ingest import extract_stream

    fetched = spark.createDataFrame(
        [
            ("https://h.test/", b"<html><head><title>t</title></head>"
             b"<body><a href='/a/'>a</a></body></html>", 200, None,
             "text/html", "h.test", 0, 0),
            ("https://h.test/old", None, 301, "/a/", None, "h.test", 0, 1),
        ],
        "url string, html binary, status_code int, location string, "
        "content_type string, host string, depth int, discovery_seq long",
    )
    extracted = route_and_extract(
        with_effective_status(fetched), "h.test"
    ).persist()
    # the plan text is captured while the cache exists and the cache is
    # dropped at once, so no other audited plan can match it
    harvest_plan = formatted_plan(
        harvest_candidates(
            extracted, "h.test",
            CrawlPolicy(start_url="https://h.test/"), None, 0,
        )
    )
    # a small wave's frontier write as run_crawl composes it below both
    # thresholds: harvest deduped in one partition, the seen history
    # (committed rows plus the wave's keys) broadcast whole, one window
    frontier_plan = formatted_plan(
        number_in_one_task(
            anti_join_seen(
                harvest_candidates(
                    extracted, "h.test",
                    CrawlPolicy(start_url="https://h.test/"), None, 0,
                    partitions=1,
                ),
                seen.select("url_hash").unionByName(
                    fetched.select(F.xxhash64("url").alias("url_hash"))
                ),
                None,
                small_seen=True,
            ).select(
                "url", "host", "depth", "parent_url", "parent_host",
                "fetch_method", "parent_seq",
            ),
            1,
        ).select(*FRONTIER_SCHEMA.fieldNames())
    )
    extracted.unpersist()
    plans["crawl_harvest_jvm_only"] = (
        harvest_plan,
        [
            ("harvest reads the cached extraction, whose plan holds the "
             "superstep's one Python evaluator; no Python evaluator "
             "outside the InMemoryRelation",
             lambda p: python_nodes(p) == ["cached"]),
        ],
    )
    plans["crawl_frontier_one_exchange"] = (
        frontier_plan,
        [
            ("ONE shuffle exchange: the harvest's url exchange to a "
             "single partition; the within-delta dedup and the "
             "numbering window need no second one",
             lambda p: len(re.findall(
                 r"(?<!Broadcast)Exchange \(", tree_of(p))) == 1),
            ("the seen exclusion is one LeftAnti whose build side is "
             "the broadcast seen history; no LeftSemi through the "
             "seen ∪ wave-keys union",
             lambda p: "LeftAnti BuildRight" in p
             and "BroadcastExchange" in p and "LeftSemi" not in p),
        ],
    )
    # superstep 0 reads the seed wave and the empty seen and dims
    # history: driver rows that must plan JVM-local, since a Python RDD
    # runs one Python task per partition on every evaluation
    from website_indexer_spark.plans.crawl import _seed_frontier
    from website_indexer_spark.sources.tables import CrawlStore

    empty = CrawlStore(spark, os.path.join(work_dir, "empty_store"))
    # three plans in one section: a union of them would drop the empty
    # sides before planning
    plans["crawl_seed_jvm_only"] = (
        "\n".join(
            formatted_plan(df)
            for df in (
                _seed_frontier(spark, "https://h.test/", "h.test"),
                empty.read_all("seen"),
                empty.read_all("dims"),
            )
        ),
        [
            ("the seed wave and the empty seen and dims tables are each "
             "one LocalTableScan: no Python RDD (Scan ExistingRDD)",
             lambda p: "ExistingRDD" not in p
             and p.count("== Physical Plan ==\nLocalTableScan (1)\n\n") == 3),
        ],
    )
    # the streaming ingest routes with the batch superstep's plan
    # builders, so its pushed-down record_type filter reads the one
    # (nondeterministic) extraction instead of a copy of the UDF
    plans["extract_stream"] = (
        extract_stream(
            fetched.select(
                "url", "html", "status_code", "location", "content_type",
                F.lit(None).cast("timestamp").alias("warc_ts"),
            ),
            "h.test",
        ),
        [
            ("exactly one Arrow-batched Python evaluator: every page "
             "is parsed once",
             lambda p: tree_of(p).count("ArrowEvalPython") == 1
             and "BatchEvalPython" not in p),
        ],
    )
    return plans


def viewer_plans(spark, work_dir: str):
    """Plans of the viewer's JSON requests (plans/envelope.py) over a
    parquet pages table, as the crawl store serves it: a numbered page
    is one job only while the page query is a TakeOrderedAndProject
    directly over the CollectMetrics that counts the result, and the
    component/link searches are a row filter with no exchange.

    Returns name -> (DataFrame, checks)."""
    import datetime

    from pyspark.sql import Observation

    from website_indexer_spark.plans import envelope as E
    from website_indexer_spark.plans import queries as Q

    path = os.path.join(work_dir, "viewer_pages")
    spark.createDataFrame(
        [
            (datetime.datetime(2026, 2, 1, 10, 0, i), f"https://h.test/p{i}/",
             f"Page {i}", "en", "<html></html>", "text",
             ["/", f"https://ext.test/{i}"], ["o-hero", f"m-{i}"])
            for i in range(60)
        ],
        "timestamp timestamp, url string, title string, language string, "
        "html string, text string, links array<string>, "
        "components array<string>",
    ).write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)

    def json_page(params: dict, page: int = 2):
        qs, order, _ = E._pages_queryset(pages, params, rendering_csv=False)
        return E.counted_page(
            Q.with_scrubbed_titles(qs), order, page, Observation()
        )

    def page_over_count(p):
        tree = tree_of(p).splitlines()
        return (
            "TakeOrderedAndProject" in tree[1]
            and "CollectMetrics" in tree[2]
        )

    no_exchange = (
        "a row filter: no explode, no exchange",
        lambda p: "Exchange" not in p and "Generate" not in p,
    )
    one_job = (
        "TakeOrderedAndProject directly over the CollectMetrics that "
        "counts the result: the page job reads every row and observes "
        "the count",
        page_over_count,
    )
    return {
        "viewer_numbered_page": (json_page({"language": "en"}), [one_job]),
        "viewer_search_components": (
            json_page({"search_type": "components", "q": "O-HERO"}),
            [no_exchange, one_job],
        ),
        "viewer_search_links": (
            json_page({"search_type": "links", "q": "ext.test"}),
            [no_exchange, one_job],
        ),
        "viewer_component_list": (
            Q.component_list(pages),
            [("one exchange (the distinct), no range-partitioned sort",
              lambda p: tree_of(p).count("Exchange") == 1
              and "rangepartitioning" not in p)],
        ),
    }


def tree_of(plan: str) -> str:
    """The operator tree of a formatted plan (its first block)."""
    return plan.split("\n\n", 1)[0]


def formatted_plan(df) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def python_nodes(plan: str) -> list:
    """Each Python-evaluating node of the plan tree, in tree order:
    "cached" when it sits under an InMemoryRelation, else "live"."""
    tree = plan.split("\n\n", 1)[0].splitlines()
    out = []
    cache_depth = None
    for line in tree:
        depth = len(line) - len(line.lstrip(" |+-:*"))
        if cache_depth is not None and depth <= cache_depth:
            cache_depth = None
        if "InMemoryRelation" in line and cache_depth is None:
            cache_depth = depth
        elif "EvalPython" in line or "InPandas" in line:
            out.append("live" if cache_depth is None else "cached")
    return out


def stable_plan_text(plan: str, work_dir: str) -> str:
    """The plan as PLANS.md records it: expression ids (``#NNN``),
    ``plan_id=NNN``, RDD ids and observation names (random UUIDs)
    renumbered in order of appearance, and
    the temp work dir replaced by a fixed name, so regenerating PLANS.md
    only shows real plan changes. Checks still run on the raw text."""
    plan = plan.replace(work_dir, "/tmp/plan_audit")
    for pattern, fmt in (
        (r"#(\d+)", "#{}"),
        (r"plan_id=(\d+)", "plan_id={}"),
        (r"RDD\[(\d+)\]", "RDD[{}]"),
        (r"\b([0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12})\b", "observation-{}"),
    ):
        ids: dict = {}
        plan = re.sub(
            pattern,
            lambda m: fmt.format(ids.setdefault(m.group(1), len(ids))),
            plan,
        )
    return plan


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from website_indexer_spark.plans.catalog import SPARK_QUERIES
    from website_indexer_spark.sources.tables import build_spark

    spark = build_spark(app_name="explain-audit", master="local[4]",
                        shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    out = ["# PLANS.md — physical-plan audit of headline queries",
           "",
           f"Generated by tools/explain_audit.py over {sf_dir}.",
           "Each plan is the AQE initial plan; checks assert the",
           "scan pushdowns / codegen / join strategies the 100 TB",
           "design depends on.", ""]
    import tempfile

    failures = []
    sections = [(name, SPARK_QUERIES[name](spark, sf_dir), checks)
                for name, checks in CHECKS.items()]
    work = tempfile.mkdtemp(prefix="plan_audit_")
    sections += [
        (name, df, checks)
        for plans in (crawl_operator_plans, viewer_plans)
        for name, (df, checks) in plans(spark, work).items()
    ]
    for name, df, checks in sections:
        # a section holds a DataFrame, or the plan text already captured
        # for one whose cache is gone
        plan = df if isinstance(df, str) else formatted_plan(df)
        out.append(f"## {name}\n")
        for desc, pred in checks:
            ok = False
            try:
                ok = bool(pred(plan))
            except Exception:
                ok = False
            status = "PASS" if ok else "FAIL"
            out.append(f"- **{status}** {desc}")
            if not ok:
                failures.append((name, desc))
        out.append("\n```\n" + stable_plan_text(plan, work).strip() + "\n```\n")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md; {len(failures)} check failures")
    for name, desc in failures:
        print(f"  FAIL {name}: {desc}")
    spark.stop()


if __name__ == "__main__":
    main()
