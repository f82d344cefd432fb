"""Deduplication operators for training-data pipelines.

Five dedup families over a `(id, text)` document table (plus an
embedding-space variant in operators/similarity.py):

* exact            — hash-groupBy on md5(text); one shuffle on a
                     uniform key, no skew.
* n-gram Jaccard   — exact all-pairs similarity via shingle inverted
                     index (explode → self-join on shingle → count).
                     The ground truth the approximate methods target.
* MinHash + LSH    — banded signature join (Broder, "On the
                     resemblance and containment of documents", 1997;
                     banding per Leskovec/Rajaraman/Ullman MMDS ch.3):
                     documents collide iff one band of their MinHash
                     signature matches. Shuffle
                     is on (band, band-hash) — uniform — and the
                     candidate set is verified with exact Jaccard so
                     output precision is 1.0 (recall is the standard
                     1-(1-j^r)^b S-curve).
* SimHash          — 64-bit hyperplane sketch (Charikar, "Similarity
                     estimation techniques from rounding algorithms",
                     STOC 2002; used for web near-dup by Manku et al.,
                     WWW 2007); near-dup = Hamming distance <= d. Banded by bit-blocks (pigeonhole:
                     d < n_blocks forces >=1 exact block match) so the
                     join is equi, never a cross product.
* fingerprint      — winnowing overlap (functions/textstats.py).

All signatures are computed in one Arrow-batched pandas UDF pass
(numpy matrix ops per batch, no per-row Python); joins are DataFrame
equi-joins so Catalyst/AQE pick broadcast vs shuffled-hash and split
skewed keys. At 100 TB the shingle index dominates: shingle hashes
are uniform 64-bit keys, and ubiquitous shingles (stop phrases) are
capped with a document-frequency limit before the self-join — the
standard guard that keeps the inverted index from quadratic blowup.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct text: canonical (min) id + copy count.
    `md5` (not xxhash64) so any SQL engine reproduces the key."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The deduplicated table: keep the min-id row per distinct text.
    Window-free formulation: groupBy + self-join back on (hash, id),
    which AQE turns into a broadcast when the survivor set is small."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# --------------------------------------------------------------------
# Word n-gram shingles + exact Jaccard pairs
# --------------------------------------------------------------------

def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """Distinct word n-gram shingles per document as (doc, shingle).
    Built natively: split → slide a window via transform over indices.

    The tokenization is staged as its OWN projection so the window
    lambda's n references to the token array bind to a materialized
    column, not n inlined copies of the split: CollapseProject keeps
    the stage (it refuses to duplicate non-cheap expressions), whereas
    a single fused expression re-split the text once per element_at —
    O(tokens^2) work per document (measured 3-4x on real corpora).

    Tiny inputs (one small parquet file -> one scan partition) would
    serialize the whole explosion into a single task; FileSourceScan
    can't split below one file, so fan the rows out to the session
    default parallelism first. The repartition shuffle moves only the
    raw text once — free next to the explosion it unlocks; at real
    scale inputs arrive in many files and the branch is a no-op.
    """
    src = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_text"))
    if src.rdd.getNumPartitions() < df.sparkSession.sparkContext.defaultParallelism:
        src = src.repartition(df.sparkSession.sparkContext.defaultParallelism)
    toks = F.filter(F.split(F.trim(F.col("_text")), r"\s+"), lambda t: t != "")
    staged = src.select("doc", toks.alias("_toks"))
    tcol = F.col("_toks")
    grams = F.when(
        F.size(tcol) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tcol) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tcol, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return staged.select(
        "doc",
        F.explode(F.array_distinct(grams)).alias("shingle"),
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    max_shingle_df: Optional[int] = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold via inverted index.

    |A∩B| from the shingle self-join, |A|,|B| from per-doc counts;
    j = common/(|A|+|B|-common). `max_shingle_df` drops shingles that
    appear in more than that many docs before pairing — at corpus
    scale a handful of stop-shingles would otherwise dominate the
    join output quadratically.
    """
    sh = shingles(df, id_col, text_col, n)
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_shingles"))

    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --------------------------------------------------------------------
# MinHash signatures + banded LSH
# --------------------------------------------------------------------

_MERSENNE = np.uint64((1 << 61) - 1)


_U64 = (1 << 64) - 1


def _fnv1a(s: str) -> int:
    acc = 0xCBF29CE484222325
    for byte in s.encode("utf-8"):
        acc = ((acc ^ byte) * 0x100000001B3) & _U64
    return acc


def _hash_tokens_to_u64(vals) -> np.ndarray:
    # stable 64-bit hash of token/shingle strings (FNV-1a); cached per
    # value — the vocab of a batch is far smaller than its token count
    cache = {}
    out = np.empty(len(vals), dtype=np.uint64)
    for i, v in enumerate(vals):
        h = cache.get(v)
        if h is None:
            cache[v] = h = _fnv1a(v)
        out[i] = h
    return out


def _minhash_params(num_hashes: int, seed: int) -> tuple:
    rng = np.random.default_rng(seed)  # seeded => deterministic
    a = rng.integers(1, (1 << 61) - 1, size=num_hashes, dtype=np.uint64)
    b = rng.integers(0, (1 << 61) - 1, size=num_hashes, dtype=np.uint64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 64,
    seed: int = 7,
) -> DataFrame:
    """(doc, signature:array<long>) — one pandas-UDF pass; per batch
    the shingle hashing is vectorized and each doc's signature is a
    min over an (num_hashes, n_shingles) matrix."""
    a_par, b_par = _minhash_params(num_hashes, seed)

    out_schema = T.StructType(
        [
            T.StructField("doc", T.LongType()),
            T.StructField("signature", T.ArrayType(T.LongType())),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs, sigs = [], []
            for doc, text in zip(pdf["doc"], pdf["text"]):
                toks = text.split() if text else []
                grams = {
                    " ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))
                }
                if not grams:
                    docs.append(doc)
                    sigs.append([0] * len(a_par))
                    continue
                h = _hash_tokens_to_u64(sorted(grams)) & _MERSENNE
                # (num_hashes, n_grams) permutation values mod Mersenne
                vals = (a_par[:, None] * h[None, :] + b_par[:, None]) % _MERSENNE
                sig = vals.min(axis=1).astype(np.int64)
                docs.append(doc)
                sigs.append(sig.tolist())
            yield pd.DataFrame({"doc": docs, "signature": sigs})

    src = df.select(
        F.col(id_col).cast("long").alias("doc"), F.col(text_col).alias("text")
    )
    return src.mapInPandas(compute, out_schema)


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """Band the signature: docs pair iff some band's row-slice hashes
    equal. posexplode over band slices → groupBy (band, band_hash) —
    a uniform shuffle key — then pair within small buckets."""
    banded = signatures.select(
        "doc",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("signature", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def pairwise_jaccard_udf(n: int):
    """Vectorized exact n-gram Jaccard over (text_a, text_b) pairs.
    Python set math per pair — but it runs ONLY on LSH candidate
    pairs (a vanishing fraction of the corpus at scale), never on the
    full cross product."""
    from pyspark.sql.functions import pandas_udf

    def grams(t: Optional[str]) -> set:
        toks = t.split() if t else []
        return {
            " ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))
        }

    @pandas_udf("double")
    def jac(text_a: pd.Series, text_b: pd.Series) -> pd.Series:
        out = []
        for ta, tb in zip(text_a, text_b):
            ga, gb = grams(ta), grams(tb)
            union = len(ga) + len(gb) - len(ga & gb)
            out.append(len(ga & gb) / union if union else 0.0)
        return pd.Series(out)

    return jac


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    bands: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    seed: int = 7,
) -> DataFrame:
    """MinHash LSH near-dup pairs: banded-signature candidates, then
    pair-local exact Jaccard verification — so the output is
    `LSH-candidates ∩ (jaccard >= threshold)`: precision 1, recall =
    1-(1-j^r)^b (≈1 for j well above threshold). Verification cost is
    O(candidates), not O(n²): only colliding pairs fetch texts."""
    sigs = minhash_signatures(
        df, id_col, text_col, n=n, num_hashes=bands * rows_per_band, seed=seed
    )
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band)
    texts = df.select(
        F.col(id_col).cast("long").alias("doc"), F.col(text_col).alias("text")
    )
    pairs = cands.join(
        texts.withColumnsRenamed({"doc": "doc_a", "text": "_text_a"}), "doc_a"
    ).join(texts.withColumnsRenamed({"doc": "doc_b", "text": "_text_b"}), "doc_b")
    jac = pairwise_jaccard_udf(n)
    return (
        pairs.withColumn("jaccard", jac(F.col("_text_a"), F.col("_text_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------

SIMHASH_BITS = 64


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, simhash:long): sign-sum of token-hash bit vectors."""

    out_schema = T.StructType(
        [
            T.StructField("doc", T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    )

    bit_masks = np.uint64(1) << np.arange(SIMHASH_BITS, dtype=np.uint64)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs, sims = [], []
            for doc, text in zip(pdf["doc"], pdf["text"]):
                toks = text.split() if text else []
                docs.append(doc)
                if not toks:
                    sims.append(0)
                    continue
                h = _hash_tokens_to_u64(toks)
                # (n_tokens, 64) bit matrix -> column sums vs n/2
                bits = (h[:, None] & bit_masks[None, :]) != 0
                votes = bits.sum(axis=0) * 2 >= len(toks)
                val = np.uint64(0)
                for i in np.nonzero(votes)[0]:
                    val |= bit_masks[i]
                sims.append(int(val.astype(np.int64)))
            yield pd.DataFrame({"doc": docs, "simhash": sims})

    src = df.select(
        F.col(id_col).cast("long").alias("doc"), F.col(text_col).alias("text")
    )
    return src.mapInPandas(compute, out_schema)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    blocks: int = 8,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole banding: split 64 bits into `blocks` blocks; any pair
    within distance < blocks shares at least one identical block, so
    candidates come from an equi-join on (block_idx, block_bits) and
    the exact popcount check runs only on collisions.
    """
    assert max_hamming < blocks, "pigeonhole needs max_hamming < blocks"
    width = SIMHASH_BITS // blocks
    sigs = simhash_signatures(df, id_col, text_col)
    banded = sigs.select(
        "doc",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("block", "block_bits"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.block_bits") == F.col("b.block_bits"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------
# Span-level exact substring dedup (Lee et al., "Deduplicating
# Training Data Makes Language Models Better", ACL 2022 — the
# ExactSubstr method, re-expressed relationally). Instead of the
# paper's suffix array, duplicated regions are found as runs of
# L-token shingles whose corpus-wide occurrence count is >= 2: any
# duplicated substring of >= L tokens is covered by such shingles,
# and merging overlapping shingle hits per document reconstructs the
# maximal duplicated spans.
#
# Scale shape: ONE corpus-wide shuffle keyed by the shingle string
# (uniform after partial agg — within-partition repeats combine
# map-side), one equi-join back (positions x counts on the same key),
# then a per-document window (partitioned by doc_id — documents are
# the unit of parallelism, so no giant partition) and a (doc, island)
# groupBy. No self-join, no all-pairs, no suffix array to hold in
# memory. 100 TB = same plan with more shuffle partitions.
# --------------------------------------------------------------------

SPAN_SHINGLE_TOKENS = 5


def _shingle_positions(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc, pos, shingle) for every token position 0..n_tokens-L;
    pos is the 0-based index of the shingle's first token. Tokenizes
    in its OWN projection so the O(doc) split runs once, not once per
    reference in the gram lambda (Catalyst keeps a multi-use
    non-cheap alias as a real projection)."""
    toked = df.select(
        F.col(id_col).alias("doc"),
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
        ).alias("_toks"),
    )
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked.select(
        "doc", F.posexplode(grams).alias("pos", "shingle")
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_tokens: int = SPAN_SHINGLE_TOKENS,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans per document.

    A position is duplicated when its L-token shingle occurs
    >= min_count times corpus-wide (within- and cross-document
    repeats both count — same convention as the released ExactSubstr
    tool, which deduplicates a self-concatenated corpus). Overlapping
    and touching hits merge into maximal [span_start, span_end) token
    intervals.

    Output: (id_col, span_start, span_end, n_shingles) with
    span_end exclusive and n_shingles the number of duplicated
    shingle positions the span absorbed.
    """
    from pyspark.sql import Window

    pos = _shingle_positions(df, id_col, text_col, shingle_tokens)
    counts = (
        pos.groupBy("shingle")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("shingle")
    )
    hits = pos.join(counts, "shingle").select("doc", "pos")
    w = Window.partitionBy("doc").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + shingle_tokens).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.select(
        "doc",
        "pos",
        F.sum(
            F.when(
                prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    return (
        islands.groupBy("doc", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + shingle_tokens).alias("span_end"),
            F.count("*").alias("n_shingles"),
        )
        .select(
            F.col("doc").alias(id_col), "span_start", "span_end", "n_shingles"
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_tokens: int = SPAN_SHINGLE_TOKENS,
    min_count: int = 2,
) -> DataFrame:
    """Rebuild each document's text with every duplicated span's
    tokens removed (ALL occurrences — the released ExactSubstr tool's
    documented approximation; a keep-one policy needs a global
    occurrence order, which a later exact-dedup pass restores more
    cheaply). Documents with no duplicated spans pass through
    verbatim (token-normalized: single-space joined).

    Output: (id_col, clean_text, n_tokens_removed).
    """
    spans = duplicate_spans(
        df, id_col, text_col, shingle_tokens, min_count
    ).groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    with_spans = df.select(F.col(id_col), toks.alias("_toks")).join(
        spans, id_col, "left"
    )
    covered = lambda i: F.exists(  # noqa: E731 — 0-based token index i
        F.col("_spans"),
        lambda s: (i >= s.span_start) & (i < s.span_end),
    )
    kept = F.when(F.col("_spans").isNull(), F.col("_toks")).otherwise(
        F.filter(F.col("_toks"), lambda t, i: ~covered(i))
    )
    # materialize the O(tokens x spans) cut once — it feeds both the
    # join and the removed-count (multi-use alias stays a projection)
    pruned = with_spans.select(
        F.col(id_col), F.col("_toks"), kept.alias("_kept")
    )
    return pruned.select(
        F.col(id_col),
        F.array_join("_kept", " ").alias("clean_text"),
        (F.size("_toks") - F.size("_kept")).alias("n_tokens_removed"),
    )


# --------------------------------------------------------------------
# Incremental (cross-snapshot) dedup
# --------------------------------------------------------------------

def dedup_against_snapshot(
    increment: DataFrame,
    snapshot: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-dump dedup: rows of ``increment`` that survive against an
    already-published corpus ``snapshot`` — the per-crawl shape of a
    rolling Common-Crawl-style pipeline, where each new dump dedupes
    first within itself, then against everything shipped before.

    Two stages, both uniform-key equi-joins on md5(text):

    1. in-increment exact dedup (keep the min-id row per distinct
       text — otherwise two copies NEW in this dump both survive);
    2. LEFT ANTI join against the snapshot's distinct content hashes.

    Scale shape: the snapshot side projects to the 16-byte hash at the
    scan (never carries text), both sides partial-aggregate before the
    exchange, and the key is a cryptographic hash so the join is
    skew-free by construction. At 10^10-document scale the snapshot's
    hash set is exactly the seen-set problem, so a deployment stores
    it hash-bucketed like the crawl's seen table
    (sources/tables.py bucket layout) and the anti-join goes
    storage-partitioned — same machinery, content hash instead of URL
    hash. This operator is the lazy/relational form; the bucketed
    form is `operators/frontier.py::anti_join_seen_bucketed` with
    key_col=md5(text).
    """
    fresh = exact_dedup(increment, id_col, text_col)
    seen_hashes = snapshot.select(
        F.md5(F.col(text_col)).alias("text_hash")
    ).dropDuplicates(["text_hash"])
    return fresh.join(
        seen_hashes,
        F.md5(F.col(text_col)) == F.col("text_hash"),
        "left_anti",
    )


def write_snapshot_hash_layout(
    snapshot: DataFrame,
    path: str,
    n_buckets: int,
    text_col: str = "text",
) -> None:
    """Materialize a snapshot's content-hash set in the crawl seen
    table's physical layout: ``bucket=B`` partition dirs holding the
    distinct ``xxhash64(text)`` keys whose ``pmod(hash, n_buckets)``
    is B — one task per bucket, one sorted-readable file per bucket.
    This is what a rolling-dump deployment maintains between dumps
    (Iceberg: ``bucket(N, content_hash)`` partition transform); the
    increment then probes it storage-partitioned via
    ``dedup_against_snapshot_bucketed`` without the snapshot ever
    entering a Spark plan."""
    keys = (
        snapshot.select(F.xxhash64(F.col(text_col)).alias("content_hash"))
        .dropDuplicates(["content_hash"])
        .withColumn(
            "bucket", F.pmod(F.col("content_hash"), F.lit(n_buckets))
        )
        .repartition(n_buckets, F.col("bucket"))
    )
    keys.write.mode("overwrite").partitionBy("bucket").parquet(path)


def dedup_against_snapshot_bucketed(
    increment: DataFrame,
    bucket_files: dict,
    n_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Above-threshold form of ``dedup_against_snapshot``: the
    published snapshot's content-hash set lives in the hash-bucketed
    layout ``write_snapshot_hash_layout`` writes, and the increment
    probes it with the crawl's storage-partitioned seen machinery
    (``frontier.exclude_keys_bucketed`` — probe-side-only exchange,
    executor-side point reads, snapshot absent from the Spark plan).

    Key protocol: xxhash64(text), the same 64-bit channel as the URL
    seen set. A hash collision drops a unique doc — at 10^10 docs the
    birthday expectation is ~3 falsely-dropped documents total, the
    accepted trade of every 64-bit content-dedup deployment; the
    md5-keyed relational form (``dedup_against_snapshot``) remains
    the exact-semantics oracle and the two are asserted identical on
    collision-free corpora (tests/test_webpipeline.py)."""
    from website_indexer_spark.operators.frontier import (
        exclude_keys_bucketed,
    )

    fresh = exact_dedup(increment, id_col, text_col)
    keyed = fresh.withColumn(
        "content_hash", F.xxhash64(F.col(text_col))
    )
    return exclude_keys_bucketed(
        keyed, bucket_files, n_buckets, key="content_hash"
    ).drop("content_hash")


# --------------------------------------------------------------------
# Paragraph-level (line-level) corpus-wide dedup — the Dolma/FineWeb
# "paragraph dedup" stage: a boilerplate line (nav text, footer,
# cookie banner) is kept only at its FIRST occurrence corpus-wide and
# cut from every later document. First = smallest (doc id, position)
# — a total, engine-portable order.
# --------------------------------------------------------------------


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    wrap_tokens: int = 10,
) -> DataFrame:
    """Rebuild every doc with later duplicate lines removed.

    Output: (id_col, n_lines, n_kept, text) — text is the surviving
    lines rejoined by newlines in original order; docs that lose every
    line (or had none) survive with text = ''.

    Plan (three exchanges, each defensible at 100 TB):
    1. posexplode the line array (narrow; line derivation =
       `textstats.wrapped_lines`, shared with the repetition family);
    2. per-line first occurrence via groupBy(line).agg(min(struct(id,
       pos))) — a partial (map-side) aggregate, so a line duplicated
       10^9 times collapses to one row per map task BEFORE the
       exchange: mega-dup skew dies in the combiner, not the shuffle;
    3. inner equi-join of the exploded lines against the firsts table
       (N:1). The probe side is skewed by construction (that is the
       point), the build side is distinct lines — AQE's skew-join
       split handles the probe; at 10^10-doc scale the firsts table
       is the seen-set problem and a deployment stores it
       hash-bucketed (exclude_keys_bucketed with key=xxhash64(line),
       the `dedup_against_snapshot_bucketed` pattern);
    4. per-doc reassembly groupBy(id) with sort_array(collect_list(
       struct(pos, line))) — bounded by document size.

    The join key is the full line string (exact semantics); the
    shuffle carries each distinct line twice. A deployment trading
    exactness for bytes keys on xxhash64(line) — 64-bit collisions
    silently merge two lines, the same trade the crawl seen set
    documents.
    """
    lines, totals = _line_rows(df, id_col, text_col, wrap_tokens)
    kept = _first_occurrences(lines)
    return _rebuild_docs(totals, kept, id_col)


def _line_rows(df, id_col, text_col, wrap_tokens):
    """(lines, totals): lines = one row per (doc, pos, line), totals =
    per-doc line count (zero-line docs included). Line derivation =
    `textstats.wrapped_lines`, tokenized once in an owned projection."""
    from website_indexer_spark.functions.textstats import (
        tokens,
        wrapped_lines,
    )

    text = F.col(text_col)
    toked = df.select(
        F.col(id_col).alias("_doc"),
        text.alias("_text"),
        tokens(text).alias("_toks"),
    )
    larr = wrapped_lines(F.col("_text"), wrap_tokens, toks=F.col("_toks"))
    lines = toked.select(
        "_doc", F.posexplode(larr).alias("pos", "line")
    )
    totals = toked.select("_doc", F.size(larr).alias("n_lines"))
    return lines, totals


def _first_occurrences(lines: DataFrame) -> DataFrame:
    """Rows of `lines` that are their line's corpus-wide first
    (smallest (doc, pos)) occurrence. Partial-aggregated firsts, then
    an N:1 equi probe (AQE-skew-splittable)."""
    firsts = lines.groupBy("line").agg(
        F.min(F.struct(F.col("_doc"), F.col("pos"))).alias("first")
    )
    return (
        lines.join(firsts, "line")
        .filter(
            (F.col("_doc") == F.col("first._doc"))
            & (F.col("pos") == F.col("first.pos"))
        )
        .select("_doc", "pos", "line")
    )


def _rebuild_docs(totals: DataFrame, kept: DataFrame, id_col: str) -> DataFrame:
    """One doc-keyed exchange: surviving lines back into documents in
    original position order; docs that lost every line survive with
    text = ''."""
    rebuilt = kept.groupBy("_doc").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s.getField("line"),
            ),
            "\n",
        ).alias("text"),
    )
    return (
        totals.join(rebuilt, "_doc", "left")
        .select(
            F.col("_doc").alias(id_col),
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
        )
    )


def dedup_paragraphs_against_snapshot(
    increment: DataFrame,
    snapshot: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    wrap_tokens: int = 10,
) -> DataFrame:
    """Rolling-dump paragraph dedup: lines of the new increment are
    dropped if the published snapshot already contains them ANYWHERE,
    then the survivors go through in-increment first-occurrence dedup
    — the per-dump stage of a Dolma/FineWeb-style pipeline that keeps
    boilerplate from re-entering the corpus with every crawl.

    Output shape = `dedup_paragraphs` (id, n_lines, n_kept, text).

    Plan: snapshot side projects to DISTINCT lines (partial-agg, text
    of the snapshot never shuffles as documents), the drop is a LEFT
    ANTI equi join on the line string, and the increment-internal
    pass reuses `_first_occurrences`. At 10^10 docs the snapshot's
    line set is the seen-set problem — the bucketed form below stores
    it hash-bucketed and probes it storage-partitioned, exactly like
    the content-hash and URL seen sets."""
    inc_lines, totals = _line_rows(increment, id_col, text_col, wrap_tokens)
    snap_lines = (
        _line_rows(snapshot, id_col, text_col, wrap_tokens)[0]
        .select("line")
        .dropDuplicates(["line"])
    )
    survivors = inc_lines.join(snap_lines, "line", "left_anti")
    kept = _first_occurrences(survivors)
    return _rebuild_docs(totals, kept, id_col)


def write_snapshot_line_layout(
    snapshot: DataFrame,
    path: str,
    n_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    wrap_tokens: int = 10,
) -> None:
    """Materialize the snapshot's distinct line-hash set in the seen
    table's bucket layout (one xxhash64(line) per distinct line,
    bucket = pmod(hash, n_buckets)) — what a rolling deployment
    maintains between dumps for paragraph-level dedup. Reuses
    `write_snapshot_hash_layout` with the exploded line relation."""
    lines, _ = _line_rows(snapshot, id_col, text_col, wrap_tokens)
    write_snapshot_hash_layout(lines, path, n_buckets, text_col="line")


def dedup_paragraphs_against_snapshot_bucketed(
    increment: DataFrame,
    bucket_files: dict,
    n_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    wrap_tokens: int = 10,
) -> DataFrame:
    """Above-threshold form of `dedup_paragraphs_against_snapshot`:
    the snapshot's line-hash set lives in the bucketed layout
    `write_snapshot_line_layout` writes and the increment's exploded
    lines probe it via `frontier.exclude_keys_bucketed` — probe-side-
    only exchange, executor-side point reads, snapshot absent from
    the Spark plan. Key protocol: xxhash64(line) (the 64-bit
    collision trade documented on `dedup_against_snapshot_bucketed`);
    the string-keyed relational form stays the semantics oracle and
    the two are asserted identical on collision-free corpora."""
    from website_indexer_spark.operators.frontier import (
        exclude_keys_bucketed,
    )

    inc_lines, totals = _line_rows(increment, id_col, text_col, wrap_tokens)
    keyed = inc_lines.withColumn(
        "content_hash", F.xxhash64(F.col("line"))
    )
    survivors = exclude_keys_bucketed(
        keyed, bucket_files, n_buckets, key="content_hash"
    ).drop("content_hash")
    kept = _first_occurrences(survivors)
    return _rebuild_docs(totals, kept, id_col)
