"""Frontier-state operators: URL-seen dedup, striped Bloom prefilter,
politeness budgets, skew salting, and distributed ordered enumeration.

These are the custom physical operators SURVEY.md §4.2 calls out — all
composed from DataFrame built-ins except the Bloom filter build/probe,
which is Arrow-batched pandas (numpy bit ops, no per-row Python).

Reference analogues:
* seen-set: plugin.py:104-106's ``requested_urls`` list + the
  (crawl,url) unique constraint (models.py:77-79)
* politeness: wpull --wait serial pacing (wpull/crawler.py:36-41),
  re-expressed as a per-host budget per superstep

Scale design (the 10^10-seen-URL story):

* ``exclude_keys`` never shuffles the big (seen/deferred) side: the
  wave's keys are broadcast, the big side streams map-side through a
  LeftSemi BuildRight, and only the (wave-bounded) hits come back to
  build the final LeftAnti. No ``.distinct()`` — seen deltas are
  unique by construction (they are post-anti-join selected waves), so
  re-aggregating 10^10 rows per superstep would be pure waste.
* ``StripedBloom`` is persistent and incremental: per-bucket bitmap
  files under the crawl store, OR-updated with each wave's (small)
  seen delta instead of being rebuilt from the full history, and
  auto-sized from the manifest's cumulative seen count. No driver
  ever holds the whole filter: updates merge one bucket at a time
  and probes lazily load only the buckets a task actually touches.
  False positives only cost an exact-join probe; false negatives are
  impossible for committed keys (bitmaps are written before the
  superstep's manifest commit, so the filter is always a superset of
  the committed seen set — crash-safe by construction).
"""

from __future__ import annotations

import json
import os
from typing import Iterator, List, Optional, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from website_indexer_spark.sources.tables import local_frame, write_json_atomic

URL_HASH = lambda col: F.xxhash64(col)  # noqa: E731 — canonical url hash


# --------------------------------------------------------------------
# Exact seen-set dedup (A3) without shuffling the seen side
# --------------------------------------------------------------------

def exclude_keys(
    df: DataFrame,
    exclude: DataFrame,
    key: Union[str, List[str]],
    broadcast_df: bool = True,
    small_exclude: bool = False,
) -> DataFrame:
    """Rows of ``df`` whose ``key`` (a column name, or a list of them)
    does not appear in ``exclude``. The seen exclusion and the dims
    MERGE (``dims.dim_upsert_delta``) both pick their strategy here.

    small_exclude=True: the whole exclude side broadcasts into ONE
    LeftAnti(BuildRight) that streams ``df``. ``df`` appears once in
    the plan and keeps its partitioning, and the broadcast does not
    depend on ``df``, so it runs beside whatever computes ``df``. Right
    while the history fits a broadcast.

    broadcast_df=True (the wave-sized default): the huge exclude side
    is NEVER shuffled — ``df``'s keys broadcast into a LeftSemi that
    streams the exclude scan map-side, and only the hits (bounded by
    ``df``'s size) are broadcast back into the final LeftAnti. Both
    joins are BroadcastHashJoin BuildRight; the exclude table sees one
    sequential scan and zero exchanges.

    broadcast_df=False: a plain shuffled left_anti on ``key``, for
    callers without a bucketed table where both sides are big (the
    catalog's ``q_dimension_upsert``). The crawl never takes it: above
    the broadcast threshold it probes the key-bucketed seen and dims
    layouts storage-partitioned (``exclude_keys_bucketed``,
    ``dims.dim_upsert_delta_bucketed``), and the store keeps those
    layouts bucketed (``CrawlStore.rollback_uncommitted``).
    """
    if small_exclude:
        return df.join(F.broadcast(exclude.select(key)), key, "left_anti")
    if broadcast_df:
        hits = exclude.select(key).join(
            F.broadcast(df.select(key)), key, "left_semi"
        )
        return df.join(F.broadcast(hits), key, "left_anti")
    return df.join(exclude.select(key), key, "left_anti")


# --------------------------------------------------------------------
# Storage-partitioned anti-join (the non-broadcast scale path)
# --------------------------------------------------------------------

# per-executor-worker cache of (sorted) hash columns read from seen
# bucket files. Keyed by path; entries validated by (mtime, size) —
# delta files are immutable once written, so this only evicts when
# compaction rewrites a path.
_HASHFILE_CACHE: dict = {}


def _load_sorted_hash_file(path: str, column: str) -> np.ndarray:
    st = os.stat(path)
    tag = (st.st_mtime_ns, st.st_size)
    hit = _HASHFILE_CACHE.get(path)
    if hit is not None and hit[0] == tag:
        return hit[1]
    import pyarrow.parquet as pq

    arr = (
        pq.read_table(path, columns=[column])[column]
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    arr.sort()
    _HASHFILE_CACHE[path] = (tag, arr)
    return arr


def exclude_keys_bucketed(
    df: DataFrame,
    bucket_files: dict,
    n_buckets: int,
    key: str = "url_hash",
) -> DataFrame:
    """Rows of ``df`` whose ``key`` is NOT present in a hash-bucketed
    parquet layout (``bucket_files``: bucket id -> list of parquet
    paths whose ``key`` column holds that bucket's committed keys,
    bucket = pmod(key, n_buckets) — the layout CrawlStore
    writes for the seen table and Iceberg's ``bucket(N, url_hash)``
    partition transform writes at deployment).

    This is the storage-partitioned join: the ONLY exchange in the
    plan is the probe side's repartition by bucket — the seen table
    never appears as a Spark scan at all. Each task point-reads just
    the bucket files its rows map to (executor-side pyarrow against
    shared storage, the same channel StripedBloom's probe uses), so
    seen-side I/O is 1/n_buckets of the table per task and zero rows
    of it ever cross the network. Exact, not probabilistic: membership
    is tested against the full sorted hash column.

    Memory: one task holds one bucket's hash column (~8 bytes/key —
    10^10 seen keys at n_buckets=4096 is ~20 MB/task); scale n_buckets
    with the table, it only changes the layout's fan-out.
    """
    files_by_bucket = {
        int(b): tuple(paths) for b, paths in bucket_files.items()
    }
    nb = n_buckets

    def drop_present(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        merged: dict = {}

        def bucket_array(b: int) -> np.ndarray:
            arr = merged.get(b)
            if arr is None:
                parts = [
                    _load_sorted_hash_file(p, key)
                    for p in files_by_bucket.get(b, ())
                ]
                if parts:
                    arr = np.concatenate(parts)
                    arr.sort()
                else:
                    arr = np.empty(0, dtype=np.int64)
                merged[b] = arr
            return arr

        for pdf in batches:
            if len(pdf) == 0:
                continue
            hashes = pdf[key].to_numpy(dtype=np.int64)
            buckets = _bucket_of(hashes, nb)
            keep = np.ones(len(pdf), dtype=bool)
            for b in np.unique(buckets):
                arr = bucket_array(int(b))
                if len(arr) == 0:
                    continue
                sel = buckets == b
                sub = hashes[sel]
                idx = np.minimum(
                    np.searchsorted(arr, sub), len(arr) - 1
                )
                keep[sel] = arr[idx] != sub
            out = pdf[keep]
            if len(out):
                yield out

    # the one exchange: co-partition the probe side with the storage
    # layout so each task touches ~1 bucket's files
    part = df.repartition(nb, F.pmod(F.col(key), F.lit(nb)))
    return part.mapInPandas(drop_present, df.schema)


def anti_join_seen_bucketed(
    frontier: DataFrame,
    bucket_files: dict,
    n_buckets: int,
    extra_exclude: Optional[DataFrame] = None,
    bloom: Optional["StripedBloom"] = None,
    broadcast_extra: bool = True,
) -> DataFrame:
    """A3 dedup for accepted deltas ABOVE the broadcast threshold: the
    committed seen history is excluded via the storage-partitioned
    ``exclude_keys_bucketed`` (no seen-side scan or exchange), then the
    current wave's not-yet-committed seen delta (``extra_exclude``,
    wave-bounded) via a broadcast anti-join. Exact final seen set, same
    result as ``anti_join_seen`` — only the physical strategy differs."""
    f = frontier.withColumn("url_hash", URL_HASH(F.col("url")))
    if bloom is not None:
        maybe = bloom.probe_udf()
        fast = f.filter(~maybe(F.col("url_hash")))
        slow = exclude_keys_bucketed(
            f.filter(maybe(F.col("url_hash"))), bucket_files, n_buckets
        )
        f = fast.unionByName(slow)
    else:
        f = exclude_keys_bucketed(f, bucket_files, n_buckets)
    if extra_exclude is not None:
        ex = extra_exclude.select("url_hash")
        if broadcast_extra:
            ex = F.broadcast(ex)
        f = f.join(ex, "url_hash", "left_anti")
    return f.drop("url_hash")


def anti_join_seen(
    frontier: DataFrame,
    seen: DataFrame,
    bloom: Optional["StripedBloom"] = None,
    broadcast_frontier: bool = True,
    small_seen: bool = False,
) -> DataFrame:
    """A3 request-once dedup: frontier rows not in the seen set.

    With a StripedBloom prefilter only maybe-seen rows pay the exact
    check; definitely-unseen rows bypass it (no false negatives for
    committed keys, so the final seen set stays EXACT). The exact
    check uses ``exclude_keys``: with ``small_seen`` the whole seen
    history broadcasts into one LeftAnti; otherwise the seen side
    streams map-side unshuffled whenever the candidate delta is
    broadcastable.
    """
    f = frontier.withColumn("url_hash", URL_HASH(F.col("url")))
    seen_keys = seen.select("url_hash")
    if bloom is None:
        return exclude_keys(
            f, seen_keys, "url_hash", broadcast_frontier, small_seen
        ).drop("url_hash")
    maybe = bloom.probe_udf()
    fast_path = f.filter(~maybe(F.col("url_hash")))
    slow_path = exclude_keys(
        f.filter(maybe(F.col("url_hash"))),
        seen_keys,
        "url_hash",
        broadcast_frontier,
        small_seen,
    )
    return fast_path.unionByName(slow_path).drop("url_hash")


# --------------------------------------------------------------------
# Striped persistent Bloom filter (SURVEY.md §4.2.2)
# --------------------------------------------------------------------

BLOOM_K = 4  # hash probes per key
BLOOM_BITS_PER_KEY = 10  # ~1% false-positive rate at k=4
BLOOM_MIN_BUCKET_BITS = 1 << 13  # floor so tiny crawls get sane files

# per-executor-worker bitmap cache: path -> (version, {bucket: ndarray})
_BLOOM_CACHE: dict = {}


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64-style avalanche so bit positions are independent of
    the bucket id (bucket = raw hash mod n_buckets)."""
    z = h.astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _bloom_positions(hashes: np.ndarray, nbits: int) -> Iterator[np.ndarray]:
    h = _mix64(hashes)
    h1 = h
    h2 = (h * np.uint64(0x9E3779B97F4A7C15)) ^ (h >> np.uint64(29))
    h2 = h2 | np.uint64(1)
    for i in range(BLOOM_K):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(nbits)).astype(np.int64)


def _bucket_of(hashes: np.ndarray, n_buckets: int) -> np.ndarray:
    # matches Spark's pmod(url_hash, n_buckets): non-negative remainder
    return (hashes.astype(np.int64) % np.int64(n_buckets)).astype(np.int64)


def _set_bits(bitmap: np.ndarray, hashes: np.ndarray, nbits: int) -> None:
    for pos in _bloom_positions(hashes, nbits):
        np.bitwise_or.at(
            bitmap, pos >> 3, (np.uint8(1) << (pos & 7).astype(np.uint8))
        )


class StripedBloom:
    """Persistent, incrementally-updated, bucket-striped Bloom filter
    over ``url_hash`` keys, stored in one directory (a crawl keeps it
    at ``<store>/bloom``) as one bitmap file per bucket,
    ``bucket=<b>.bin``, plus a ``meta.json``.

    * build/update: distributed partial bitmaps (mapInPandas, one row
      per (input-partition, bucket)) OR-merged one bucket at a time —
      the driver's peak memory is a single bucket's bitmap, not the
      whole filter.
    * probe: a vectorized pandas UDF that lazily loads only the
      buckets present in its Arrow batch (per-worker cache keyed by
      filter version). Repartitioning the probe side by
      ``pmod(url_hash, n_buckets)`` bounds any one task to ~1 bucket;
      without it correctness is unchanged, only worker cache footprint
      grows. Bucket files live in the crawl store (shared storage on
      a cluster), so executors read them directly — nothing is
      broadcast from the driver.
    """

    def __init__(
        self, path: str, n_buckets: int, bucket_bits: int, version: int, built_keys: int
    ):
        self.path = path
        self.n_buckets = n_buckets
        self.bucket_bits = bucket_bits
        self.version = version
        self.built_keys = built_keys

    # --- layout ---------------------------------------------------
    def _bucket_path(self, bucket: int) -> str:
        return os.path.join(self.path, f"bucket={bucket}.bin")

    # --- lifecycle ------------------------------------------------
    @classmethod
    def load(cls, path: str) -> Optional["StripedBloom"]:
        """The filter stored in directory ``path``, or None."""
        meta_path = os.path.join(path, "meta.json")
        if not os.path.exists(meta_path):
            return None
        with open(meta_path) as f:
            meta = json.load(f)
        return cls(
            path,
            meta["n_buckets"],
            meta["bucket_bits"],
            meta["version"],
            meta["built_keys"],
        )

    @classmethod
    def create(
        cls,
        path: str,
        expected_keys: int,
        n_buckets: int = 8,
        total_bits: Optional[int] = None,
        version: int = 0,
    ) -> "StripedBloom":
        """An empty filter in the new directory ``path``, sized from the
        expected key count (~10 bits/key rounded up to a power of two
        per bucket); ``total_bits`` overrides sizing. A rebuild passes
        the old generation's ``version`` so the count keeps rising and
        no worker's bitmap cache mistakes the new generation for the
        old one."""
        if total_bits is None:
            total_bits = max(expected_keys, 1) * BLOOM_BITS_PER_KEY
        per_bucket = max(
            BLOOM_MIN_BUCKET_BITS, 1 << int(np.ceil(np.log2(max(1, total_bits // n_buckets))))
        )
        os.makedirs(path, exist_ok=True)
        bloom = cls(path, n_buckets, per_bucket, version=version, built_keys=0)
        bloom._write_meta()
        return bloom

    def _write_meta(self) -> None:
        meta = {
            "n_buckets": self.n_buckets,
            "bucket_bits": self.bucket_bits,
            "version": self.version,
            "built_keys": self.built_keys,
            "bits_per_key": BLOOM_BITS_PER_KEY,
        }
        write_json_atomic(
            os.path.join(self.path, "meta.json"), meta, indent=2, sort_keys=True
        )

    @property
    def capacity_keys(self) -> int:
        return (self.n_buckets * self.bucket_bits) // BLOOM_BITS_PER_KEY

    # --- update ---------------------------------------------------
    def update(self, delta: DataFrame, n_keys: Optional[int] = None) -> None:
        """OR the delta's url_hash keys into the bucket bitmaps.

        Distributed: each input partition emits one partial bitmap per
        bucket it touches; the driver merges and rewrites one bucket
        file at a time (peak memory = one bucket). For full rebuilds,
        repartition the input by ``pmod(url_hash, n_buckets)`` first so
        each partition maps to exactly one bucket.
        """
        nbits, nbytes = self.bucket_bits, self.bucket_bits // 8
        n_buckets = self.n_buckets

        def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            partials: dict = {}
            total = 0
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                hashes = pdf["url_hash"].to_numpy(dtype=np.int64)
                total += len(hashes)
                buckets = _bucket_of(hashes, n_buckets)
                for b in np.unique(buckets):
                    bm = partials.get(b)
                    if bm is None:
                        bm = partials[b] = np.zeros(nbytes, dtype=np.uint8)
                    _set_bits(bm, hashes[buckets == b], nbits)
            for b, bm in partials.items():
                yield pd.DataFrame(
                    {"bucket": [int(b)], "n": [total], "bitmap": [bm.tobytes()]}
                )
                total = 0  # count keys once per partition, not per bucket

        parts = (
            delta.select("url_hash")
            .mapInPandas(per_partition, "bucket int, n long, bitmap binary")
            .collect()
        )
        merged_keys = sum(r["n"] for r in parts)
        by_bucket: dict = {}
        for row in parts:
            by_bucket.setdefault(row["bucket"], []).append(row["bitmap"])
        for b, blobs in by_bucket.items():
            path = self._bucket_path(b)
            if os.path.exists(path):
                bm = np.fromfile(path, dtype=np.uint8).copy()
            else:
                bm = np.zeros(nbytes, dtype=np.uint8)
            for blob in blobs:
                bm |= np.frombuffer(blob, dtype=np.uint8)
            tmp = path + ".tmp"
            bm.tofile(tmp)
            os.replace(tmp, path)
        self.version += 1
        self.built_keys += n_keys if n_keys is not None else merged_keys
        self._write_meta()

    # --- probe ----------------------------------------------------
    def probe_udf(self):
        """Vectorized predicate: url_hash -> maybe-seen (True = must
        take the exact check; False = definitely not in the filter)."""
        from pyspark.sql.functions import pandas_udf

        bloom_dir, n_buckets = self.path, self.n_buckets
        nbits, nbytes = self.bucket_bits, self.bucket_bits // 8
        version = self.version

        @pandas_udf("boolean")
        def maybe_seen(url_hash: pd.Series) -> pd.Series:
            cached = _BLOOM_CACHE.get(bloom_dir)
            if cached is None or cached[0] != version:
                cached = (version, {})
                _BLOOM_CACHE[bloom_dir] = cached
            bitmaps = cached[1]
            hashes = url_hash.to_numpy(dtype=np.int64)
            buckets = _bucket_of(hashes, n_buckets)
            result = np.ones(len(hashes), dtype=bool)
            for b in np.unique(buckets):
                bm = bitmaps.get(b)
                if bm is None:
                    path = os.path.join(bloom_dir, f"bucket={b}.bin")
                    if os.path.exists(path):
                        bm = np.fromfile(path, dtype=np.uint8)
                    else:
                        bm = np.zeros(nbytes, dtype=np.uint8)
                    bitmaps[b] = bm
                sel = buckets == b
                sub = hashes[sel]
                hit = np.ones(len(sub), dtype=bool)
                for pos in _bloom_positions(sub, nbits):
                    hit &= (
                        bm[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))
                    ) != 0
                result[sel] = hit
            return pd.Series(result)

        return maybe_seen


# --------------------------------------------------------------------
# Politeness budget (A11) + mega-host salting (SURVEY.md §4.2.1)
# --------------------------------------------------------------------

# the budget of a host that has none: no limit
_UNLIMITED = 1 << 62
_BUCKET_ID_SCHEMA = T.StructType([T.StructField("bucket", T.IntegerType())])


def politeness_select(
    frontier: DataFrame,
    host_budget: Optional[int],
    salt_buckets: int = 1,
    budgets: Optional[DataFrame] = None,
) -> "tuple[DataFrame, Optional[DataFrame]]":
    """Select up to ``host_budget`` URLs per host for this superstep in
    BFS order (depth, discovery_seq); the remainder stays queued.

    Returns (selected, deferred). With neither ``host_budget`` nor
    ``budgets`` nothing is deferred: selected is the whole frontier and
    deferred is None, so callers add no empty deferred side.

    With salt_buckets > 1, a mega-host's rows are pre-limited per salt
    bucket (budget/S each) before the
    exact per-host window, so no single task sorts a whole mega-host.
    Salting is deterministic (hash of url), preserving reproducibility.

    ``budgets`` (optional): a broadcast-sized (host, budget) table of
    per-host overrides — the robots Crawl-delay product
    (policy.crawl_delay_budgets). Hosts absent from it fall back to
    ``host_budget``; the join is broadcast LEFT OUTER, so the frontier
    never gains an exchange for it. The salted pre-limit keeps using
    the GLOBAL budget as its per-bucket bound (a valid over-estimate
    whenever overrides only tighten; an override LARGER than
    host_budget is honored exactly too because the pre-limit keeps
    budget rows per salt bucket, and the exact window below re-ranks
    every candidate).
    """
    if host_budget is None and budgets is None:
        return frontier, None

    from pyspark.sql.functions import broadcast

    df = frontier
    budget_col = F.lit(host_budget).cast("long")
    if budgets is not None:
        df = df.join(
            broadcast(
                budgets.select(
                    F.col("host").alias("_bhost"),
                    F.col("budget").cast("long").alias("_budget_override"),
                )
            ),
            df["host"] == F.col("_bhost"),
            "left",
        ).drop("_bhost")
        budget_col = F.coalesce(F.col("_budget_override"), budget_col)
        if host_budget is None:
            # overrides only: hosts without one are unthrottled this
            # superstep (None -> "no limit" just like the global path)
            budget_col = F.coalesce(
                budget_col, F.lit(_UNLIMITED).cast("long")
            )
        prelimit = host_budget if host_budget is not None else _UNLIMITED
    else:
        prelimit = host_budget

    if salt_buckets > 1 and budgets is not None:
        # per-bucket pre-limit must bound by the LARGEST budget any
        # host may have; with overrides present use max(override,
        # global) per row — still deterministic and still a superset
        # of what the exact window keeps.
        prelimit_col = F.greatest(budget_col, F.lit(prelimit).cast("long"))
        salt_w = Window.partitionBy(
            F.col("host"), F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
        ).orderBy("depth", "discovery_seq")
        df = df.withColumn("_srn", F.row_number().over(salt_w)).withColumn(
            "_b", budget_col
        )
        candidates = df.filter(F.col("_srn") <= prelimit_col).drop("_srn")
        overflow = df.filter(F.col("_srn") > prelimit_col).drop("_srn")
        w = Window.partitionBy("host").orderBy("depth", "discovery_seq")
        ranked = candidates.withColumn("_rn", F.row_number().over(w))
        selected = (
            ranked.filter(F.col("_rn") <= F.col("_b"))
            .drop("_rn", "_b", "_budget_override")
        )
        deferred = (
            ranked.filter(F.col("_rn") > F.col("_b"))
            .drop("_rn", "_b", "_budget_override")
            .unionByName(overflow.drop("_b", "_budget_override"))
        )
        return selected, deferred

    if budgets is not None:
        w = Window.partitionBy("host").orderBy("depth", "discovery_seq")
        ranked = df.withColumn("_rn", F.row_number().over(w)).withColumn(
            "_b", budget_col
        )
        selected = ranked.filter(F.col("_rn") <= F.col("_b")).drop(
            "_rn", "_b", "_budget_override"
        )
        deferred = ranked.filter(F.col("_rn") > F.col("_b")).drop(
            "_rn", "_b", "_budget_override"
        )
        return selected, deferred

    if salt_buckets > 1:
        # Pre-limit per (host, salt): each bucket keeps at most the
        # full budget, bounding any single task's sort to ~budget rows
        # while guaranteeing the exact window below still sees every
        # row it could select. Deferred rows must NOT be lost, so the
        # pre-limit only bounds the *selected* side's candidates.
        salt_w = Window.partitionBy(
            F.col("host"), F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
        ).orderBy("depth", "discovery_seq")
        df = df.withColumn("_srn", F.row_number().over(salt_w))
        candidates = df.filter(F.col("_srn") <= host_budget).drop("_srn")
        overflow = df.filter(F.col("_srn") > host_budget).drop("_srn")
        w = Window.partitionBy("host").orderBy("depth", "discovery_seq")
        ranked = candidates.withColumn("_rn", F.row_number().over(w))
        selected = ranked.filter(F.col("_rn") <= host_budget).drop("_rn")
        deferred = ranked.filter(F.col("_rn") > host_budget).drop("_rn").unionByName(
            overflow
        )
        return selected, deferred

    w = Window.partitionBy("host").orderBy("depth", "discovery_seq")
    ranked = df.withColumn("_rn", F.row_number().over(w))
    selected = ranked.filter(F.col("_rn") <= host_budget).drop("_rn")
    deferred = ranked.filter(F.col("_rn") > host_budget).drop("_rn")
    return selected, deferred


def politeness_select_bucketed(
    spark,
    bucket_files: dict,
    host_budget: Optional[int],
    schema,
    budgets: Optional[dict] = None,
    budget_files: Optional[dict] = None,
) -> DataFrame:
    """politeness_select's storage-partitioned twin for huge queues:
    per-host budget selection WITHOUT shuffling the frontier.

    ``politeness_select``'s Window.partitionBy(host) hash-exchanges the
    ENTIRE queue every superstep — at a 10^10-row frontier that one
    exchange dominates the superstep. When the frontier snapshot was
    written host-bucketed (bucket = pmod(xxhash64(host), B) partition
    dirs, so every host lives wholly inside one bucket), selection
    becomes partition-local: a driver DataFrame of bucket ids fans out
    one task per bucket; each task point-reads only its bucket's
    parquet files (same executor-side pattern as
    ``exclude_keys_bucketed``), runs the per-host (depth,
    discovery_seq)-ordered budget rank in pandas, and emits every row
    tagged ``_selected``. The only exchange in the plan moves B
    driver rows. Selection semantics are EXACTLY the window's: stable
    sort on (depth, discovery_seq) — discovery_seq is globally unique
    so there are no ties — then per-host cumcount < budget.

    Mega-host salting is unnecessary here: a host's rows are one
    pandas sort inside its bucket task, not one Spark task per window
    partition; size B so a bucket's rows fit an executor (the caller's
    frontier_buckets knob, same sizing story as the seen buckets).

    Returns schema + ``_selected boolean``; the caller filters the two
    sides and re-derives the bucket column on write (a narrow
    projection — the deferred side keeps its task-per-bucket layout all
    the way into the next snapshot's partitionBy write, so the queue
    never crosses an exchange on the way back out either).

    Per-host Crawl-delay overrides ride one of two forms; hosts absent
    from either use ``host_budget`` (no limit when it is None), and
    both are semantically identical to politeness_select's broadcast
    override join:

    * ``budget_files`` (the scale path): {bucket: [parquet files]} of a
      (host, budget) table written partitioned by the SAME
      pmod(xxhash64(host), B) bucket function as the frontier snapshot
      — each bucket task point-reads ONLY its own bucket's override
      files, so nothing is ever materialized on the driver and the
      task closure stays thin no matter how many hosts declare a
      Crawl-delay (10^8 delay-declaring hosts cost each task one
      small parquet read, not an O(hosts) dict broadcast).
    * ``budgets`` (small/test path): a plain {host: budget} dict in
      the cloudpickled closure — fine when the caller knows the
      override table is tiny, wrong at scale."""
    files_b = {int(b): list(fs) for b, fs in bucket_files.items()}
    bfiles_b = (
        {int(b): list(fs) for b, fs in budget_files.items()}
        if budget_files
        else None
    )
    out_schema = T.StructType(
        schema.fields + [T.StructField("_selected", T.BooleanType(), False)]
    )
    cols = [f.name for f in schema.fields]
    # overrides only: hosts without one are unlimited, as on the window path
    default_budget = host_budget if host_budget is not None else _UNLIMITED

    def per_buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            for b in pdf["bucket"].tolist():
                frames = [
                    pq.read_table(f, columns=cols).to_pandas()
                    for f in files_b[int(b)]
                ]
                df = (
                    pd.concat(frames, ignore_index=True)
                    if len(frames) > 1
                    else frames[0]
                )
                if df.empty:
                    continue
                df = df.sort_values(
                    ["depth", "discovery_seq"], kind="mergesort", ignore_index=True
                )
                rank = df.groupby("host", sort=False).cumcount()
                overrides = budgets
                if bfiles_b is not None:
                    bfs = bfiles_b.get(int(b))
                    if bfs:
                        bframes = [
                            pq.read_table(
                                f, columns=["host", "budget"]
                            ).to_pandas()
                            for f in bfs
                        ]
                        bdf = (
                            pd.concat(bframes, ignore_index=True)
                            if len(bframes) > 1
                            else bframes[0]
                        )
                        overrides = dict(
                            zip(bdf["host"], bdf["budget"].astype("int64"))
                        )
                    else:
                        overrides = None
                if overrides:
                    bud = (
                        df["host"].map(overrides).fillna(default_budget)
                        .astype("int64")
                    )
                    df["_selected"] = rank < bud
                else:
                    df["_selected"] = rank < default_budget
                yield df

    ids = local_frame(
        spark, [(int(b),) for b in sorted(files_b)], _BUCKET_ID_SCHEMA
    ).repartition(max(len(files_b), 1), F.col("bucket"))
    return ids.mapInPandas(per_buckets, out_schema)


# --------------------------------------------------------------------
# Distributed ordered enumeration (discovery_seq assignment)
#
# BFS order must be totally reproducible: links are enqueued in
# (parent discovery_seq, sorted-href) order. A naive global
# row_number() puts the whole delta in ONE task; instead we
# range-partition by the order key, count rows per partition, and add
# per-partition offsets — the classic scalable zipWithIndex, kept in
# DataFrame land (mapInPandas does the intra-partition cumcount).
# --------------------------------------------------------------------

def assign_ordered_seq(
    df: DataFrame,
    order_cols: List[str],
    start: int,
    out_col: str = "discovery_seq",
    num_partitions: Optional[int] = None,
    persist_registry: Optional[list] = None,
) -> DataFrame:
    """``persist_registry`` (if given) collects the internal persisted
    DataFrame so the caller can unpersist it once the numbered output
    has been materialized — without it, the cached range-partitioned
    blocks would live until session end (ADVICE r1)."""
    if num_partitions:
        parts = df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
    else:
        parts = df.repartitionByRange(*[F.col(c) for c in order_cols])
    # persist: the count job and the numbering job must see the SAME
    # physical partitioning (range-bound sampling is not re-run).
    parts = parts.sortWithinPartitions(*order_cols).persist()
    if persist_registry is not None:
        persist_registry.append(parts)

    counts = (
        parts.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .count()
        .orderBy("_pid")
        .collect()
    )
    offsets = {}
    acc = start
    for row in counts:
        offsets[row["_pid"]] = acc
        acc += row["count"]

    from pyspark.sql import types as T

    # fresh StructType — StructType.add would MUTATE the DataFrame's
    # cached schema and corrupt df.columns
    schema = T.StructType(
        list(parts.schema.fields) + [T.StructField(out_col, T.LongType(), False)]
    )

    def number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # mapInPandas preserves sortWithinPartitions order; partition id
        # comes from TaskContext so the offset table applies exactly.
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = offsets.get(pid, start)
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = np.arange(base, base + len(pdf), dtype=np.int64)
            base += len(pdf)
            yield pdf

    return parts.mapInPandas(number, schema)


def frontier_prioritize(
    frontier: DataFrame,
    scores: DataFrame,
    k: int,
    url_col: str = "url",
    score_col: str = "score",
    default_score: float = 0.0,
) -> DataFrame:
    """Focused-crawl re-prioritization: the global top-``k`` frontier
    rows by an external per-URL score — PageRank over the link graph
    crawled so far (linkgraph.pagerank_exact), URL quality
    (urlstats.url_quality_columns), host quality (webquality) — with
    the BFS order (depth, discovery_seq) as the deterministic
    tie-break, so equal-scored URLs keep their crawl order and the
    selection is reproducible.

    The reference crawls strictly breadth-first (wpull's FIFO); this
    operator is the scheduling generalization a 10^10-URL frontier
    needs: spend the fetch budget on the highest-value URLs first.

    Scale shape: ``scores`` is URL-keyed and corpus-sized, so the
    join is a plain equi-shuffle (LEFT OUTER — unscored URLs get
    ``default_score`` — and AQE-skew-splittable); the global top-k
    compiles to TakeOrderedAndProject: each task keeps a local
    top-k heap and only k rows per partition reach the merge — no
    global sort is ever materialized. k is superstep-sized (the
    fetch wave), the driver-capacity class the crawl loop already
    assumes for a wave.
    """
    joined = frontier.join(
        scores.select(
            F.col(url_col).alias("url"),
            F.col(score_col).cast("double").alias("_score"),
        ),
        "url",
        "left",
    ).withColumn(
        "_score", F.coalesce(F.col("_score"), F.lit(float(default_score)))
    )
    return (
        joined.orderBy(
            F.col("_score").desc(),
            F.col("depth").asc(),
            F.col("discovery_seq").asc(),
            F.col("url").asc(),
        )
        .limit(int(k))
        .drop("_score")
    )
