"""Materialized dimension tables with MERGE (append-new-keys-only)
semantics — the persistent form of A17.

The reference maintains global unique ``Component``/``Link`` dimension
rows with ``bulk_create(ignore_conflicts=True)`` — an idempotent
insert-if-absent upsert (/root/reference/crawler/writer.py:22-43,
crawler/models.py:84-105). Here the same contract is expressed as an
anti-join delta: the incoming batch's distinct keys that are not yet
in the dimension become this superstep's append-only delta; keys
already present are untouched, so replaying a superstep (crash →
resume) re-derives the identical delta. On Iceberg this is exactly
``MERGE INTO dim USING delta ON key WHEN NOT MATCHED THEN INSERT``.

Scale: the dimension (every key ever seen — for ``links`` that is
10^9+ rows at design scale) is the big side and is never shuffled:
the wave's distinct incoming keys broadcast through the same
LeftSemi → LeftAnti composition as the URL-seen set
(operators/frontier.py ``exclude_keys``), so the dimension scan
streams map-side with zero exchanges. The only shuffle is the
``distinct`` over the wave's own exploded keys — bounded by the wave.
"""

from __future__ import annotations

from typing import List, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from website_indexer_spark.operators.frontier import exclude_keys


def dim_upsert_delta(
    existing: DataFrame,
    incoming: DataFrame,
    key_cols: Union[str, List[str]],
    broadcast_incoming: bool = True,
    small_existing: bool = False,
) -> DataFrame:
    """Keys of ``incoming`` that are not yet in ``existing``: the rows
    a MERGE would insert. Output is distinct, non-null ``key_cols``.
    Composite keys are supported so several dimensions can share one
    physical table (e.g. the crawl store's ``(kind, key)`` dims table
    — one upsert job per superstep instead of one per dimension).

    Three physical strategies, picked by the caller's (free) size
    knowledge — for the crawl store, the manifest counters:

    * small_existing=True: the whole dimension broadcasts into ONE
      LeftAnti(BuildRight) — fewest jobs; right while the dimension
      fits a broadcast (the component dim forever, the link dim early).
    * broadcast_incoming=True (default): the huge dimension streams
      map-side unshuffled through LeftSemi(BuildRight) hits →
      LeftAnti(BuildRight) — the URL-seen-set composition
      (operators/frontier.py exclude_keys); right once the dimension
      outgrows broadcast but the wave's keys don't.
    * both False: plain shuffled anti-join, for callers without a
      bucketed table whose incoming side is too big to broadcast (the
      catalog's ``q_dimension_upsert``). The crawl store never uses
      it: above the broadcast threshold it runs the storage-
      partitioned ``dim_upsert_delta_bucketed`` against the dims
      layout, which is always hash-bucketed.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    inc = incoming.select(*key_cols).na.drop(subset=key_cols).distinct()
    return exclude_keys(
        inc, existing, key_cols, broadcast_incoming, small_existing
    )


def dim_upsert_delta_bucketed(
    incoming: DataFrame,
    bucket_files: dict,
    n_buckets: int,
    key_cols: Union[str, List[str]] = ("kind", "key"),
) -> DataFrame:
    """The MERGE delta for waves too big to broadcast, computed
    storage-partitioned against the hash-bucketed dims layout
    (``bucket_files``: bucket id -> parquet paths, bucket =
    pmod(xxhash64(*key_cols), n_buckets) — what CrawlStore
    writes; Iceberg's bucket(N, ...) transform at deployment).

    Like the seen set's ``exclude_keys_bucketed``: the ONLY exchange
    is the incoming side's repartition by bucket; the dimension never
    appears as a Spark scan — each task point-reads its bucket's files
    executor-side. Unlike the seen set, membership is decided on the
    EXACT key strings (pandas MultiIndex isin over the bucket's
    (kind, key) columns) — the 64-bit hash only routes rows to
    buckets, so collisions cannot drop a new key.

    The MERGE's distinct: a Spark-side ``dropDuplicates`` collapses
    the wave's repeated keys with a map-side partial aggregate BEFORE
    any exchange — at web fan-out the exploded href stream is
    overwhelmingly duplicates (nav/footer links recur on every page),
    so shipping only distinct keys shrinks both exchanges and the
    probe's input by the duplication factor."""
    import os as _os
    from typing import Iterator

    import pandas as pd

    if isinstance(key_cols, str):
        key_cols = [key_cols]
    cols = list(key_cols)
    files_by_bucket = {int(b): tuple(p) for b, p in bucket_files.items()}
    nb = n_buckets

    def drop_present(batches: "Iterator[pd.DataFrame]"):
        import pyarrow.parquet as pq

        loaded: dict = {}

        def read_file_keys(path: str) -> "pd.DataFrame":
            # key columns that are PARTITION columns (e.g. the dims
            # table's kind=K dirs) live in the path, not in the file —
            # parse them out (Spark Hive-style %-escaping) and read
            # only the data columns from the parquet footer onward
            from urllib.parse import unquote

            parts = dict(
                seg.split("=", 1)
                for seg in path.split(_os.sep)
                if "=" in seg and not seg.endswith(".parquet")
            )
            file_cols = [c for c in cols if c not in parts]
            pdf = pq.read_table(path, columns=file_cols).to_pandas()
            for c in cols:
                if c in parts:
                    pdf[c] = unquote(parts[c])
            return pdf[cols]

        def bucket_index(b: int):
            # a UNIQUE MultiIndex so get_indexer's cached hash engine
            # answers membership per batch without re-hashing the
            # committed side (the old per-batch `.isin(idx)` rebuilt a
            # hash set of the whole bucket for EVERY ~10k-row Arrow
            # batch — quadratic in batch count once the dim grew)
            idx = loaded.get(b)
            if idx is None:
                frames = [
                    read_file_keys(path)
                    for path in files_by_bucket.get(b, ())
                    if _os.path.exists(path)
                ]
                if frames:
                    idx = pd.MultiIndex.from_frame(
                        pd.concat(frames, ignore_index=True)[cols]
                    ).unique()
                else:
                    idx = pd.MultiIndex.from_arrays([[] for _ in cols])
                loaded[b] = idx
            return idx

        for pdf in batches:
            if len(pdf) == 0:
                continue
            import numpy as np

            buckets = pdf["_bk"].to_numpy()
            row_index = pd.MultiIndex.from_frame(pdf[cols])
            keep_mask = np.ones(len(pdf), dtype=bool)
            for b in set(buckets.tolist()):
                sel = buckets == b
                idx = bucket_index(int(b))
                if len(idx) == 0:
                    continue
                keep_mask[sel] = idx.get_indexer(row_index[sel]) == -1
            out = pdf.loc[keep_mask, cols]
            if len(out):
                # the Spark-side pre-distinct below made the input
                # globally unique — no in-task bookkeeping needed
                yield out

    # Web waves repeat hrefs massively (nav/footer links recur on every
    # page of a host), so collapsing duplicates BEFORE the bucket
    # exchange is almost always a volume win: dropDuplicates plans a
    # partial (map-side) HashAggregate, so each upstream task ships
    # only its distinct keys. Costs one extra (small, already-distinct)
    # exchange into the bucket layout below.
    inc = incoming.select(*cols).na.drop(subset=cols).dropDuplicates(cols)
    inc = inc.withColumn(
        "_bk", F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(nb))
    )
    part = inc.repartition(nb, F.col("_bk"))
    return part.mapInPandas(drop_present, inc.drop("_bk").schema)
