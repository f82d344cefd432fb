"""Streaming incremental dedup skin — continuous-ingest exact dedup
against a growing content-hash set, as a ``foreachBatch`` sink.

The batch form of this operator is `operators/dedup.py::
dedup_against_snapshot(_bucketed)`: a new dump dedupes within itself,
then anti-joins the published snapshot's content hashes. A
continuous-ingest deployment (documents arriving from a crawler, a
feed, a WARC unpacker) runs the SAME semantics per micro-batch, with
the cross-batch state being the committed hash layout itself — the
crawl stream's design rule (no separate streaming state store to
drift) applied to the dedup family.

Per micro-batch K:
1. in-batch first-occurrence dedup: keep the min-``id`` row per
   ``xxhash64(text)`` (one partial-aggregated exchange);
2. anti-join every previously COMMITTED batch's hashes through
   ``frontier.exclude_keys_bucketed`` — the storage-partitioned
   probe: one probe-side exchange by bucket, executor-side point
   reads, the hash set never enters the Spark plan;
3. append survivors under ``accepted/superstep=K`` and their hashes
   under ``hashes/superstep=K/bucket=B`` (the seen-table layout,
   bucket = pmod(hash, n_buckets));
4. write the manifest marker LAST.

Exactly-once: a crash before (4) leaves no manifest; on restart
Structured Streaming replays the batch, ``rollback_uncommitted``
drops the torn delta dirs, and the rewrite is idempotent.
Re-delivered (at-least-once) documents are swallowed by the
hash anti-join. The 64-bit-collision trade is the same one the
batch bucketed form documents (dedup.py): a collision drops a
distinct document; md5/exact stays the semantics oracle.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from website_indexer_spark.operators.frontier import exclude_keys_bucketed
from website_indexer_spark.sources.tables import bucket_files, write_json_atomic

DEDUP_STREAM_BUCKETS = 8


class DedupStreamStore:
    """Minimal manifest-last store for the dedup stream: accepted
    rows + hash layout per superstep, marker-last commit, torn-delta
    rollback. (The crawl's CrawlStore owns a fixed table set with
    crawl schemas; this is the same protocol on the dedup tables.)"""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    def _manifest_path(self, k: int) -> str:
        return os.path.join(self.root, "manifests", f"{k}.json")

    def last_committed(self) -> int:
        k = -1
        mdir = os.path.join(self.root, "manifests")
        for entry in os.listdir(mdir):
            if entry.endswith(".json"):
                k = max(k, int(entry.split(".", 1)[0]))
        return k

    def rollback_uncommitted(self) -> None:
        last = self.last_committed()
        for table in ("accepted", "hashes"):
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            for entry in os.listdir(tdir):
                if not entry.startswith("superstep="):
                    continue
                if int(entry.split("=", 1)[1]) > last:
                    shutil.rmtree(os.path.join(tdir, entry))

    def commit(self, k: int, counters: dict) -> None:
        write_json_atomic(
            self._manifest_path(k), {"superstep": k, "counters": counters}
        )

    def manifests(self) -> list[dict]:
        out = []
        for k in range(self.last_committed() + 1):
            with open(self._manifest_path(k)) as f:
                out.append(json.load(f))
        return out

    def hash_bucket_files(self) -> dict:
        """bucket -> committed parquet files across supersteps."""
        hdir = os.path.join(self.root, "hashes")
        if not os.path.isdir(hdir):
            return {}
        last = self.last_committed()
        return bucket_files(
            *(
                os.path.join(hdir, step)
                for step in os.listdir(hdir)
                if step.startswith("superstep=")
                and int(step.split("=", 1)[1]) <= last
            )
        )

    def read_accepted(self, spark) -> DataFrame:
        dirs = []
        adir = os.path.join(self.root, "accepted")
        last = self.last_committed()
        if os.path.isdir(adir):
            for entry in sorted(os.listdir(adir)):
                if entry.startswith("superstep=") and int(
                    entry.split("=", 1)[1]
                ) <= last:
                    dirs.append(os.path.join(adir, entry))
        if not dirs:
            raise ValueError("no committed batches")
        return spark.read.parquet(*dirs)


def dedup_stream_step(
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEDUP_STREAM_BUCKETS,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function. Apply with
    ``df.writeStream.foreachBatch(dedup_stream_step(out))``."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        store = DedupStreamStore(out_dir)
        store.rollback_uncommitted()
        k = store.last_committed() + 1

        hashed = batch_df.withColumn(
            "content_hash", F.xxhash64(F.col(text_col))
        )
        # in-batch first occurrence: min id per hash (partial agg,
        # deterministic under any arrival order)
        firsts = hashed.groupBy("content_hash").agg(
            F.min(F.col(id_col)).alias(id_col)
        )
        batch_dedup = hashed.join(
            firsts, ["content_hash", id_col], "left_semi"
        ).dropDuplicates(["content_hash"])

        committed = store.hash_bucket_files()
        if committed:
            survivors = exclude_keys_bucketed(
                batch_dedup,
                committed,
                n_buckets,
                key="content_hash",
            )
        else:
            survivors = batch_dedup
        survivors = survivors.localCheckpoint(eager=True)

        n_in = batch_df.count()
        n_out = survivors.count()
        (
            survivors.drop("content_hash")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "accepted", f"superstep={k}"))
        )
        (
            survivors.select("content_hash")
            .withColumn(
                "bucket",
                F.pmod(F.col("content_hash"), F.lit(int(n_buckets))),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(out_dir, "hashes", f"superstep={k}"))
        )
        store.commit(k, {"rows_in": n_in, "accepted": n_out})

    return step


__all__ = [
    "DEDUP_STREAM_BUCKETS",
    "DedupStreamStore",
    "dedup_stream_step",
]
