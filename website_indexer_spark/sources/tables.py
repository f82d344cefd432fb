"""Storage layer: schemas + a snapshot-versioned Parquet table store.

Locally there are no Iceberg jars (verified — SURVEY.md preamble), so
"Iceberg table" is emulated by a superstep-partitioned Parquet layout
with a JSON manifest as the atomic commit marker:

    <root>/
      crawl.json                      # run manifest (config, status)
      routed/superstep=K/record_type=page|error|redirect/*.parquet
      store_meta.json                 # seen/dims bucket counts
      seen/superstep=K/bucket=B/      # delta of newly-requested urls
      dims/superstep=K/kind=component|link/bucket=B/  # MERGE-new keys
      frontier/superstep=K/...        # FULL next frontier after step K
      manifests/K.json                # commit marker + counters
      bloom/bucket=B.bin              # striped persistent Bloom filter

A superstep K is committed iff manifests/K.json exists; readers only
list and read the ``superstep <= last_committed`` dirs, so a job
killed mid-write leaves no torn state and ``resume`` restarts from the
last committed superstep. Directory rewrites (compaction, recrawl's
seen eviction, the Bloom rebuild) stage under dot-prefixed ``.swap``
dirs and commit through ``commit_staged_swap``.
``IcebergBackend`` emits the Iceberg statement each store operation
maps to (append + snapshot commit, MERGE, rewrite_data_files,
rollback_to_snapshot) and executes nothing: moving to real Iceberg
tables means reimplementing ``CrawlStore``'s operations over those
statements, of which only the strings are pinned today
(tests/test_iceberg_contract.py).

Reference analogue: the Crawl row lifecycle + synchronous ORM writes
(/root/reference/crawler/models.py:19-52, crawler/writer.py:14-43);
the manifest counters are the north_rule's per-partition lineage.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- schemas (FIXTURES.md §2 / SURVEY.md §1.3) -----------------------

WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        # auxiliary response metadata for routing (FIXTURES.md §1);
        # absent columns default to 200/text/html at load time
        T.StructField("status_code", T.IntegerType()),
        T.StructField("location", T.StringType()),
        T.StructField("content_type", T.StringType()),
    ]
)

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("discovery_seq", T.LongType(), False),
        T.StructField("parent_url", T.StringType()),
        T.StructField("parent_host", T.StringType()),
        T.StructField("fetch_method", T.StringType()),
    ]
)

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
    ]
)

# per-run Crawl-delay override table (plans/crawl.py writes it bucket-
# aligned with the frontier snapshot layout; politeness selection
# tasks point-read only their own bucket's overrides)
BUDGETS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("budget", T.LongType(), False),
    ]
)

# The seen table's physical layout is hash-bucketed by url_hash
# (bucket = pmod(url_hash, n) as a partition dir under each superstep
# delta) so the above-broadcast-threshold anti-join can run
# storage-partitioned — each probe task point-reads exactly its
# bucket's files, no seen-side scan or exchange (operators/frontier.py
# exclude_keys_bucketed). Iceberg analogue: bucket(N, url_hash)
# partition transform.
#
# A new store starts at ONE bucket per table: below
# plans/crawl.py HISTORY_BROADCAST_THRESHOLD the crawl broadcasts the
# whole history and never reads a bucket dir, so more buckets would
# only multiply the files every superstep writes. SEEN_BUCKETS is the
# count the crawl grows a one-bucket table to (plans/crawl.py
# grow_history_layout) the first time its history crosses that
# threshold, and the count a store without store_meta.json (written
# before the meta existed) was laid out with. A deployment sizes the
# grown count so one bucket's hash column fits a task (~4096 buckets
# at 10^10 seen keys = ~20 MB/task) and sets it at creation
# (CrawlStore(seen_buckets=...)) or with rebucket(); the crawl never
# changes a count other than one.
#
# The effective counts are store-level config persisted in
# <root>/store_meta.json at creation, validated on open (a mismatching
# explicit count raises), and threaded through the crawl/compaction
# via CrawlStore.seen_buckets / .dims_buckets. Changing a live store's
# count = a compaction rewrite (CrawlStore.rebucket); a crash
# mid-rewrite leaves a pending flag in the meta, and the next writer
# entry (rollback_uncommitted) finishes the rewrite before any probe
# reads the buckets.
SEEN_BUCKETS = 8

# The dims table gets the same treatment, sub-partitioned
# kind=K/bucket=B with bucket = pmod(xxhash64(kind, key), n), starting
# at one bucket and grown to DIMS_BUCKETS like seen — the hash only
# ROUTES rows to buckets; the storage-partitioned
# MERGE probe (operators/dims.py dim_upsert_delta_bucketed) decides
# membership on the exact (kind, key) strings it reads from the
# bucket's files, so hash collisions cannot drop a genuinely-new key.
DIMS_BUCKETS = 8

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("crawl_id", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("url", T.StringType(), False),
        T.StructField("depth", T.IntegerType()),
        T.StructField("discovery_seq", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("html", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("components", T.ArrayType(T.StringType())),
    ]
)

ERRORS_SCHEMA = T.StructType(
    [
        T.StructField("crawl_id", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("url", T.StringType(), False),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("referrer", T.StringType()),
    ]
)

REDIRECTS_SCHEMA = T.StructType(
    ERRORS_SCHEMA.fields + [T.StructField("location", T.StringType())]
)

# Unified routed-results table: pages/errors/redirects share one
# superset schema + record_type discriminator so each superstep
# commits ONE write job for all three sinks (the extracted DataFrame
# is cached once and fanned out inside a single action — the
# "exchange reuse across the multi-sink fan-out" of SURVEY.md §4.2).
ROUTED_SCHEMA = T.StructType(
    [
        T.StructField("record_type", T.StringType(), False),  # page|error|redirect
        T.StructField("crawl_id", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("url", T.StringType(), False),
        T.StructField("depth", T.IntegerType()),
        T.StructField("discovery_seq", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("html", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("components", T.ArrayType(T.StringType())),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("referrer", T.StringType()),
        T.StructField("location", T.StringType()),
    ]
)

_ROUTED_VIEWS = {
    "pages": ("page", PAGES_SCHEMA),
    "errors": ("error", ERRORS_SCHEMA),
    "redirects": ("redirect", REDIRECTS_SCHEMA),
}

# Materialized dimension tables (reference writer.py:22-43's global
# unique Component/Link rows): append-new-keys-only deltas per
# superstep — the MERGE upsert pattern (operators/dims.py). Both
# dimensions share ONE physical table keyed (kind, key) so each
# superstep pays a single upsert job; readers get per-kind views
# (kind is a partition column, so the views partition-prune).
DIMS_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # component|link
        T.StructField("key", T.StringType(), False),
    ]
)

_DIM_VIEWS = {
    "dim_components": ("component", "class_name"),
    "dim_links": ("link", "href"),
}

_DELTA_SCHEMAS = {
    "seen": SEEN_SCHEMA,
    "dims": DIMS_SCHEMA,
}

DELTA_TABLES = ("routed", "seen", "dims")
SNAPSHOT_TABLES = ("frontier",)


def partition_counts(files: Dict[str, int]) -> Dict[str, int]:
    """Rows per FIRST partition-dir value (``record_type=page`` ->
    ``page``; deeper levels such as the seen/dims hash buckets add up)
    of one table's ``delta_files`` entry; key ``''`` holds unpartitioned
    files' rows. The driver-side analogue of Iceberg snapshot
    summaries: footer metadata only, no Spark job."""
    counts: Dict[str, int] = {}
    for rel, rows in files.items():
        first = rel.split(os.sep)[0] if os.sep in rel else ""
        part = first.split("=", 1)[1] if "=" in first else ""
        counts[part] = counts.get(part, 0) + rows
    return counts


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: T.StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a JVM-local
    relation. ``spark.createDataFrame(<list>, schema)`` plans a Python
    RDD (``Scan ExistingRDD``): every evaluation of it runs one Python
    task per default partition, each paying a worker's per-task set-up
    for a handful of driver rows. A pyarrow Table plans as a
    ``LocalTableScan`` with ``schema`` exactly (nullability included),
    empty or not and whatever the session's Arrow setting."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def write_json_atomic(path: str, obj, **dump_kwargs) -> None:
    """Write ``obj`` as JSON to ``path`` via a sibling ``.tmp`` file and
    ``os.replace``, so readers see the old file or the new one, never a
    torn write. ``dump_kwargs`` go to ``json.dump`` unchanged."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, **dump_kwargs)
    os.replace(tmp, path)


# --- staged directory swap ---------------------------------------------
# The store's one directory-rewrite protocol. Its three users:
# recrawl's seen-key eviction (bucket dirs of the seen table),
# compaction and rebucket (N superstep dirs merged into one), and the
# Bloom rebuild (<root>/bloom replaced by a new generation). Each stages
# its replacements under <dir>/.swap/<i> — dot-prefixed, so outside the
# superstep=/bucket= namespace that readers, listings and partition
# discovery walk — then writes _SWAP.json naming each target (and each
# dir to drop) before the first rename. The marker is the commit point:
# without it the staging is dropped, with it every remaining staged dir
# replaces its target and every drop dir is deleted. Each step is
# idempotent, so a crash anywhere is finished by recover_staged_swap.
SWAP_DIR = ".swap"
SWAP_MARKER = "_SWAP.json"


def swap_staging_dir(table_dir: str, i: int) -> str:
    """Where the i-th replacement of a staged swap is written."""
    return os.path.join(table_dir, SWAP_DIR, str(i))


def commit_staged_swap(
    table_dir: str, targets: List[str], drop: Sequence[str] = ()
) -> None:
    """Swap ``swap_staging_dir(table_dir, i)`` into ``targets[i]`` for
    every i and delete every dir in ``drop`` (all paths relative to
    ``table_dir``), crash-safely."""
    write_json_atomic(
        os.path.join(table_dir, SWAP_DIR, SWAP_MARKER),
        {"targets": targets, "drop": list(drop)},
    )
    recover_staged_swap(table_dir)


def recover_staged_swap(table_dir: str) -> None:
    """Finish a committed swap (marker present) or drop an uncommitted
    one; a no-op when no swap is staged."""
    stage = os.path.join(table_dir, SWAP_DIR)
    if not os.path.isdir(stage):
        return
    marker = os.path.join(stage, SWAP_MARKER)
    if os.path.exists(marker):
        with open(marker) as f:
            swap = json.load(f)
        for i, rel in enumerate(swap["targets"]):
            src = swap_staging_dir(table_dir, i)
            if not os.path.isdir(src):
                continue  # already swapped in
            dest = os.path.join(table_dir, rel)
            if os.path.isdir(dest):
                shutil.rmtree(dest)
            os.rename(src, dest)
        for rel in swap.get("drop", ()):
            if os.path.isdir(os.path.join(table_dir, rel)):
                shutil.rmtree(os.path.join(table_dir, rel))
    shutil.rmtree(stage)


def bucket_files(*dirs: str) -> Dict[int, List[str]]:
    """{bucket: sorted parquet paths} over every ``bucket=B`` dir in the
    trees under ``dirs``, nested ones (``kind=K/bucket=B``) included:
    the work units of a hash-bucketed probe. Checksum sidecars,
    ``_SUCCESS`` markers and staged ``.swap`` dirs are skipped, and the
    paths are sorted, so a probe's input does not depend on listing
    order."""
    out: Dict[int, List[str]] = {}
    for top in dirs:
        for dirpath, subdirs, files in os.walk(top):
            subdirs[:] = [d for d in subdirs if d != SWAP_DIR]
            marker = os.path.basename(dirpath)
            if not marker.startswith("bucket="):
                continue
            paths = [
                os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
            ]
            if paths:
                out.setdefault(int(marker.split("=", 1)[1]), []).extend(paths)
    return {b: sorted(paths) for b, paths in sorted(out.items())}


def build_spark(
    app_name: str = "website-indexer-spark",
    master: Optional[str] = None,
    shuffle_partitions: int = 32,
    extra_conf: Optional[Dict[str, str]] = None,
) -> SparkSession:
    """Session builder with the engine's required configs: AQE (runtime
    coalescing + skew-join splitting), Arrow with bounded batches for
    multi-MB html blobs, and PySpark's DataFrame origin capture off.

    The capture walks the Python stack, reads a conf and sets and
    clears a JVM thread-local on every ``F.*``/DataFrame call: about
    half of a crawl's driver-to-JVM commands. With it off, DataFrame
    error messages no longer name the Python call site; a debugging
    session turns it back on with ``extra_conf=
    {"spark.python.sql.dataFrameDebugging.enabled": "true"}``."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # v2 commit: tasks move outputs into place at task commit, so
        # job commit is O(1) instead of a serial driver-side rename
        # per file — the crawl writes 4 small deltas per superstep and
        # the rename fan-out was measurable fixed cost. Safe here: the
        # manifest marker (not the output dir) is the commit point, so
        # a torn v2 write is invisible exactly like a torn v1 write.
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    }
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class IcebergBackend:
    """The Iceberg statements that ``CrawlStore``'s operations map to,
    as pure string emitters. Nothing here executes (this checkout has
    no Iceberg runtime jars), so tests/test_iceberg_contract.py pins
    the exact statements as goldens. Running the crawl on real Iceberg
    tables means reimplementing CrawlStore's operations over them, on
    a session configured with ``session_conf``:

    * write_delta  -> df.writeTo(f"crawl.{name}").append() with the
      superstep as a partition column (``create_table_ddl``)
    * commit       -> the append's snapshot commit IS the marker;
      counters land in snapshot summary properties
    * last_committed / rollback_uncommitted -> snapshot metadata +
      ``rollback_sql``
    * the dims MERGE delta (operators/dims.py) -> ``dims_merge_sql``
    * compact      -> ``compact_sql`` (rewrite_data_files), followed by
      ``expire_snapshots_sql`` / remove_orphan_files
    * rebucket     -> ``rebucket_sql``
    """

    _SQL_TYPES = {  # keyed by DataType.simpleString()
        "string": "STRING",
        "bigint": "BIGINT",
        "int": "INT",
        "timestamp": "TIMESTAMP",
        "binary": "BINARY",
        "array<string>": "ARRAY<STRING>",
    }

    # partition spec per logical table: superstep first (every reader
    # prunes on it), then the same layout keys CrawlStore encodes as
    # directories — bucket(N, ...) is Iceberg's native form
    # of the hash-bucketed seen/dims layout the storage-partitioned
    # anti-join/MERGE probes.
    _PARTITION_SPECS = {
        "routed": ("superstep", "record_type"),
        "seen": ("superstep", "bucket({seen_buckets}, url_hash)"),
        "dims": ("superstep", "kind", "bucket({dims_buckets}, key)"),
        # frontier: flat by default; run_crawl(frontier_buckets=...)
        # switches the snapshot to the host-bucketed layout that the
        # storage-partitioned politeness selection point-reads — in
        # Iceberg that is a native bucket(B, host) partition transform
        # (create_table_ddl emits it when frontier_buckets is given)
        "frontier": ("superstep",),
        # crawl_budgets: the per-run Crawl-delay override table,
        # bucket-ALIGNED with the frontier layout (same B, same host
        # key) so each politeness-selection task point-reads only its
        # own bucket's overrides; no superstep column — the table is
        # overwritten whole once per run
        "crawl_budgets": ("bucket({frontier_buckets}, host)",),
    }

    # tables that are per-run overwrite artifacts, not superstep deltas
    _NO_SUPERSTEP = {"crawl_budgets"}

    @classmethod
    def session_conf(
        cls,
        warehouse: str,
        catalog: str = "crawl",
        version: str = "1.10.0",
        catalog_type: str = "hadoop",
    ) -> Dict[str, str]:
        """The spark-submit --conf set that puts the Iceberg runtime and
        catalog on a session."""
        return {
            "spark.jars.packages": (
                "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:"
                + version
            ),
            f"spark.sql.catalog.{catalog}": (
                "org.apache.iceberg.spark.SparkCatalog"
            ),
            f"spark.sql.catalog.{catalog}.type": catalog_type,
            f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        }

    @classmethod
    def create_table_ddl(
        cls,
        name: str,
        schema: T.StructType,
        catalog: str = "crawl",
        seen_buckets: int = SEEN_BUCKETS,
        dims_buckets: int = DIMS_BUCKETS,
        frontier_buckets: Optional[int] = None,
    ) -> str:
        """CREATE TABLE for one logical table, with the superstep as a
        partition column (added to the schema — in the parquet layout
        it is a directory, in Iceberg a real column; per-run overwrite
        tables like crawl_budgets carry no superstep).

        ``frontier_buckets`` activates the host-bucketed frontier
        snapshot layout (the politeness_select_bucketed work units) as
        a native bucket(B, host) transform, and is REQUIRED for
        crawl_budgets — the override table must share the frontier's
        exact bucket function or the point-reads mis-route."""
        cols = [
            f"  {f.name} {cls._SQL_TYPES[f.dataType.simpleString()]}"
            + ("" if f.nullable else " NOT NULL")
            for f in schema.fields
        ]
        if name not in cls._NO_SUPERSTEP:
            cols.append("  superstep INT NOT NULL")
        spec_parts = cls._PARTITION_SPECS[name]
        if name == "frontier" and frontier_buckets:
            spec_parts = ("superstep", f"bucket({int(frontier_buckets)}, host)")
        if name == "crawl_budgets" and not frontier_buckets:
            raise ValueError(
                "crawl_budgets is bucket-aligned with the frontier "
                "layout: pass frontier_buckets=<same B as the frontier>"
            )
        spec = ", ".join(
            p.format(
                seen_buckets=seen_buckets,
                dims_buckets=dims_buckets,
                frontier_buckets=frontier_buckets,
            )
            for p in spec_parts
        )
        return (
            f"CREATE TABLE IF NOT EXISTS {catalog}.{name} (\n"
            + ",\n".join(cols)
            + f"\n) USING iceberg\nPARTITIONED BY ({spec})"
        )

    @classmethod
    def dims_merge_sql(cls, catalog: str = "crawl") -> str:
        """The MERGE that replaces dim_upsert_delta* on Iceberg: the
        engine computes the same append-only delta, Iceberg enforces
        insert-if-absent transactionally."""
        return (
            f"MERGE INTO {catalog}.dims t\n"
            "USING dims_delta s\n"
            "ON t.kind = s.kind AND t.key = s.key\n"
            "WHEN NOT MATCHED THEN INSERT *"
        )

    @classmethod
    def compact_sql(
        cls,
        name: str,
        catalog: str = "crawl",
        target_file_size_bytes: int = 512 * 1024 * 1024,
    ) -> str:
        """compact's Iceberg form (rewrite_data_files), followed
        by snapshot expiry a deployment schedules separately."""
        return (
            f"CALL {catalog}.system.rewrite_data_files(\n"
            f"  table => '{catalog}.{name}',\n"
            "  options => map('target-file-size-bytes', "
            f"'{target_file_size_bytes}'))"
        )

    @classmethod
    def expire_snapshots_sql(
        cls, name: str, catalog: str = "crawl", retain_last: int = 10
    ) -> str:
        return (
            f"CALL {catalog}.system.expire_snapshots(\n"
            f"  table => '{catalog}.{name}', retain_last => {retain_last})"
        )

    @classmethod
    def rebucket_sql(
        cls,
        name: str,
        key: str,
        old_buckets: int,
        new_buckets: int,
        catalog: str = "crawl",
    ) -> list:
        """CrawlStore.rebucket's Iceberg form: partition specs are
        metadata, so changing the bucket count is REPLACE PARTITION
        FIELD (new writes take the new spec immediately) followed by
        rewrite_data_files to migrate the existing files — the same
        two phases the parquet emulation performs as a full bucketed
        rewrite, except Iceberg needs no reader downtime (old files
        stay readable under the old spec until rewritten)."""
        return [
            (
                f"ALTER TABLE {catalog}.{name} REPLACE PARTITION FIELD "
                f"bucket({int(old_buckets)}, {key}) "
                f"WITH bucket({int(new_buckets)}, {key})"
            ),
            cls.compact_sql(name, catalog=catalog),
        ]

    @classmethod
    def rollback_sql(
        cls, name: str, snapshot_id: int, catalog: str = "crawl"
    ) -> str:
        """rollback_uncommitted's Iceberg form: snapshots ARE the
        manifests, so rolling back to the last good snapshot is the
        whole recovery story."""
        return (
            f"CALL {catalog}.system.rollback_to_snapshot("
            f"'{catalog}.{name}', {snapshot_id})"
        )


class CrawlStore:
    """Superstep-versioned table store: superstep-partitioned parquet
    with JSON manifests as the atomic commit markers (the module
    docstring's layout), emulating Iceberg snapshot semantics on bare
    files (``IcebergBackend`` lists the Iceberg statement each
    operation maps to). Besides the tables it holds the store meta
    (the seen/dims bucket counts), the crawl-record JSON and the
    logical views (pages/errors/redirects out of routed;
    dim_components/dim_links out of dims)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        seen_buckets: Optional[int] = None,
        dims_buckets: Optional[int] = None,
    ):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        self._init_meta(seen_buckets, dims_buckets)

    # --- store meta (physical-layout config) -----------------------
    # The bucket counts are LAYOUT, not session config: a probe run
    # with a different count than the files were written with silently
    # mis-buckets. So they are fixed at store creation, persisted in
    # store_meta.json, and validated on every open.
    def _meta_file(self) -> str:
        return os.path.join(self.root, "store_meta.json")

    def _write_meta(self, meta: dict) -> None:
        write_json_atomic(self._meta_file(), meta, indent=2, sort_keys=True)
        self._meta = meta

    def _init_meta(
        self, seen_buckets: Optional[int], dims_buckets: Optional[int]
    ) -> None:
        path = self._meta_file()
        if os.path.exists(path):
            with open(path) as f:
                meta = json.load(f)
            for arg, key in (
                (seen_buckets, "seen_buckets"),
                (dims_buckets, "dims_buckets"),
            ):
                if arg is not None and arg != meta.get(key):
                    raise ValueError(
                        f"{key} mismatch: store at {self.root} was "
                        f"created with {key}={meta.get(key)} (physical "
                        f"layout), got {arg}. Re-bucket with "
                        f"CrawlStore.rebucket(), which rewrites the "
                        f"layout via compaction."
                    )
            self._meta = meta
            return
        if self.last_committed() >= 0:
            # legacy store (committed data, no meta): its layout was
            # written with the module defaults — an explicit differing
            # count would mis-bucket the probe
            for arg, key, default in (
                (seen_buckets, "seen_buckets", SEEN_BUCKETS),
                (dims_buckets, "dims_buckets", DIMS_BUCKETS),
            ):
                if arg is not None and arg != default:
                    raise ValueError(
                        f"store at {self.root} predates store_meta.json "
                        f"and its layout used the default {key}="
                        f"{default}; cannot open with {key}={arg} — "
                        f"open with the default, then rebucket()."
                    )
            seen_buckets, dims_buckets = SEEN_BUCKETS, DIMS_BUCKETS
        # a new store starts at one bucket per table; the crawl grows
        # it once the history leaves the broadcast tier
        self._write_meta(
            {
                "layout_version": 2,
                "seen_buckets": int(seen_buckets or 1),
                "dims_buckets": int(dims_buckets or 1),
            }
        )

    @property
    def seen_buckets(self) -> int:
        return int(self._meta["seen_buckets"])

    @property
    def dims_buckets(self) -> int:
        return int(self._meta["dims_buckets"])

    def bucket_expr(self, name: str):
        """The ``bucket`` partition value of a ``seen`` or ``dims`` row
        at the store's configured count — what every delta write and
        compaction of those tables lays out by."""
        if name == "dims":
            return F.pmod(F.xxhash64("kind", "key"), F.lit(self.dims_buckets))
        return F.pmod(F.col("url_hash"), F.lit(self.seen_buckets))

    def rebucket(
        self,
        seen_buckets: Optional[int] = None,
        dims_buckets: Optional[int] = None,
    ) -> Dict[str, Dict[str, int]]:
        """Change the physical bucket count(s) — a compaction rewrite.
        Crash-safe ordering: the new counts land in the meta FIRST
        together with a pending flag, then each affected table is
        rewritten (compact's augment recomputes buckets from the new
        count), then the flag clears. A crash at any point leaves the
        flag set, and the rewrite is finished at the next writer entry
        (``rollback_uncommitted``), which calls rebucket() again: tables
        still flagged pending are rewritten again even when their count
        is unchanged."""
        targets: Dict[str, int] = {
            name: int(self._meta[f"{name}_buckets"])
            for name in self._meta.get("rebucket_pending") or []
        }
        if seen_buckets is not None and seen_buckets != self.seen_buckets:
            targets["seen"] = int(seen_buckets)
        if dims_buckets is not None and dims_buckets != self.dims_buckets:
            targets["dims"] = int(dims_buckets)
        if not targets:
            return {}
        meta = dict(self._meta)
        for name, n in targets.items():
            meta[f"{name}_buckets"] = n
        meta["rebucket_pending"] = sorted(
            set(meta.get("rebucket_pending") or []) | set(targets)
        )
        self._write_meta(meta)
        results = self.compact(tables=sorted(targets))
        meta = dict(self._meta)
        meta.pop("rebucket_pending", None)
        self._write_meta(meta)
        return results

    # --- manifests ------------------------------------------------
    def _manifest_path(self, superstep: int) -> str:
        return os.path.join(self.root, "manifests", f"{superstep}.json")

    def last_committed(self) -> int:
        """Highest committed superstep, or -1 when none."""
        mdir = os.path.join(self.root, "manifests")
        steps = [
            int(f[:-5])
            for f in os.listdir(mdir)
            if f.endswith(".json") and f[:-5].isdigit()
        ]
        return max(steps) if steps else -1

    def read_manifest(self, superstep: int) -> dict:
        with open(self._manifest_path(superstep)) as f:
            return json.load(f)

    def manifests(self) -> List[dict]:
        return [self.read_manifest(k) for k in range(self.last_committed() + 1)]

    # --- writes ---------------------------------------------------
    def write_delta(
        self, name: str, df: DataFrame, superstep: int, partition_by=None
    ) -> None:
        path = os.path.join(self.root, name, f"superstep={superstep}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    def delta_files(self, superstep: int) -> Dict[str, Dict[str, int]]:
        """Per-partition lineage for a just-written superstep: every
        data file each delta table produced, with its footer row count
        — {table: {relative/path.parquet: rows}}. Driver-side parquet
        metadata reads only (no Spark job), the manifest-file analogue
        of an Iceberg snapshot's data-file list. One walk serves both
        the superstep's counters (``partition_counts``) and its
        manifest (``commit(files=)``)."""
        import pyarrow.parquet as pq

        out: Dict[str, Dict[str, int]] = {}
        for name in DELTA_TABLES + SNAPSHOT_TABLES:
            base = os.path.join(self.root, name, f"superstep={superstep}")
            if not os.path.isdir(base):
                continue
            files: Dict[str, int] = {}
            for dirpath, _dirs, fnames in os.walk(base):
                for fname in fnames:
                    if not fname.endswith(".parquet"):
                        continue
                    full = os.path.join(dirpath, fname)
                    files[os.path.relpath(full, base)] = pq.ParquetFile(
                        full
                    ).metadata.num_rows
            if files:
                out[name] = files
        return out

    def commit(
        self, superstep: int, counters: dict, files: Optional[dict] = None
    ) -> None:
        """Write the manifest LAST — it is the commit marker. Torn
        superstep directories without a manifest are invisible to
        readers and get overwritten on resume.

        Besides the aggregate counters, the manifest records the
        superstep's per-partition lineage (``files``: every data file
        written, with row counts — the caller's delta_files walk, or a
        fresh one). It is a lineage
        LOG of what this commit produced, not the live file listing:
        compaction later rewrites old supersteps' data into one
        coalesced superstep without editing history (Iceberg keeps old
        snapshots' manifests the same way)."""
        manifest = {
            "superstep": superstep,
            "counters": counters,
            "files": self.delta_files(superstep) if files is None else files,
        }
        write_json_atomic(
            self._manifest_path(superstep), manifest, indent=2, sort_keys=True
        )

    # --- recovery -------------------------------------------------
    def rollback_uncommitted(self) -> None:
        """The writer entry (crawl resume, each stream batch, recrawl
        invalidation). First drops what a crash left uncommitted:
        superstep dirs newer than the last committed manifest, and any
        staged swap (finished when its marker was written, dropped
        otherwise: the tables' compaction/recrawl swaps and the
        root-level Bloom rebuild swap). Then restores the hash-bucketed
        layout of ``seen`` and ``dims`` that every writer assumes: a
        rebucket a crash interrupted is finished, and a table still
        holding flat (pre-bucketed-layout) files is compacted. A no-op
        on a store that is already whole."""
        last = self.last_committed()
        recover_staged_swap(self.root)
        for name in DELTA_TABLES + SNAPSHOT_TABLES:
            tdir = os.path.join(self.root, name)
            if not os.path.isdir(tdir):
                continue
            for legacy in (".compacting", ".compacted_ready"):
                if os.path.isdir(os.path.join(tdir, legacy)):
                    raise ValueError(
                        f"{os.path.join(tdir, legacy)} was left by an "
                        f"older compaction protocol and holds rows that "
                        f"readers cannot see; move its parquet files "
                        f"back into a committed superstep dir (or "
                        f"delete it if it is a torn rewrite) first"
                    )
            recover_staged_swap(tdir)
            for entry in os.listdir(tdir):
                if entry.startswith("superstep="):
                    step = int(entry.split("=", 1)[1])
                    if step > last:
                        shutil.rmtree(os.path.join(tdir, entry))
        self.rebucket()
        flat = [
            name for name in ("seen", "dims") if not self.bucketed_layout_ok(name)
        ]
        if flat:
            self.compact(tables=flat)

    def clear(self) -> None:
        """Wipe all crawl state (fresh-run initialization): tables,
        manifests, Bloom stripes (and a staged Bloom rebuild), and the
        crawl record. The store meta stays."""
        for name in DELTA_TABLES + SNAPSHOT_TABLES + ("manifests",):
            tdir = os.path.join(self.root, name)
            if os.path.isdir(tdir):
                shutil.rmtree(tdir)
        os.makedirs(os.path.join(self.root, "manifests"), exist_ok=True)
        for d in ("bloom", SWAP_DIR):
            if os.path.isdir(os.path.join(self.root, d)):
                shutil.rmtree(os.path.join(self.root, d))
        crawl_json = os.path.join(self.root, "crawl.json")
        if os.path.exists(crawl_json):
            os.remove(crawl_json)

    # --- file listings --------------------------------------------
    def committed_steps(self, name: str) -> List[int]:
        """The supersteps k <= the last committed one that have a
        ``superstep=k`` dir in table ``name``, ascending."""
        tdir = os.path.join(self.root, name)
        if not os.path.isdir(tdir):
            return []
        last = self.last_committed()
        steps = (
            int(e.split("=", 1)[1])
            for e in os.listdir(tdir)
            if e.startswith("superstep=")
        )
        return sorted(k for k in steps if k <= last)

    def _committed_dirs(self, name: str) -> List[str]:
        tdir = os.path.join(self.root, name)
        return [
            os.path.join(tdir, f"superstep={k}") for k in self.committed_steps(name)
        ]

    def bucketed_files(self, name: str) -> Dict[int, List[str]]:
        """Committed parquet files of ``name`` grouped by their
        ``bucket=B`` dir value — the storage-partitioned join's unit of
        work (Iceberg: per-bucket data files from the manifest). Files
        under uncommitted supersteps are invisible, matching
        read_table."""
        return bucket_files(*self._committed_dirs(name))

    def seen_bucket_files(self) -> Dict[int, List[str]]:
        """The committed seen table's files grouped by hash bucket —
        the input of the storage-partitioned anti-join."""
        return self.bucketed_files("seen")

    def frontier_bucket_files(self, superstep: int) -> Dict[int, List[str]]:
        """One frontier snapshot's files per host-bucket dir ({} when
        that snapshot is flat) — the storage-partitioned politeness
        selection's work units. Unlike bucketed_files this does not
        require committed-ness: the crawl loop reads the snapshot it
        just wrote, inside the same superstep transaction (a crash
        before the manifest rolls the whole dir back). Bucket counts
        are per-snapshot (each snapshot is rewritten whole, so a count
        change between runs cannot mix layouts the way the delta
        tables could)."""
        return bucket_files(
            os.path.join(self.root, "frontier", f"superstep={superstep}")
        )

    def bucketed_layout_ok(self, name: str) -> bool:
        """True iff EVERY committed parquet file of ``name`` sits under
        a ``bucket=`` partition dir — i.e. ``bucketed_files`` sees the
        whole committed table. A store written before the bucketed
        layout existed (flat superstep dirs) returns False; the writer
        entry (``rollback_uncommitted``) then compacts the table, whose
        augment recomputes the buckets, so no superstep ever probes or
        appends to a flat table. An empty table is vacuously
        bucketed."""
        for base in self._committed_dirs(name):
            for dirpath, _dirs, files in os.walk(base):
                if not any(f.endswith(".parquet") for f in files):
                    continue
                rel = os.path.relpath(dirpath, base)
                if not any(
                    seg.startswith("bucket=") for seg in rel.split(os.sep)
                ):
                    return False
        return True

    def _table_files(self, name: str) -> int:
        tdir = os.path.join(self.root, name)
        n = 0
        for dirpath, _dirs, files in os.walk(tdir):
            if SWAP_DIR in dirpath.split(os.sep):
                continue
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    # --- compaction (rewrite_data_files analogue) -------------------
    def compact(self, tables=None) -> Dict[str, Dict[str, int]]:
        """File-count maintenance over the delta tables (one delta dir
        per superstep accumulates into the small-file problem at
        10^5-superstep scale). Offline op — run between crawls, like
        `manage clean`. Returns per-table before/after file counts."""
        results: Dict[str, Dict[str, int]] = {}
        for name in tables or DELTA_TABLES:
            augment = None
            if name == "routed":
                schema, pb = ROUTED_SCHEMA, ["record_type"]
            else:
                # seen, dims: preserve the hash-bucketed layout (bucket
                # is derived, so recompute it through the rewrite with
                # the STORE's configured count — this is also how
                # rebucket() and legacy flat-layout repair materialize)
                schema = _DELTA_SCHEMAS[name]
                pb = ["kind", "bucket"] if name == "dims" else ["bucket"]
                bucket = self.bucket_expr(name)
                augment = lambda df, b=bucket: df.withColumn(  # noqa: E731
                    "bucket", b
                )
            results[name] = self._compact_table(
                name, schema, partition_by=pb, augment=augment
            )
        return results

    def _compact_table(
        self, name: str, schema: T.StructType, partition_by=None, augment=None
    ) -> Dict[str, int]:
        """Merge all committed superstep deltas of `name` into one
        rewritten ``superstep=<last>`` directory. A crawl writes one
        delta dir per superstep, so a 10^5-superstep run accumulates
        10^5 directories — the classic small-file problem; this pass
        keeps scan planning O(files-after). ``augment`` (df -> df)
        recomputes derived partition columns (e.g. the seen table's
        bucket) before the rewrite. Crash-safe: the merged table is
        staged in ``<table>/.swap/0`` and ``commit_staged_swap`` swaps
        it in, dropping the other committed superstep dirs under the
        same marker; the next compaction or ``rollback_uncommitted``
        finishes or drops a torn swap."""
        upto = self.last_committed()
        tdir = os.path.join(self.root, name)
        recover_staged_swap(tdir)
        if upto < 0 or not os.path.isdir(tdir):
            return {"files_before": 0, "files_after": 0, "upto": upto}
        files_before = self._table_files(name)
        committed = [f"superstep={k}" for k in self.committed_steps(name)]
        merged = self.read_table(name, schema)
        if augment is not None:
            merged = augment(merged)
        # one output file per partition value (or one total): delta
        # tables are narrow; at deployment scale use Iceberg's
        # target-file-size option instead of coalesce(1)
        writer = merged.coalesce(1).write.mode("overwrite")
        if partition_by:
            writer = merged.repartition(*partition_by).write.mode(
                "overwrite"
            ).partitionBy(*partition_by)
        writer.parquet(swap_staging_dir(tdir, 0))
        target = f"superstep={upto}"
        commit_staged_swap(
            tdir, [target], drop=[d for d in committed if d != target]
        )
        return {
            "files_before": files_before,
            "files_after": self._table_files(name),
            "upto": upto,
        }

    # --- reads ----------------------------------------------------
    def read_table(self, name: str, schema: T.StructType) -> DataFrame:
        """All committed rows of a physical table, projected to
        ``schema``."""
        # only committed supersteps are visible, and they are listed
        # explicitly: a superstep=* glob makes Spark's streaming-sink
        # metadata probe log a WARN with a stack trace on every read
        paths = self._committed_dirs(name)
        if not paths:
            return local_frame(self.spark, [], schema)
        df = self.spark.read.schema(schema).option(
            "basePath", os.path.join(self.root, name)
        ).parquet(*paths)
        # project to the logical schema — physical partition columns
        # (superstep, the seen table's bucket) stay in the layout
        return df.select(*[f.name for f in schema.fields])

    def read_all(self, name: str) -> DataFrame:
        """Read a logical table across all committed supersteps. The
        pages/errors/redirects views project out of the unified routed
        table (record_type partition column prunes the scan); the
        dim_components/dim_links views out of the dims table."""
        if name in _ROUTED_VIEWS:
            rtype, schema = _ROUTED_VIEWS[name]
            routed = self.read_table("routed", ROUTED_SCHEMA)
            return routed.filter(F.col("record_type") == rtype).select(
                *[f.name for f in schema.fields]
            )
        if name in _DIM_VIEWS:
            kind, out_col = _DIM_VIEWS[name]
            dims = self.read_table("dims", DIMS_SCHEMA)
            return dims.filter(F.col("kind") == kind).select(
                F.col("key").alias(out_col)
            )
        return self.read_table(name, _DELTA_SCHEMAS[name])

    def read_frontier(self, superstep: int) -> DataFrame:
        """One superstep's full frontier snapshot."""
        path = os.path.join(self.root, "frontier", f"superstep={superstep}")
        return self.spark.read.schema(FRONTIER_SCHEMA).parquet(path)

    # --- crawl record (models.py:19-52 analogue) -------------------
    def write_crawl_record(self, record: dict) -> None:
        write_json_atomic(
            os.path.join(self.root, "crawl.json"),
            record,
            indent=2,
            sort_keys=True,
            default=str,
        )

    def read_crawl_record(self) -> Optional[dict]:
        path = os.path.join(self.root, "crawl.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)


def load_web_pages(spark: SparkSession, path: str) -> DataFrame:
    """Load a web_pages input table (input_hint shape), defaulting the
    auxiliary response-metadata columns when absent."""
    df = spark.read.parquet(path)
    cols = set(df.columns)
    if "status_code" not in cols:
        df = df.withColumn("status_code", F.lit(200))
    if "location" not in cols:
        df = df.withColumn("location", F.lit(None).cast("string"))
    if "content_type" not in cols:
        df = df.withColumn("content_type", F.lit("text/html"))
    return df
