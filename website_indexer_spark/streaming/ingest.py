"""Structured Streaming skin over the extraction pipeline.

The reference's crawl loop is iterative-batch (SURVEY.md §2.E: no
streaming constructs), but the engine's extraction path composes
directly with Structured Streaming for the continuous-ingest shape a
production crawler feeds: WARC/page rows land in a directory (or
Kafka topic on a real cluster), and a streaming query extracts and
appends to the pages/errors/redirects tables incrementally.

Operators here:
* stream_web_pages     — file-source readStream with the input_hint
                         schema (maxFilesPerTrigger bounds batch size)
* extract_stream       — the batch superstep's route-in-one-projection
                         plan builders (plans/crawl.py), so batch and
                         streaming share one extraction semantics
                         definition and one Python pass per row
* write_routed_stream  — append-mode parquet sink partitioned by
                         record_type, exactly-once via the streaming
                         checkpoint (the streaming analogue of the
                         CrawlStore manifest protocol)
* windowed_page_rate   — event-time tumbling-window page counts with
                         a watermark for late WARC timestamps

All transformations are the same JVM-side expressions + the one
pandas UDF; nothing here is micro-batch-specific, so the same code
runs with `trigger(availableNow=True)` for tests and processingTime
triggers in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from website_indexer_spark.functions.udfs import with_url_parts
from website_indexer_spark.plans.crawl import (
    route_and_extract,
    with_effective_status,
)
from website_indexer_spark.sources.tables import WEB_PAGES_SCHEMA


def stream_web_pages(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def extract_stream(pages: DataFrame, start_host: str, crawl_id: int = 1) -> DataFrame:
    """Route + extract with the batch superstep's own plan builders
    (plans/crawl.py ``with_effective_status`` + ``route_and_extract``),
    so the kernel runs once per row here too; streaming sources have no
    frontier metadata, so depth/discovery_seq/referrer are absent."""
    df = route_and_extract(with_effective_status(with_url_parts(pages)), start_host)
    is_page = F.col("record_type") == "page"
    return df.select(
        "record_type",
        F.lit(crawl_id).alias("crawl_id"),
        F.col("warc_ts").alias("timestamp"),
        "url",
        F.col("ex.title").alias("title"),
        F.col("ex.language").alias("language"),
        F.col("ex.text").alias("text"),
        F.when(is_page, F.decode(F.col("html"), "UTF-8")).alias("html"),
        F.col("ex.links").alias("links"),
        F.col("ex.components").alias("components"),
        F.when(~is_page, F.col("eff_status").cast("int")).alias("status_code"),
        F.when(F.col("record_type") == "redirect", F.col("location")).alias(
            "location"
        ),
    )


def write_routed_stream(
    routed: DataFrame, out_path: str, checkpoint_path: str, available_now: bool = True
):
    """Append sink with exactly-once checkpointing. Returns the
    StreamingQuery (caller awaits termination)."""
    writer = (
        routed.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("record_type")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_page_rate(
    routed: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time page-ingest rate with late-data tolerance: count of
    extracted pages per (tumbling window, language)."""
    return (
        routed.filter(F.col("record_type") == "page")
        .withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", window).alias("w"), F.col("language"))
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "language", "n_pages")
    )
