"""Structured Streaming ingest of the pages table (SURVEY §2.10).

The reference is batch-only; the engine's streaming obligation is
incremental processing of newly-crawled pages: a file-source stream over
the pages directory, watermarked tumbling-window crawl statistics, and a
``foreachBatch`` sink that scores each micro-batch with the SAME
golden-verified batch pipeline (no second code path to drift).

At production scale the source would be ``readStream.format("iceberg")``
(or Kafka) — identical downstream code; the file source is what the
sandbox supports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def crawl_stats_query(pages: DataFrame, checkpoint_dir: str,
                      window: str = "1 hour",
                      watermark: str = "2 hours"):
    """Watermarked tumbling-window page counts per lang.

    Output mode matches the sink's semantics: the memory sink APPENDS
    whatever each trigger emits, so update mode would leave one stale row
    per re-triggered (window, lang) and any consumer that aggregates the
    table double-counts.  complete mode replaces the table every trigger
    — correct for the queryable-table consumer this sandbox demo serves.
    Know the complete-mode trade: Spark then neither drops late rows nor
    evicts aggregation state (the watermark is inert), so state and the
    driver-side table grow with the window count — fine for a bounded
    demo replay, unbounded on a continuous feed.  At production scale
    this aggregation runs in update mode into an upsert sink (Delta
    MERGE / Kafka compacted topic), where the watermark drops late data
    and bounds state; the memory sink is the sandbox stand-in, not the
    scale path."""
    agg = (pages
           .withWatermark("warc_ts", watermark)
           .groupBy(F.window("warc_ts", window), F.col("lang"))
           .agg(F.count("*").alias("n_pages"),
                F.sum(F.octet_length("html")).alias("bytes_html")))
    return (agg.writeStream.outputMode("complete")
            .option("checkpointLocation", checkpoint_dir)
            .format("memory"))


def scoring_sink(pages: DataFrame, out_dir: str, checkpoint_dir: str):
    """foreachBatch incremental scoring: each micro-batch runs the batch
    pipeline and appends to a parquet sink keyed by batch id (idempotent
    restart: Structured Streaming replays a failed batch with the same id,
    and the overwrite-by-batch partition makes the replay a no-op)."""
    from ..operators.pipeline import score_pages

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = score_pages(batch_df)
        (scored.withColumn("_batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id").parquet(out_dir))

    return (pages.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir))
