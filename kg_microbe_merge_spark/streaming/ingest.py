"""Structured-Streaming ingestion for the web-KG pipeline.

The reference is strictly batch (SURVEY.md §2 streaming row) — its only
"streaming-ish" concept is the resumability flag. This module is the
Spark-native extension for continuous crawling: the same extraction /
triple / KGX stages run as a streaming query over an append-only corpus
table (file source standing in for Iceberg incremental reads), with
exactly-once sink semantics via the streaming checkpoint, plus a
watermarked tumbling-window crawl-rate aggregation for monitoring.

The html → triples transformation is the IDENTICAL plan ``run_pipeline``
runs in batch (``functions/triples.triples_from_corpus``) — one
definition, two execution modes; its ``mapInPandas`` is stateless and
deterministic, so it is safe under streaming re-execution.

Batch-incremental testing uses ``Trigger.AvailableNow`` so a test (or a
cron-style incremental job, the Iceberg pattern) drains everything
currently in the source and stops — resuming later from the checkpoint
picks up only new files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.triples import triples_from_corpus
from ..sources.corpus import CORPUS_SCHEMA


def read_corpus_stream(
    spark: SparkSession, corpus_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming read of the corpus directory (schema pinned — no
    inference job per micro-batch)."""
    reader = spark.readStream.schema(CORPUS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(corpus_dir)


def crawl_rate(
    corpus_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window ingest monitoring: docs and distinct-
    ish url count per (window, lang). Late rows beyond the watermark are
    dropped; state is bounded by watermark horizon."""
    return (
        corpus_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("lang"))
        .agg(
            F.count("*").alias("n_docs"),
            F.approx_count_distinct("url").alias("n_urls"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_docs",
            "n_urls",
        )
    )


def run_triples_stream(
    spark: SparkSession,
    corpus_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Launch the corpus→triples streaming query writing parquet with
    exactly-once file-sink semantics: (url, subj, pred, obj, conf) rows
    of the en documents, by the batch plan ``triples_from_corpus`` —
    stateless per-row transforms only, so no state store is involved.
    ``available_now=True`` drains the current source contents and stops
    (incremental-batch mode); False runs continuously."""
    stream = triples_from_corpus(read_corpus_stream(spark, corpus_dir))
    writer = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
