"""Structured Streaming variants of the batch plans.

The reference's only streaming-ish behavior is incremental result persistence
(/root/reference/src/batch_doc_vqa/openrouter/inference.py:2206-2207); the
Spark-native generalization is a real stream: pages/events arrive as files,
the same extraction UDF / windowed aggregations run incrementally, watermarks
bound state for late data, and checkpointing gives exactly-once sinks — the
streaming twin of the batch lineage/resume discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import extract_udf


def hourly_rollup_stream(
    spark: SparkSession,
    events_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    watermark: str = "2 hours",
) -> DataFrame:
    """File-source stream → watermarked tumbling-window counts per type."""
    stream = spark.readStream.schema(schema).parquet(events_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def extraction_stream(spark: SparkSession, pages_dir: str) -> DataFrame:
    """Streaming extraction: same Arrow UDF, incremental over arriving files.

    Pair with an available-now trigger + checkpointLocation for an
    incremental batch job with exactly-once sink semantics.
    """
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    return stream.withColumn("_ex", extract_udf(F.col("html"))).select(
        "url",
        "warc_ts",
        "lang",
        F.col("_ex.text").alias("text"),
        F.col("_ex.status").alias("status"),
        F.length("_ex.text").alias("n_chars"),
    )
