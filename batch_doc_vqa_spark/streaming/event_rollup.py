"""``hourly_rollup_stream``: watermarked hourly event counts as files arrive."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup_stream import EVENTS_SCHEMA


def hourly_rollup_stream(
    spark: SparkSession,
    events_dir: str,
    schema: str = EVENTS_SCHEMA,
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
