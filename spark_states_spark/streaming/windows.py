"""Streaming windowed aggregation — the engine's flagship stateful operator.

This is the canonical workload the reference's state store exists to serve
(``README.md:17-19``): a watermarked streaming aggregation whose running
per-(window, key) aggregates live in the RocksDB state store between
micro-batches, one version per commit (Provider.scala:44-47).

Output windows are emitted as second-granularity strings so results are
comparable with the DuckDB oracle (events.ts is nanosecond-precision in
parquet; Spark reads microseconds — both floor cleanly to seconds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import read_stream
from .runner import STATE_PARTS, run_stream_to_table


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Windowed count/sum per event_type over an events stream DataFrame."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win, "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_counts_stream(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window count/sum per event_type over the events stream."""
    return windowed_counts(read_stream(spark, sf_dir, "events"), window, watermark)


def streaming_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the flagship streaming aggregation to completion (batch result).

    Complete output mode: the final state of every window — equivalent to a
    batch GROUP BY over the same data, which is exactly what the DuckDB
    oracle checks.
    """
    return run_stream_to_table(
        windowed_counts_stream(spark, sf_dir), output_mode="complete",
        parts=STATE_PARTS,
    )
