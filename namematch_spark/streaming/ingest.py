"""Structured-Streaming ingest: incremental page/record arrival.

The reference is batch-only (SURVEY.md §2.10); the engine adds the
streaming surface a continuously-crawled corpus needs: new pages arrive
as a stream, are preprocessed incrementally with the SAME narrow
transforms as the batch path (one code path, two execution modes), and
windowed arrival metrics are maintained with watermarked aggregation.

Blocking and scoring are not streamed: LSH banding needs the full
distinct-name state, so they run as batch jobs over the accumulated
records.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from namematch_spark.operators.preprocess import preprocess


def stream_preprocess(raw_stream: DataFrame) -> DataFrame:
    """Apply the batch preprocess transform to a streaming DataFrame —
    every P-op is a stateless narrow expression, so it is
    streaming-compatible unchanged."""
    return preprocess(raw_stream)


def arrival_stats(pages_stream: DataFrame,
                  ts_col: str = "warc_ts",
                  window: str = "1 hour",
                  watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window arrival counts per language —
    late pages beyond the watermark are dropped deterministically."""
    return (
        pages_stream
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"),
                 F.col("lang"))
        .agg(F.count("*").alias("n_pages"),
             F.sum(F.length("text")).alias("total_chars"))
        .select(F.col("w.start").alias("window_start"),
                "lang", "n_pages", "total_chars")
    )
