"""Trending-term windows — what the crawl is SAYING, per window.

Breaking-topic detection over crawled pages (a burst of pages all
carrying one term = an event worth steering budget toward): per
(tumbling window, term) occurrence counts; page-level distincts and
top-k ranking are left to the caller (the batch query ranks over the
counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def trending_term_windows(
    pages: DataFrame, window: str = "10 minutes"
) -> DataFrame:
    """Batch form — oracle: DuckDB time_bucket + the same counts."""
    return (
        pages.select(
            F.window("ts", window).alias("win"),
            F.explode(tokens(F.col("text"))).alias("term"),
        )
        .groupBy("win", "term")
        .agg(F.count("*").alias("n_occurrences"))
        .select(
            F.col("win.start").alias("window_start"),
            "term",
            "n_occurrences",
        )
    )
