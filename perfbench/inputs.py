"""Seeded crawl inputs built on ``cex_crawler_spark.synth``.

``synth.gen_frontier`` is a pure function of the row id, so it has no
seed of its own.  The benchmark derives a seeded variant that keeps the
generator's shape (host shares, duplicate / robots / stale rates) and
changes the inputs the engine sees:

- every URL path gains an ``s<seed>`` segment after ``/a/``, so two
  seeds never share a canonical URL or ``url_hash``; the ``/private``
  robots prefix and the surface noise (case, slash, fragment, tracking
  query) are untouched;
- every announcement gets its own payload, numbered from ``seed * n``, as
  in production where no two announcements share an image.  A duplicate
  URL keeps the payload of the announcement it duplicates.  Each seed
  therefore fetches its own images, whose sizes and formats differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cex_crawler_spark.synth import gen_frontier

WATERMARK = "2025-08-29 00:00:00"


def seeded_frontier(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """``gen_frontier(spark, n)`` moved to the seed's own URLs and
    payloads."""
    if seed < 0:
        raise ValueError(f"seed must be >= 0: {seed}")
    announcement = F.coalesce(
        F.regexp_extract("duplicate_of", r"^seed:(\d+)$", 1).cast("long"),
        F.col("seed_id"),
    )
    return (
        gen_frontier(spark, n, n_payloads=n)
        .withColumn("url", F.regexp_replace("url", "/a/", f"/a/s{seed}/"))
        .withColumn(
            "image_id",
            F.format_string("img%010d", announcement + F.lit(seed * n)),
        )
    )


def full_budget(policy: DataFrame, budget: int) -> DataFrame:
    """The host policy with one per-round budget for every host."""
    return policy.withColumn(
        "budget_per_round", F.lit(budget).cast(T.IntegerType())
    )
