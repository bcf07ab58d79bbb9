"""Host-health windows — adaptive politeness per tumbling window.

The batch tier (operators/recrawl.py adaptive_host_delay) recomputes
per-host delays from the whole attempt log between rounds; this tier
computes the same signal per tumbling window, so the NEXT round's
policy fold can read the latest window instead of the full log.
Correctness is proven against a DuckDB time_bucket oracle.

The windowed tier clamps 3× the window MEAN latency (sum/count — both
integers) instead of the whole-log tier's p95; the whole-log op remains
the authority when both exist, and the same floor/ceiling/error-doubling
rules apply (all integer arithmetic, engine-exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DELAY_FLOOR_MS = 200
DELAY_CEIL_MS = 60_000


def host_health_windows(
    attempts: DataFrame, window: str = "10 minutes"
) -> DataFrame:
    """Batch form — oracle: DuckDB time_bucket + the same integer fold."""
    g = (
        attempts.groupBy(F.window("ts", window).alias("win"), F.col("host"))
        .agg(
            F.count("*").alias("n_attempts"),
            F.sum((~F.col("ok")).cast("long")).alias("n_errors"),
            F.sum("latency_ms").alias("__lat_sum"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "host",
            "n_attempts",
            "n_errors",
            F.expr("__lat_sum div n_attempts").alias("mean_latency_ms"),
        )
    )
    base = F.least(
        F.lit(DELAY_CEIL_MS).cast("long"),
        F.greatest(
            F.lit(DELAY_FLOOR_MS).cast("long"),
            3 * F.col("mean_latency_ms"),
        ),
    )
    # error rate > 0.3 doubles the delay — integer cross-multiplication
    return g.withColumn(
        "delay_ms",
        F.least(
            F.lit(DELAY_CEIL_MS).cast("long"),
            F.when(
                F.col("n_errors") * 10 > F.col("n_attempts") * 3, base * 2
            ).otherwise(base),
        ),
    )
