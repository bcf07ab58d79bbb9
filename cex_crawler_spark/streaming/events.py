"""Windowed aggregations over the events table.

The reference is a cron-batch incremental crawler (SURVEY §2.12) — no
true streams — so each round recomputes its windows in batch:

- :func:`windowed_event_counts` — tumbling-window aggregation (the F1
  freshness filter's windowed form; oracle: DuckDB time_bucket);
- :func:`sessionize_events` — session windows per user (gap-based),
  batch implementation via the lag/cumsum idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def windowed_event_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Batch tumbling-window agg — oracle: DuckDB time_bucket."""
    return (
        events.groupBy(
            F.window("ts", window).alias("win"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize_events(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user: lag + cumulative-sum of
    new-session flags (the batch idiom for session windows)."""
    w_user = Window.partitionBy("user_id").orderBy("ts")
    epoch = F.unix_timestamp(F.col("ts"))  # NTZ-safe (session tz is UTC)
    flagged = events.withColumn(
        "new_session",
        ((epoch - F.lag(epoch).over(w_user)) > gap_minutes * 60).cast("int"),
    ).withColumn("new_session", F.coalesce("new_session", F.lit(1)))
    sessions = flagged.withColumn(
        "session_no", F.sum("new_session").over(w_user)
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
