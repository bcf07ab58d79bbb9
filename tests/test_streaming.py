"""Windowed event semantics: gap-based sessionization per user (the
tumbling-window and health/trending windows are checked against DuckDB
oracles in test_oracle_parity)."""


def test_sessionize_gap_semantics(spark):
    from datetime import datetime

    from cex_crawler_spark.streaming.events import sessionize_events

    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0), 1.0),
        (1, datetime(2024, 1, 1, 0, 10, 0), 2.0),   # same session (10m gap)
        (1, datetime(2024, 1, 1, 1, 0, 0), 3.0),    # new session (50m gap)
        (2, datetime(2024, 1, 1, 0, 0, 0), 4.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r["user_id"], r["session_no"]): (r["n_events"], r["sum_value"])
        for r in sessionize_events(df, gap_minutes=30).collect()
    }
    assert got == {(1, 1): (2, 3.0), (1, 2): (1, 3.0), (2, 1): (1, 4.0)}
