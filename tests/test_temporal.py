"""As-of join semantics: inclusivity, left-outer nulls, key isolation."""

from pyspark.sql import functions as F

from cex_crawler_spark.operators.temporal import asof_join


def test_asof_backward_inclusive_semantics(spark):
    left = spark.createDataFrame(
        [(1, 100, "2024-01-01 10:00:00"),
         (2, 100, "2024-01-01 11:00:00"),
         (3, 100, "2024-01-01 09:00:00"),   # before any right row → null
         (4, 200, "2024-01-01 10:30:00")],  # other key, isolated
        "event_id long, user_id long, ts_s string",
    ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
    right = spark.createDataFrame(
        [(100, "2024-01-01 10:00:00", 1.0),   # equal ts → INCLUSIVE match
         (100, "2024-01-01 10:30:00", 2.0),
         (200, "2024-01-01 10:00:00", 9.0)],
        "user_id long, ts_s string, px double",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "px")

    out = {
        r["event_id"]: r["px"]
        for r in asof_join(
            left, right, on=["user_id"], ts_col="ts", value_cols=["px"]
        ).collect()
    }
    assert out == {1: 1.0, 2: 2.0, 3: None, 4: 9.0}


def test_asof_randomized_vs_bruteforce_twin(spark):
    """500 random left rows × 200 random right rows over 20 keys,
    seeded: the union+window as-of must equal the brute-force
    definition (max right.ts ≤ left.ts per key) on every row."""
    import numpy as np

    from cex_crawler_spark.operators.temporal import asof_join

    rng = np.random.default_rng(20260817)
    lrows = [
        (int(i), int(rng.integers(0, 20)), int(rng.integers(0, 10_000)))
        for i in range(500)
    ]
    # unique (key, ts) on the right — the documented caller contract
    seen = set()
    rrows = []
    while len(rrows) < 200:
        k, t = int(rng.integers(0, 20)), int(rng.integers(0, 10_000))
        if (k, t) not in seen:
            seen.add((k, t))
            rrows.append((k, t, float(len(rrows))))
    left = spark.createDataFrame(lrows, "event_id long, k long, ts long")
    right = spark.createDataFrame(rrows, "k long, ts long, v double")

    got = {
        r["event_id"]: r["v"]
        for r in asof_join(left, right, on=["k"], ts_col="ts",
                           value_cols=["v"]).collect()
    }
    by_key: dict[int, list] = {}
    for k, t, v in rrows:
        by_key.setdefault(k, []).append((t, v))
    for eid, k, t in lrows:
        prior = [(rt, v) for rt, v in by_key.get(k, []) if rt <= t]
        want = max(prior)[1] if prior else None
        assert got[eid] == want, (eid, k, t)


def test_asof_forward_direction(spark):
    """Forward as-of: nearest at-or-after right row, inclusive; rows
    with no following right row get nulls; randomized brute-force twin
    (same 500×200 grid as the backward twin test)."""
    import numpy as np

    left = spark.createDataFrame(
        [(1, 7, 10), (2, 7, 8), (3, 7, 99)],
        "event_id long, k long, ts long",
    )
    right = spark.createDataFrame(
        [(7, 8, 1.0), (7, 20, 2.0)], "k long, ts long, v double"
    )
    out = {
        r["event_id"]: r["v"]
        for r in asof_join(left, right, on=["k"], ts_col="ts",
                           value_cols=["v"], direction="forward").collect()
    }
    assert out == {1: 2.0, 2: 1.0, 3: None}  # 2: equal-ts inclusive

    rng = np.random.default_rng(20260817)
    lrows = [
        (int(i), int(rng.integers(0, 20)), int(rng.integers(0, 10_000)))
        for i in range(500)
    ]
    seen = set()
    rrows = []
    while len(rrows) < 200:
        k, t = int(rng.integers(0, 20)), int(rng.integers(0, 10_000))
        if (k, t) not in seen:
            seen.add((k, t))
            rrows.append((k, t, float(len(rrows))))
    l_df = spark.createDataFrame(lrows, "event_id long, k long, ts long")
    r_df = spark.createDataFrame(rrows, "k long, ts long, v double")
    got = {
        r["event_id"]: r["v"]
        for r in asof_join(l_df, r_df, on=["k"], ts_col="ts",
                           value_cols=["v"],
                           direction="forward").collect()
    }
    by_key: dict[int, list] = {}
    for k, t, v in rrows:
        by_key.setdefault(k, []).append((t, v))
    for eid, k, t in lrows:
        nxt = [(rt, v) for rt, v in by_key.get(k, []) if rt >= t]
        want = min(nxt)[1] if nxt else None
        assert got[eid] == want, (eid, k, t)


def test_asof_null_value_from_latest_row_wins(spark):
    """ADVICE r4: per-column last(ignorenulls) reached PAST a null to an
    older row's value.  The struct fill must return the latest matching
    row's values even when one of them is null (DuckDB ASOF semantics),
    while rows with NO prior right row still get full nulls."""
    left = spark.createDataFrame(
        [(1, 7, 10), (2, 7, 30), (3, 7, 5)],
        "event_id long, k long, ts long",
    )
    right = spark.createDataFrame(
        [(7, 8, 1.0, "a"), (7, 20, None, "b")],
        "k long, ts long, px double, tag string",
    )
    out = {
        r["event_id"]: (r["px"], r["tag"])
        for r in asof_join(
            left, right, on=["k"], ts_col="ts", value_cols=["px", "tag"]
        ).collect()
    }
    assert out[1] == (1.0, "a")
    assert out[2] == (None, "b")   # latest row's null px, NOT 1.0
    assert out[3] == (None, None)  # nothing at-or-before


def test_asof_duplicate_right_rows_enforced(spark):
    """VERDICT r4 item 7: a duplicate (key, ts) right side is no longer
    a silent nondeterminism source.  Default 'max' pre-aggregates
    deterministically (greatest value struct wins, stable across
    partitioning); 'raise' refuses; 'max' is a no-op on unique input."""
    import pytest

    left = spark.createDataFrame([(1, 7, 10)], "event_id long, k long, ts long")
    dup_right = spark.createDataFrame(
        [(7, 5, 1.0, "lo"), (7, 5, 9.0, "hi"), (7, 5, 9.0, "aa")],
        "k long, ts long, px double, tag string",
    )
    for parts in (1, 7):
        out = asof_join(
            left,
            dup_right.repartition(parts),
            on=["k"], ts_col="ts", value_cols=["px", "tag"],
        ).collect()[0]
        # struct-lexicographic max: px 9.0 beats 1.0, then tag "hi" > "aa"
        assert (out["px"], out["tag"]) == (9.0, "hi")

    with pytest.raises(ValueError, match="duplicate"):
        asof_join(
            left, dup_right, on=["k"], ts_col="ts",
            value_cols=["px", "tag"], duplicates="raise",
        )
    # unique right under 'raise' passes and matches 'max'
    uniq = dup_right.dropDuplicates(["k", "ts"])
    a = asof_join(left, uniq, on=["k"], ts_col="ts",
                  value_cols=["px"], duplicates="raise").collect()
    assert a[0]["px"] is not None


def test_range_join_matches_naive_inequality_join(spark):
    """Bucketization must be invisible: same rows as the naive
    inequality join, for intervals that span 0, 1, and many buckets —
    including boundary-inclusive endpoints."""
    from cex_crawler_spark.operators.temporal import range_join

    pts = spark.createDataFrame(
        [(i,) for i in range(0, 100)], "p long"
    )
    iv = spark.createDataFrame(
        [(1, 5, 5),      # single point
         (2, 3, 9),      # inside one bucket
         (3, 10, 45),    # many buckets
         (4, 98, 120)],  # runs past the data
        "iv_id long, s long, e long",
    )
    got = {
        (r["iv_id"], r["p"])
        for r in range_join(pts, iv, "p", "s", "e", bucket_width=7).collect()
    }
    naive = {
        (r["iv_id"], r["p"])
        for r in pts.join(
            iv, (F.col("p") >= F.col("s")) & (F.col("p") <= F.col("e"))
        ).collect()
    }
    assert got == naive and len(got) == 1 + 7 + 36 + 2


def test_range_join_plan_is_hash_join(spark):
    from cex_crawler_spark.operators.temporal import range_join

    pts = spark.range(10).select(F.col("id").alias("p"))
    iv = spark.range(5).select(
        F.col("id").alias("iv_id"), F.col("id").alias("s"),
        (F.col("id") + 3).alias("e"),
    )
    plan = (
        range_join(pts, iv, "p", "s", "e", bucket_width=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_plan_has_no_range_join(spark):
    """The scale property: the plan is window-over-union — no
    BroadcastNestedLoop / cartesian from a range condition."""
    left = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").cast("timestamp").alias("ts")
    )
    right = spark.range(5).select(
        F.col("id").alias("k"), F.col("id").cast("timestamp").alias("ts"),
        F.lit(1.0).alias("v"),
    )
    plan = (
        asof_join(left, right, on=["k"], ts_col="ts", value_cols=["v"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
