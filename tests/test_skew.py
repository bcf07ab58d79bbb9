"""Skew-safe salted aggregation: exactness vs the naive forms on a
deliberately skewed key, plus the no-window plan guarantee."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cex_crawler_spark.operators.skew import (
    salted_distinct_count,
    salted_topk,
)


@pytest.fixture(scope="module")
def skewed(spark):
    """4,000 rows; key 'hot' owns 50 % of them (the shape that
    serializes a per-key window into one task)."""
    df = (
        spark.range(4000)
        .select(
            F.col("id"),
            F.when(F.col("id") % 2 == 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 7).cast("string")))
            .alias("key"),
            F.pmod(F.xxhash64("id"), F.lit(977)).alias("score"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(5)).alias("val"),
        )
        .persist()
    )
    df.count()
    yield df
    df.unpersist()


def _window_topk(df, k):
    w = Window.partitionBy("key").orderBy(
        F.col("score").desc(), F.col("id").desc()
    )
    return (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def test_salted_topk_equals_window(spark, skewed):
    got = salted_topk(skewed, ["key"], ["score", "id"], 10, salt_buckets=8)
    want = _window_topk(skewed, 10)
    cols = ["key", "id", "score", "val", "rank"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


def test_salted_topk_k_exceeds_group(spark, skewed):
    """k larger than some groups: every row comes back, ranks dense."""
    small = skewed.filter(F.col("key") != "hot")
    got = salted_topk(small, ["key"], ["score", "id"], 10_000, salt_buckets=4)
    assert got.count() == small.count()
    want = _window_topk(small, 10_000)
    assert sorted(map(tuple, got.select("key", "id", "rank").collect())) == \
        sorted(map(tuple, want.select("key", "id", "rank").collect()))


def test_salted_topk_plan_has_no_window(spark, skewed):
    """The point of the operator: no per-key window sort anywhere in the
    physical plan (a hot key never serializes into one task)."""
    plan = salted_topk(
        skewed, ["key"], ["score", "id"], 5
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_salted_distinct_count_equals_naive(spark, skewed):
    got = salted_distinct_count(skewed, ["key"], "val", salt_buckets=8)
    want = skewed.groupBy("key").agg(
        F.count_distinct("val").alias("val_distinct")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_salted_topk_deterministic(spark, skewed):
    a = salted_topk(skewed, ["key"], ["score", "id"], 7, salt_buckets=3)
    b = salted_topk(skewed, ["key"], ["score", "id"], 7, salt_buckets=16)
    # different bucket counts, identical exact result
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


class TestBudgetAllocation:
    def test_largest_remainder_exact_and_ties(self, spark):
        """Hamilton apportionment: sum(budget) == total exactly; +1s go
        to largest integer remainders; remainder ties break on key ASC."""
        from cex_crawler_spark.operators.allocation import allocate_budget

        # W=10, total=7 → quotas 2.8/2.8/1.4 → bases 2/2/1, r=2, rems
        # 8/8/4 (×W) → hosts a,b get +1 (tie 8-8 includes both)
        w = spark.createDataFrame(
            [("a", 4), ("b", 4), ("c", 2)], "host string, weight long"
        )
        got = {
            r["host"]: r["budget"]
            for r in allocate_budget(w, "host", "weight", 7).collect()
        }
        assert got == {"a": 3, "b": 3, "c": 1}

        # tie where only ONE +1 remains: key ASC wins
        w2 = spark.createDataFrame(
            [("x", 1), ("y", 1)], "host string, weight long"
        )
        got2 = {
            r["host"]: r["budget"]
            for r in allocate_budget(w2, "host", "weight", 3).collect()
        }
        assert got2 == {"x": 2, "y": 1}

    def test_matches_naive_window_and_edge_rs(self, spark):
        """Bucketed selection == plain global-window implementation on
        300 pseudo-random weights, for several totals including exact
        division (r=0) and r close to n."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from cex_crawler_spark.operators.allocation import allocate_budget

        w = spark.range(300).select(
            F.format_string("h%03d", F.col("id").cast("int")).alias("host"),
            (F.pmod(F.xxhash64("id"), F.lit(97)) + 1).alias("weight"),
        ).persist()
        W = w.agg(F.sum("weight")).first()[0]
        for total in (1, 17, int(W), 5000, 299):
            got = {
                r["host"]: r["budget"]
                for r in allocate_budget(
                    w, "host", "weight", total, n_value_buckets=16
                ).collect()
            }
            naive = (
                w.select(
                    "host",
                    F.expr(f"(CAST({total} AS BIGINT) * weight) div {W}").alias("base"),
                    F.expr(f"(CAST({total} AS BIGINT) * weight) % {W}").alias("rem"),
                )
            )
            r_total = total - naive.agg(F.sum("base")).first()[0]
            ranked = naive.withColumn(
                "rn",
                F.row_number().over(
                    Window.orderBy(F.col("rem").desc(), F.col("host").asc())
                ),
            )
            want = {
                r["host"]: r["base"] + (1 if r["rn"] <= r_total else 0)
                for r in ranked.collect()
            }
            assert got == want, total
            assert sum(got.values()) == total, total
        w.unpersist()

    def test_zero_weights_get_zero(self, spark):
        from cex_crawler_spark.operators.allocation import allocate_budget

        w = spark.createDataFrame(
            [("a", 5), ("b", 0), ("c", 5)], "host string, weight long"
        )
        got = {
            r["host"]: r["budget"]
            for r in allocate_budget(w, "host", "weight", 101).collect()
        }
        assert got["b"] == 0 and sum(got.values()) == 101


class TestTemperatureMix:
    def _corpus(self, spark):
        # big: 64 docs, mid: 16, tiny: 4 — α-flattening ground truth
        rows = (
            [("big", f"b{i}") for i in range(64)]
            + [("mid", f"m{i}") for i in range(16)]
            + [("tiny", f"t{i}") for i in range(4)]
        )
        return spark.createDataFrame(rows, ["source", "doc_id"])

    def test_alpha_flattens_and_caps(self, spark):
        from cex_crawler_spark.operators.allocation import temperature_mix

        d = self._corpus(spark)
        # α = 0.5 (exact sqrt): weights 8:4:2 over total 42
        got = {
            r["source"]: r
            for r in temperature_mix(d, "source", alpha=0.5, total=42).collect()
        }
        assert got["big"]["weight"] == 8_000_000
        assert got["mid"]["weight"] == 4_000_000
        assert got["tiny"]["weight"] == 2_000_000
        assert sum(r["target"] for r in got.values()) == 42
        # exact proportional split: 24 / 12 / 6
        assert [got[s]["target"] for s in ("big", "mid", "tiny")] == [24, 12, 6]
        # tiny's 6 > its 4 docs → capped; others uncapped
        assert got["tiny"]["target_capped"] == 4
        assert got["big"]["target_capped"] == 24
        # α = 1 recovers natural proportions exactly (84 docs, total 84)
        nat = {
            r["source"]: r["target"]
            for r in temperature_mix(d, "source", alpha=1.0, total=84).collect()
        }
        assert nat == {"big": 64, "mid": 16, "tiny": 4}

    def test_flattening_is_monotone_in_alpha(self, spark):
        from cex_crawler_spark.operators.allocation import temperature_mix

        d = self._corpus(spark)
        shares = {}
        for a in (0.3, 0.7, 1.0):
            got = {
                r["source"]: r["target"]
                for r in temperature_mix(d, "source", alpha=a, total=1000).collect()
            }
            shares[a] = got["big"] / 1000
        # lower α → dominant source's share shrinks toward uniform
        assert shares[0.3] < shares[0.7] < shares[1.0]

    def test_take_stratified_counts_and_determinism(self, spark):
        from cex_crawler_spark.operators.allocation import (
            take_stratified,
            temperature_mix,
        )

        d = self._corpus(spark)
        t = temperature_mix(d, "source", alpha=0.5, total=42)
        out = take_stratified(d, t, "source", "doc_id")
        sizes = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert sizes == {"big": 24, "mid": 12, "tiny": 4}
        # reproducible: identical doc set on re-run
        a = sorted(r["doc_id"] for r in out.collect())
        b = sorted(
            r["doc_id"]
            for r in take_stratified(d, t, "source", "doc_id").collect()
        )
        assert a == b
        # a different seed picks a different subset of the big source
        c = sorted(
            r["doc_id"]
            for r in take_stratified(d, t, "source", "doc_id", seed=7).collect()
        )
        assert a != c

    def test_alpha_domain_guard(self, spark):
        import pytest

        from cex_crawler_spark.operators.allocation import temperature_mix

        with pytest.raises(ValueError):
            temperature_mix(self._corpus(spark), "source", alpha=0.0, total=10)


class TestByteBudget:
    def _cand(self, spark, rows):
        return spark.createDataFrame(
            [(i, b) for i, b in enumerate(rows)], "okey long, est_bytes long"
        )

    def test_matches_naive_global_window(self, spark):
        """Chunked cumsum prefix == the single-task global-window prefix,
        across chunk boundaries."""
        from pyspark.sql.window import Window

        from cex_crawler_spark.operators.allocation import take_byte_budget

        cand = spark.range(500).select(
            F.col("id").alias("okey"),
            (100 + (F.col("id") * 48271) % 900).alias("est_bytes"),
        )
        got = take_byte_budget(cand, "okey", "est_bytes", 120_000, chunk_width=64)
        naive = cand.withColumn(
            "cum_bytes",
            F.sum("est_bytes").over(
                Window.orderBy("okey").rowsBetween(Window.unboundedPreceding, 0)
            ),
        ).withColumn("taken", F.col("cum_bytes") <= 120_000)
        assert sorted(map(tuple, got.select("okey", "cum_bytes", "taken").collect())) == sorted(
            map(tuple, naive.select("okey", "cum_bytes", "taken").collect())
        )
        taken = got.filter("taken").count()
        assert 0 < taken < 500

    def test_prefix_contiguous_and_boundary_excluded(self, spark):
        """The row that would cross the budget is excluded, along with
        everything after it — even zero-byte rows (the cumsum already
        contains the boundary row's bytes)."""
        from cex_crawler_spark.operators.allocation import take_byte_budget

        cand = self._cand(spark, [400, 400, 300, 0, 10])
        got = {
            r["okey"]: r["taken"]
            for r in take_byte_budget(cand, "okey", "est_bytes", 1000, chunk_width=2).collect()
        }
        assert got == {0: True, 1: True, 2: False, 3: False, 4: False}

    def test_degenerate_budgets(self, spark):
        from cex_crawler_spark.operators.allocation import take_byte_budget

        cand = self._cand(spark, [400, 400, 300])
        assert (
            take_byte_budget(cand, "okey", "est_bytes", 1_000_000).filter("taken").count()
            == 3
        )
        assert (
            take_byte_budget(cand, "okey", "est_bytes", 399).filter("taken").count()
            == 0
        )
