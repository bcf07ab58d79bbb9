"""Bloom semi-join reduction (operators/joins.py)."""

import pytest
from pyspark.sql import functions as F

from cex_crawler_spark.operators.joins import bloom_filtered_join


def _sides(spark, n_fact=20_000, n_build=300):
    # fact keys span 0..n_fact/4 (so ~1/4 of the key space matches);
    # build keys are a small arithmetic subset → most fact rows can
    # never match and should die scan-side.
    fact = spark.range(n_fact).select(
        ((F.col("id") * 48271) % (n_fact // 4)).alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    build = spark.range(n_build).select(
        (F.col("id") * 13).alias("k"), (F.col("id") % 7).alias("w")
    )
    return fact, build


def test_bloom_join_equals_plain_join(spark):
    fact, build = _sides(spark)
    got = (
        bloom_filtered_join(fact, build, on="k", how="inner")
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("sv"), F.sum("w").alias("sw"))
    )
    want = (
        fact.join(build, "k", "inner")
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("sv"), F.sum("w").alias("sw"))
    )
    assert sorted(got.collect()) == sorted(want.collect())


def test_bloom_join_left_semi(spark):
    fact, build = _sides(spark)
    got = bloom_filtered_join(fact, build, on="k", how="left_semi")
    want = fact.join(build, "k", "left_semi")
    assert sorted(got.collect()) == sorted(want.collect())


def test_bloom_join_multi_column_key(spark):
    fact = spark.range(5_000).select(
        (F.col("id") % 50).alias("a"),
        (F.col("id") % 31).alias("b"),
        F.col("id").alias("v"),
    )
    build = spark.range(40).select(
        (F.col("id") % 50).alias("a"), (F.col("id") % 31).alias("b")
    ).distinct()
    got = bloom_filtered_join(fact, build, on=["a", "b"], how="inner")
    want = fact.join(build, ["a", "b"], "inner")
    assert sorted(got.collect()) == sorted(want.collect())


def test_bloom_prefilter_actually_prunes(spark):
    # the point of the operator: far fewer fact rows reach the exact join
    # than the fact table holds.  Measure the survivor count through the
    # same prefilter the join uses.
    from cex_crawler_spark.operators.joins import _with_join_key, _JK
    from cex_crawler_spark.operators.seen import (
        MAYBE_SEEN,
        build_bloom,
        prefilter,
    )

    fact, build = _sides(spark)
    build_keys = _with_join_key(build.select("k").distinct(), ["k"])
    bf = build_bloom(build_keys, _JK, 300, fpp=0.01)
    maybe = prefilter(_with_join_key(fact, ["k"]), _JK, bf).filter(
        F.col(MAYBE_SEEN)
    )
    n_fact = fact.count()
    n_maybe = maybe.count()
    n_true = fact.join(build.select("k").distinct(), "k", "left_semi").count()
    assert n_maybe < n_fact * 0.5          # real pruning happened
    assert n_maybe >= n_true               # no false negatives, ever
    # fpp=0.01 → survivors ≈ true matches + 1% of non-matches (slack 5×)
    assert n_maybe - n_true <= max(50, 0.05 * (n_fact - n_true))


def test_bloom_join_rejects_outer_modes(spark):
    fact, build = _sides(spark, 100, 10)
    with pytest.raises(ValueError):
        bloom_filtered_join(fact, build, on="k", how="left")
