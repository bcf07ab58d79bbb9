"""HLL cardinality sketches: merge = single-shot, idempotent union,
error bound at scale, catalog round-trip (the per-round-sketch story)."""

import pytest
from pyspark.sql import functions as F

from cex_crawler_spark.functions.sketches import (
    hll_distinct,
    hll_merge_estimate,
    hll_partial_sketches,
)


@pytest.fixture(scope="module")
def events(spark):
    df = (
        spark.range(20_000)
        .select(
            (F.col("id") % 4).cast("string").alias("grp"),
            F.pmod(F.xxhash64("id"), F.lit(700)).alias("uid"),
            (F.col("id") % 10).alias("shard"),
        )
        .persist()
    )
    df.count()
    yield df
    df.unpersist()


def test_merge_equals_single_shot(spark, events):
    """Sharded partial sketches unioned == one sketch over everything
    (the mergeability that makes per-round persistence sound)."""
    single = hll_distinct(events, ["grp"], "uid")
    parts = hll_partial_sketches(events, ["grp", "shard"], "uid")
    merged = hll_merge_estimate(parts, ["grp"], "uid_hll", "uid_distinct")
    assert sorted(map(tuple, single.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_exact_in_coupon_regime(spark, events):
    """Below a few thousand distincts the sketch is still a coupon list
    — estimates are exact (the property the oracle query leans on)."""
    got = dict(
        (r.grp, r.uid_distinct) for r in
        hll_distinct(events, ["grp"], "uid").collect()
    )
    want = dict(
        (r.grp, r.exact) for r in
        events.groupBy("grp").agg(
            F.count_distinct("uid").alias("exact")
        ).collect()
    )
    assert got == want


def test_union_idempotent(spark, events):
    """Re-merging OVERLAPPING sketch sets never double-counts — the
    set-union semantics summing per-window exact counts lacks."""
    parts = hll_partial_sketches(events, ["grp", "shard"], "uid")
    doubled = parts.unionAll(parts)  # every partial twice
    a = hll_merge_estimate(parts, ["grp"], "uid_hll")
    b = hll_merge_estimate(doubled, ["grp"], "uid_hll")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_error_bound_at_scale(spark):
    """Dense regime: 200k distincts at lg_k=14 must land within 3× the
    published RSE (1.04/√2^14 ≈ 0.81 %)."""
    n = 200_000
    df = spark.range(n).select(F.lit("g").alias("g"), F.col("id"))
    est = hll_distinct(df, ["g"], "id", lg_k=14).collect()[0][1]
    assert abs(est - n) / n < 3 * 1.04 / (2 ** 14) ** 0.5


def test_per_round_sketches_via_catalog(spark, tmp_path):
    """The operational loop: each crawl round APPENDs its per-host
    sketch row; 'distinct uids per host' over the whole history comes
    from the sketch rows alone — union, no data rescan."""
    from cex_crawler_spark.catalog import APPEND, SnapshotCatalog

    cat = SnapshotCatalog(tmp_path)
    rounds = [spark.range(i * 300, (i + 1) * 300 + 100).select(
        F.lit("h1").alias("host"), F.col("id").alias("uid")
    ) for i in range(3)]  # consecutive rounds overlap by 100 uids
    for i, r in enumerate(rounds):
        cat.commit(i, {
            "uid_sketches": (
                hll_partial_sketches(r, ["host"], "uid"), APPEND
            )
        })
    # full-history estimate == exact distinct over the union
    all_sk = cat.read(spark, "uid_sketches")
    est = hll_merge_estimate(all_sk, ["host"], "uid_hll").collect()[0][1]
    exact = rounds[0].unionAll(rounds[1]).unionAll(rounds[2]) \
        .select("uid").distinct().count()
    assert est == exact
