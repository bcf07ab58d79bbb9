"""Seed test for the benchmark's input generator.

    python3 -m pytest perfbench/test_inputs.py -q

Two seeds must give inputs of the same shape (host shares, duplicate,
robots and stale rates, payload sharing) and disjoint ``url_hash`` sets;
one seed must give the same inputs twice.
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F  # noqa: E402

from cex_crawler_spark.plans.round import ingest_seeds  # noqa: E402
from cex_crawler_spark.session import get_spark  # noqa: E402
from inputs import WATERMARK, seeded_frontier  # noqa: E402

N = 3_000


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=2)
    yield s
    s.stop()


def shape(df) -> dict:
    """Everything about a seed frontier that the benchmark's workloads
    depend on, except the URLs and payload ids themselves."""
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("duplicate_of").alias("dups"),
        F.count_if(F.col("url").contains("/private/")).alias("robots"),
        F.count_if(
            F.col("time_known_prefetch")
            & (F.col("release_time") < F.to_timestamp(F.lit(WATERMARK)))
        ).alias("stale"),
        F.countDistinct("image_id").alias("payloads"),
    ).first().asDict()
    r["hosts"] = {h["host"]: h["count"]
                  for h in df.groupBy("host").count().collect()}
    return r


def url_hashes(df) -> set[int]:
    return {r["url_hash"] for r in ingest_seeds(df).select("url_hash").collect()}


def test_two_seeds_same_shape_disjoint_keys(spark):
    a, b = seeded_frontier(spark, N, 1), seeded_frontier(spark, N, 2)
    sa, sb = shape(a), shape(b)
    assert sa == sb
    # the shape is the crawl-shaped one: skewed hosts and every
    # decision kind present
    assert max(sa["hosts"].values()) > N / 3
    assert 0 < sa["dups"] and 0 < sa["robots"] and 0 < sa["stale"]
    ha, hb = url_hashes(a), url_hashes(b)
    # one payload per distinct canonical URL: only duplicates share
    assert sa["payloads"] == len(ha) == len(hb) < N
    assert not ha & hb


def test_same_seed_same_inputs(spark):
    rows = [sorted(map(tuple, seeded_frontier(spark, 500, 7).collect()))
            for _ in range(2)]
    assert rows[0] == rows[1]
