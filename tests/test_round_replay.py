"""The load-bearing test: the distributed engine must reproduce the
single-node replayer oracle's crawl EXACTLY — per-host crawl order
(host_seq), statuses, captions, and the final URL-seen set.

Two configurations:
- partial crawl, default (tight) budgets: exercises multi-round
  deferral on the hot host — engine and oracle run the SAME number of
  rounds and every result row must match;
- full drain, amped budgets: exercises crawl termination.
"""

import pytest
from pyspark.sql import functions as F

from cex_crawler_spark.catalog import SnapshotCatalog
from cex_crawler_spark.plans.driver import bootstrap, crawl
from cex_crawler_spark.replayer import final_seen_set, replay_crawl
from cex_crawler_spark.synth import gen_frontier, gen_host_policy

WATERMARK = "2025-08-29 00:00:00"  # BASE_TIME - 14d (reference OFFSET_DAYS)
N_SEEDS = 500
ROUNDS = 5


def _run_both(spark, tmp_path, n_seeds, rounds, policy, bloom=True):
    seeds = gen_frontier(spark, n_seeds, n_payloads=100)
    catalog = SnapshotCatalog(tmp_path)
    bootstrap(catalog, seeds, WATERMARK)
    stats = crawl(spark, catalog, policy, WATERMARK, max_rounds=rounds,
                  bloom_expected=10_000,
                  filter_kind="bloom" if bloom else None)
    engine = [r.asDict() for r in catalog.read(spark, "results").collect()]
    oracle = replay_crawl(
        [r.asDict() for r in seeds.collect()],
        [r.asDict() for r in policy.collect()],
        WATERMARK,
        max_rounds=rounds,
    )
    return stats, engine, oracle, catalog


@pytest.fixture(scope="module")
def crawl_state(spark, tmp_path_factory):
    return _run_both(
        spark, tmp_path_factory.mktemp("catalog"), N_SEEDS, ROUNDS,
        gen_host_policy(spark),
    )


def _key(r):
    return (r["round"], r["host"], r["host_seq"] or -1, r["url"], r["url_hash"],
            r["status"], r["caption"] or "")


def test_priority_replay_parity(spark, tmp_path):
    """SURVEY §1.1's explicit frontier priority: with NON-constant
    levels (lower = sooner) the engine must still match the replayer
    row-for-row, and the outcome must actually differ from the
    all-level-0 crawl — i.e. priority preempts section order rather
    than riding along."""
    seeds = gen_frontier(spark, 300, n_payloads=60).withColumn(
        "priority", F.pmod(F.xxhash64("url"), F.lit(3))
    )
    policy = gen_host_policy(spark)
    catalog = SnapshotCatalog(tmp_path / "prio")
    bootstrap(catalog, seeds, WATERMARK)
    crawl(spark, catalog, policy, WATERMARK, max_rounds=4,
          bloom_expected=10_000)
    engine = [r.asDict() for r in catalog.read(spark, "results").collect()]

    seed_rows = [r.asDict() for r in seeds.collect()]
    policy_rows = [r.asDict() for r in policy.collect()]
    oracle = replay_crawl(seed_rows, policy_rows, WATERMARK, max_rounds=4)
    assert sorted(map(_key, engine)) == sorted(map(_key, oracle))

    flat = replay_crawl(
        [{**r, "priority": 0} for r in seed_rows], policy_rows, WATERMARK,
        max_rounds=4,
    )
    assert sorted(map(_key, oracle)) != sorted(map(_key, flat))


def test_result_rows_match_oracle_exactly(crawl_state):
    _, engine, oracle, _ = crawl_state
    e = sorted(map(_key, engine))
    o = sorted(map(_key, oracle))
    assert len(e) == len(o)
    assert e == o


def test_seen_set_matches(crawl_state):
    _, engine, oracle, _ = crawl_state
    e_seen = {r["url_hash"] for r in engine
              if r["status"] in ("fetched", "stale_placeholder")}
    assert e_seen == final_seen_set(oracle)
    assert len(e_seen) > 0


def test_per_host_crawl_order(crawl_state):
    """host_seq within (host, round) is gapless 1..n — the crawl order."""
    _, engine, _, _ = crawl_state
    by_hr = {}
    for r in engine:
        if r["host_seq"] is not None:
            by_hr.setdefault((r["host"], r["round"]), []).append(r["host_seq"])
    assert by_hr
    for seqs in by_hr.values():
        assert sorted(seqs) == list(range(1, len(seqs) + 1))


def test_hot_host_deferred_across_rounds(crawl_state):
    """binance holds ~50% of seeds but a small budget → deferral happens."""
    stats, engine, _, _ = crawl_state
    per_round_binance = {}
    for r in engine:
        if r["host"] == "binance" and r["status"] == "fetched":
            per_round_binance.setdefault(r["round"], 0)
            per_round_binance[r["round"]] += 1
    assert len(per_round_binance) == ROUNDS  # still fetching every round


def test_payloads_validated(crawl_state, spark):
    _, _, _, catalog = crawl_state
    fetched = catalog.read(spark, "results").filter(F.col("status") == "fetched")
    n = fetched.count()
    assert n > 0
    assert fetched.filter(~F.col("valid")).count() == 0
    assert fetched.filter(F.col("psnr_db") < 40.0).count() == 0


def test_full_drain_with_big_budgets(spark, tmp_path):
    """With budgets ≥ frontier share, the crawl drains and matches oracle."""
    policy = gen_host_policy(spark).withColumn(
        "budget_per_round", F.lit(200)
    )
    stats, engine, oracle, catalog = _run_both(
        spark, tmp_path, 300, 20, policy, bloom=False
    )
    assert catalog.read(spark, "frontier").isEmpty()
    assert sorted(map(_key, engine)) == sorted(map(_key, oracle))


def test_link_expansion_matches_oracle(spark, tmp_path):
    """S8 frontier expansion: engine with expand=True reproduces the oracle
    exactly, and children actually get crawled in later rounds."""
    from cex_crawler_spark.catalog import SnapshotCatalog
    from cex_crawler_spark.plans.driver import bootstrap, crawl
    from cex_crawler_spark.replayer import replay_crawl
    from cex_crawler_spark.synth import gen_frontier, gen_host_policy

    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(100))
    seeds = gen_frontier(spark, 200, n_payloads=100)
    catalog = SnapshotCatalog(tmp_path)
    bootstrap(catalog, seeds, WATERMARK)
    crawl(spark, catalog, policy, WATERMARK, max_rounds=10,
          bloom_expected=10_000, expand=True)
    engine = [r.asDict() for r in catalog.read(spark, "results").collect()]
    oracle = replay_crawl(
        [r.asDict() for r in seeds.collect()],
        [r.asDict() for r in policy.collect()],
        WATERMARK, max_rounds=10, expand=True,
    )
    assert sorted(map(_key, engine)) == sorted(map(_key, oracle))
    # children (/c/ pages) were discovered and fetched
    child_fetches = [r for r in engine if "/c/" in r["url"]]
    assert len(child_fetches) > 0


def test_stale_row_does_not_dup_skip_fresh_twin(spark):
    """ADVICE r1 parity edge: a stale-prefetch row and a FRESH row sharing
    a url_hash.  The replayer's first-occurrence set only registers
    schedulable rows, so the fresh twin must be SCHEDULED (not
    dup_skipped) while the stale one placeholds.  The same holds for a
    robots-blocked row; and the set is global, so a hash that recurs on
    a second host is dup_skipped there."""
    from datetime import datetime

    from pyspark.sql import types as T

    from cex_crawler_spark.operators.politeness import schedule_round

    wm = "2025-08-29 00:00:00"
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("canonical_url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("section", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("seed_id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("release_time", T.TimestampType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("time_known_prefetch", T.BooleanType()),
        T.StructField("duplicate_of", T.LongType()),
    ])
    old = datetime(2025, 8, 1)    # < watermark → stale
    new = datetime(2025, 9, 1)    # ≥ watermark → fresh
    u = "https://h/a"
    rows = [
        # stale row comes FIRST in crawl order (seq 0) and shares the hash
        (u, u, 7, "h", "spot", 0, 100, "t", old, "img", True, None),
        (u, u, 7, "h", "spot", 1, 101, "t", new, "img", True, None),
        # a plain same-hash fresh pair: second must be dup_skipped
        (u + "b", u + "b", 8, "h", "spot", 2, 102, "t", new, "img", True, None),
        (u + "b", u + "b", 8, "h", "spot", 3, 103, "t", new, "img", True, None),
        # a robots-blocked row first, then a fetchable row with its hash
        (u + "/blocked", u + "/blocked", 9, "h", "spot", 4, 104, "t", new,
         "img", True, None),
        (u + "c", u + "c", 9, "h", "spot", 5, 105, "t", new, "img", True, None),
        # one hash on two hosts: the later row in crawl order is a dup
        ("https://g/d", "https://g/d", 10, "g", "spot", 0, 106, "t", new,
         "img", True, None),
        (u + "d", u + "d", 10, "h", "spot", 6, 107, "t", new, "img", True, None),
    ]
    frontier = spark.createDataFrame(rows, schema)
    policy = spark.createDataFrame(
        [("h", 10, 0, ["/a/blocked"], 8), ("g", 10, 0, [], 8)],
        "host string, budget_per_round int, min_delay_ms long, "
        "robots_disallow array<string>, list_page_size int",
    )
    got = {
        r["seed_id"]: r["status"]
        for r in schedule_round(frontier, policy, wm).collect()
    }
    assert got == {
        100: "stale_placeholder",
        101: "scheduled",      # NOT dup_skipped — the stale twin never
                               # claimed first occurrence
        102: "scheduled",
        103: "dup_skipped",
        104: "robots_blocked",
        105: "scheduled",      # the robots row never claimed the hash
        106: "scheduled",
        107: "dup_skipped",    # first occurrence was on host g
    }


def test_scheduler_ignores_clashing_input_columns(spark):
    """The scheduler derives section_rank and path and reads the policy
    columns from the policy: inputs that already carry such columns
    (a re-fed decisions frame, a URL-path column, a per-row budget)
    schedule exactly as inputs without them."""
    from cex_crawler_spark.operators.politeness import schedule_round
    from cex_crawler_spark.plans.round import ingest_seeds

    wm = "2025-08-29 00:00:00"
    frontier = ingest_seeds(gen_frontier(spark, 300, n_payloads=50))
    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(5))

    def decided(cands, pol):
        return sorted(
            tuple(r) for r in schedule_round(cands, pol, wm).collect()
        )

    want = decided(frontier, policy)
    clashing = frontier.select(
        "*",
        F.lit(99).alias("section_rank"),
        F.lit("/private/x").alias("path"),
        F.lit(0).alias("budget_per_round"),
        F.array().cast("array<string>").alias("robots_disallow"),
    )
    assert decided(clashing, policy) == want
    assert decided(
        frontier,
        policy.withColumn("path", F.lit("/")).withColumn(
            "section_rank", F.lit(-1)),
    ) == want


def test_hot_host_ranks_across_tasks(spark):
    """A host holding half the frontier is ranked by more than one task
    (one per (host, chunk) group, not one per host), and its ranks are
    the exact crawl order a single per-host window gives."""
    from pyspark.sql.window import Window

    from cex_crawler_spark.operators.politeness import (
        _CHUNK_WIDTH,
        _ranked_per_host,
    )

    n = 6 * _CHUNK_WIDTH
    rows = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("h"), (F.col("id") % 40).cast("string")))
        .alias("host"),
        F.lit(0).cast("long").alias("priority"),
        (F.col("id") % 3).cast("int").alias("section_rank"),
        F.col("id").alias("seq"),
        F.xxhash64("id").alias("url_hash"),
    )
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    # at this size adaptive coalescing would pack every shuffle partition
    # into one task; a cluster-sized frontier has no such option
    spark.conf.set(key, "false")
    try:
        ranked = _ranked_per_host(rows).select(
            "host", "seq", "__rank", F.spark_partition_id().alias("task")
        ).collect()
    finally:
        spark.conf.set(key, prev)
    hot = [r for r in ranked if r["host"] == "hot"]
    assert len(hot) == n // 2
    assert len({r["task"] for r in hot}) > 1
    naive = rows.select(
        "host", "seq",
        F.row_number().over(
            Window.partitionBy("host").orderBy(
                "priority", "section_rank", "seq", "url_hash")
        ).alias("rank"),
    )
    want = {(r["host"], r["seq"]): r["rank"] for r in naive.collect()}
    assert {(r["host"], r["seq"]): r["__rank"] for r in ranked} == want
