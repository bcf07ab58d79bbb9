"""Cho & Garcia-Molina change-rate recrawl scheduling (operators/recrawl.py)."""

import math

from pyspark.sql import functions as F

from cex_crawler_spark.operators.recrawl import (
    HOT_P,
    WARM_P,
    change_rate_priorities,
)


def _hist(spark, rows):
    return spark.createDataFrame(
        rows, "url_id string, n_visits long, n_changed long, "
        "interval_days long, age_days long"
    )


def test_estimator_matches_closed_form_and_is_finite_at_all_changes(spark):
    rows = [("u0", 5, 0, 2, 10), ("u1", 5, 3, 2, 10), ("u2", 5, 5, 2, 10)]
    got = {
        r["url_id"]: r
        for r in change_rate_priorities(_hist(spark, rows)).collect()
    }
    for uid, n, x, d, age in [(r[0], *r[1:]) for r in rows]:
        lam = -math.log((n - x + 0.5) / (n + 0.5)) / d
        assert abs(got[uid]["lambda_hat"] - lam) < 1e-12
        assert abs(got[uid]["p_stale"] - (1 - math.exp(-lam * age))) < 1e-12
    # X == n stays finite thanks to the +0.5 continuity correction
    assert math.isfinite(got["u2"]["lambda_hat"])
    # monotone in observed changes
    assert got["u0"]["lambda_hat"] < got["u1"]["lambda_hat"] < got["u2"]["lambda_hat"]


def test_priority_ladder_thresholds(spark):
    # pick (visits, changes, interval, age) hitting each band
    rows = [
        ("hot", 5, 5, 1, 30),    # p ≈ 1
        ("warm", 5, 2, 3, 5),    # moderate
        ("cold", 5, 0, 10, 1),   # p ≈ 0
    ]
    got = {
        r["url_id"]: r
        for r in change_rate_priorities(_hist(spark, rows)).collect()
    }
    assert got["hot"]["p_stale"] > HOT_P and got["hot"]["recrawl_priority"] == 0
    assert WARM_P < got["warm"]["p_stale"] <= HOT_P
    assert got["warm"]["recrawl_priority"] == 1
    assert got["cold"]["p_stale"] <= WARM_P and got["cold"]["recrawl_priority"] == 2


def test_priority_feeds_scheduler_contract(spark):
    """recrawl_priority is the scheduler's priority column: long, lower =
    sooner, and a frontier re-prioritized by it orders hot URLs first
    under the same priority-major sort schedule_round uses."""
    import __spark_entry__ as entry

    scored = change_rate_priorities(entry.gen_sim_fetch_history(spark, 500))
    assert dict(scored.dtypes)["recrawl_priority"] == "bigint"
    vals = {r[0] for r in scored.select("recrawl_priority").distinct().collect()}
    assert vals <= {0, 1, 2} and len(vals) == 3
    # priority-major order == descending staleness bands
    ordered = scored.orderBy("recrawl_priority", "url_id").collect()
    bands = [r["recrawl_priority"] for r in ordered]
    assert bands == sorted(bands)
    p_by_band = {}
    for r in ordered:
        p_by_band.setdefault(r["recrawl_priority"], []).append(r["p_stale"])
    assert min(p_by_band[0]) > max(p_by_band[1]) - 1e-9 or (
        min(p_by_band[0]) > HOT_P and max(p_by_band[1]) <= HOT_P
    )


def test_plan_is_shuffle_free(spark):
    import __spark_entry__ as entry

    scored = change_rate_priorities(entry.gen_sim_fetch_history(spark, 100))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_sliding_chunks_cover_and_overlap(spark):
    """Every token appears in some chunk; non-terminal chunks are full
    and consecutive chunks overlap by chunk_tokens - stride."""
    from cex_crawler_spark.operators.packing import sliding_chunks

    words = " ".join(f"w{i}" for i in range(350))
    df = spark.createDataFrame(
        [(1, words), (2, "a b c"), (3, "")], "doc_id long, text string"
    )
    out = sliding_chunks(df, "text", "doc_id", chunk_tokens=100, stride=60)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["n_tokens"], r["chunk_text"])
         for r in out.collect())
    )
    d1 = [r for r in rows if r[0] == 1]
    # ceil(350/60) = 6 chunks; all but the last full
    assert [r[1] for r in d1] == list(range(6))
    assert [r[2] for r in d1] == [100, 100, 100, 100, 100, 50]
    toks1 = [r[3].split(" ") for r in d1]
    # overlap: chunk i+1 starts 60 tokens after chunk i → shares 40
    for a, b in zip(toks1, toks1[1:]):
        assert a[60:] == b[: len(a) - 60]
    # full coverage in order
    seen = toks1[0] + [t for c in toks1[1:] for t in c[40:]]
    assert seen == [f"w{i}" for i in range(350)]
    # short and empty docs
    assert [r[2:] for r in rows if r[0] == 2] == [(3, "a b c")]
    assert [r[2:] for r in rows if r[0] == 3] == [(0, "")]


def test_sliding_chunks_rejects_bad_stride(spark):
    import pytest
    from cex_crawler_spark.operators.packing import sliding_chunks

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        sliding_chunks(df, "text", "doc_id", chunk_tokens=10, stride=11)


def test_backoff_schedule_trailing_failures(spark):
    from datetime import datetime

    from cex_crawler_spark.operators.recrawl import backoff_schedule

    def ts(h):
        return datetime(2025, 8, 1, h)

    rows = [
        # all ok → retry immediately (k=0, next = last attempt)
        ("ok", ts(1), True), ("ok", ts(2), True),
        # ok then 2 failures → k=2, next = last + 300*2^1 = +600 s
        ("two", ts(1), True), ("two", ts(2), False), ("two", ts(3), False),
        # failure then ok LAST → k=0 (only trailing failures count)
        ("recov", ts(1), False), ("recov", ts(2), True),
        # never ok, 5 attempts ≥ max_failures=4 → dead
        ("dead", ts(1), False), ("dead", ts(2), False), ("dead", ts(3), False),
        ("dead", ts(4), False), ("dead", ts(5), False),
        # 3 straight failures → delay 300*2^2 = 1200, capped at 1000
        ("cap", ts(1), False), ("cap", ts(2), False), ("cap", ts(3), False),
    ]
    df = spark.createDataFrame(rows, ["url_hash", "fetch_ts", "ok"])
    out = {
        r["url_hash"]: r
        for r in backoff_schedule(
            df, base_delay_s=300, max_delay_s=1000, max_failures=4
        ).collect()
    }
    assert out["ok"]["consecutive_failures"] == 0 and not out["ok"]["give_up"]
    assert out["ok"]["next_attempt"] == ts(2)
    assert out["two"]["consecutive_failures"] == 2
    assert (out["two"]["next_attempt"] - ts(3)).total_seconds() == 600
    assert out["recov"]["consecutive_failures"] == 0
    assert out["recov"]["next_attempt"] == ts(2)
    assert out["dead"]["give_up"] and out["dead"]["next_attempt"] is None
    assert (out["cap"]["next_attempt"] - ts(3)).total_seconds() == 1000


def test_age_priorities_starvation_free_and_clamped(spark):
    """age_priorities: one level per age_every waited rounds, clamped at
    the floor; negative waits (producer clock skew) never promote; and
    the aged column actually flips priority-major crawl order — the
    starved old row overtakes the fresh high-priority inflow."""
    from cex_crawler_spark.operators.politeness import age_priorities

    rows = [
        # (url_id, priority, enqueued_round)
        ("fresh-p0", 0, 10),   # wait 0  → stays 0
        ("old-p2", 2, 2),      # wait 8  → 2 - 2 = 0
        ("older-p3", 3, 0),    # wait 10 → 3 - 2 = 1
        ("clamp-p1", 1, 0),    # wait 10 → clamps at floor 0
        ("skew-p1", 1, 99),    # negative wait → stays 1 (never promoted)
    ]
    df = spark.createDataFrame(rows, ["url_id", "priority", "enqueued_round"])
    got = {
        r["url_id"]: r["priority"]
        for r in age_priorities(df, current_round=10, age_every=4).collect()
    }
    assert got == {
        "fresh-p0": 0, "old-p2": 0, "older-p3": 1, "clamp-p1": 0,
        "skew-p1": 1,
    }
    # order flip: before aging old-p2 sorts AFTER fresh-p0; after aging
    # they tie at level 0 and older-p3 (was last) outranks skew-p1
    aged = age_priorities(df, current_round=10, age_every=4)
    order = [
        r["url_id"] for r in aged.orderBy("priority", "url_id").collect()
    ]
    assert order.index("older-p3") < order.index("skew-p1")
    # row-local: no Exchange in the plan
    plan = aged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    import pytest

    with pytest.raises(ValueError):
        age_priorities(df, current_round=10, age_every=0)


def test_adaptive_host_delay_math_and_clamps(spark):
    """delay = clamp(3×p95, 200 ms, 60 s), doubled past the error
    threshold and re-clamped — each branch hit by one host."""
    from cex_crawler_spark.operators.recrawl import adaptive_host_delay

    rows = []
    # fast: 20 samples of 40 ms, all ok → 3×40=120 < floor → 200
    rows += [("fast", 40, True)] * 20
    # slow: p95 of 1..20 (×100 ms) = 1900 → 5700; err 0 → 5700
    rows += [("slow", i * 100, True) for i in range(1, 21)]
    # flaky: 10×(300 ms, fail) + 10×(300 ms, ok) → base 900, err 0.5 → 1800
    rows += [("flaky", 300, i < 10) for i in range(20)]
    # pathological: latency 50 s → 3×50 s clamps to 60 s; err 1.0 →
    # doubling re-clamps at 60 s (never exceeds the max)
    rows += [("broken", 50_000, False)] * 5
    df = spark.createDataFrame(rows, ["host", "latency_ms", "ok"])
    got = {r["host"]: r for r in adaptive_host_delay(df).collect()}
    assert got["fast"]["delay_ms"] == 200
    assert got["slow"]["p95_latency_ms"] == 1900
    assert got["slow"]["delay_ms"] == 5700
    assert got["flaky"]["error_rate"] == 0.5
    assert got["flaky"]["delay_ms"] == 1800
    assert got["broken"]["delay_ms"] == 60_000
    assert got["fast"]["n_attempts"] == 20


class TestConditionalPlan:
    def test_kinds_and_byte_expectations(self, spark):
        from cex_crawler_spark.operators.recrawl import conditional_fetch_plan

        prior = spark.createDataFrame(
            [
                # never changed in 9 visits → p_stale ≈ 0 → ~header only
                ("u_cold", True, 10000, 9, 0, 1, 1),
                # changed every visit → p_stale ≈ 1 → header + body
                ("u_hot", True, 10000, 9, 9, 1, 30),
                # seen but no validators → full body
                ("u_noval", False, 7777, 5, 2, 2, 3),
            ],
            "url_id string, has_validators boolean, content_bytes long,"
            " n_visits long, n_changed long, interval_days long,"
            " age_days long",
        )
        cand = spark.createDataFrame(
            [("u_cold",), ("u_hot",), ("u_noval",), ("u_new",)],
            "url_id string",
        )
        got = {
            r["url_id"]: r.asDict()
            for r in conditional_fetch_plan(cand, prior).collect()
        }
        assert got["u_new"]["kind"] == "full_unseen"
        assert got["u_new"]["est_bytes"] == 4096
        assert got["u_noval"]["kind"] == "full_refetch"
        assert got["u_noval"]["est_bytes"] == 7777
        cold, hot = got["u_cold"], got["u_hot"]
        assert cold["kind"] == hot["kind"] == "conditional"
        # cold page: expected cost ≈ the header
        assert cold["est_bytes"] < 300 + 1000
        # hot page: expected cost ≈ header + whole body
        assert hot["est_bytes"] > 300 + 9900
        assert 0 <= cold["p_permille"] < 100 < 990 <= hot["p_permille"] <= 1000


class TestChangefreqTrust:
    def test_verdicts_and_unjudged_guard(self, spark):
        from cex_crawler_spark.sources.sitemap import sitemap_changefreq_trust

        hist = spark.createDataFrame(
            [
                # honest daily host: 100 visits at 1-day spacing, ~all changed
                ("honest", 100, 100, 1),
                # liar: claims hourly, changed once in 100 days
                ("liar", 100, 1, 1),
                # shy: claims yearly, changes daily
                ("shy", 100, 100, 1),
                # tiny host: 3 visits — never judged
                ("tiny", 3, 0, 1),
            ],
            "host string, n_visits long, n_changed long, interval_days long",
        )
        declared = spark.createDataFrame(
            [("honest", "daily"), ("liar", "hourly"), ("shy", "yearly"),
             ("tiny", "daily")],
            "host string, changefreq string",
        )
        got = {
            r["host"]: r["verdict"]
            for r in sitemap_changefreq_trust(hist, declared).collect()
        }
        assert got == {
            "honest": "consistent",
            "liar": "overstated",
            "shy": "understated",
            "tiny": "unjudged",
        }


def test_content_change_magnitude_grades_and_first_seen(spark):
    from cex_crawler_spark.operators.recrawl import content_change_magnitude

    log = [
        # identical across rounds → 0
        ("a", 1, "alpha beta gamma delta epsilon"),
        ("a", 2, "alpha beta gamma delta epsilon"),
        # case/whitespace-only churn normalizes away → 0
        ("w", 1, "Alpha  Beta gamma DELTA epsilon"),
        ("w", 2, "alpha beta   gamma delta Epsilon"),
        # full rewrite → 1000
        ("b", 1, "one two three four five six"),
        ("b", 2, "seven eight nine ten eleven twelve"),
        # partial overlap: shingles {x y z, y z w} vs {x y z, y z q}
        # → jaccard 1/3 → change 1000 - 333 = 667
        ("c", 1, "x y z w"),
        ("c", 2, "x y z q"),
        # single fetch → first_seen, NULL magnitude
        ("d", 5, "lonely page words here"),
        # three rounds: only the two LATEST compared (r2 vs r3 identical)
        ("e", 1, "completely different ancient version text"),
        ("e", 2, "stable new content here now"),
        ("e", 3, "stable new content here now"),
    ]
    df = spark.createDataFrame(log, ["url", "round", "text"])
    got = {r["url"]: r for r in content_change_magnitude(df).collect()}
    assert got["a"]["change_permille"] == 0 and not got["a"]["first_seen"]
    assert got["w"]["change_permille"] == 0
    assert got["b"]["change_permille"] == 1000
    assert got["c"]["change_permille"] == 667
    assert got["d"]["first_seen"] and got["d"]["change_permille"] is None
    assert got["d"]["round_latest"] == 5 and got["d"]["round_prev"] is None
    assert got["e"]["change_permille"] == 0
    assert (got["e"]["round_latest"], got["e"]["round_prev"]) == (3, 2)


def test_outlink_delta_added_removed_first_seen(spark):
    from cex_crawler_spark.operators.recrawl import outlink_delta

    rows = [
        # hub h: round 1 {a,b,c}, round 2 {b,c,d} -> +d, -a
        ("h", 1, "a"), ("h", 1, "b"), ("h", 1, "c"),
        ("h", 2, "b"), ("h", 2, "c"), ("h", 2, "d"),
        # three rounds: only the two latest compared
        ("g", 1, "x"), ("g", 2, "y"), ("g", 3, "y"),
        # first fetch -> all added, first_seen
        ("n", 5, "p"), ("n", 5, "q"),
    ]
    df = spark.createDataFrame(rows, ["url", "round", "target"])
    got = {(r["url"], r["target"]): r for r in outlink_delta(df).collect()}
    assert got[("h", "d")]["change"] == "added"
    assert got[("h", "a")]["change"] == "removed"
    assert ("h", "b") not in got and ("h", "c") not in got
    assert got[("h", "d")]["round_latest"] == 2
    assert got[("h", "d")]["round_prev"] == 1
    assert ("g", "x") not in got           # rounds 2 vs 3: y stable
    assert len([k for k in got if k[0] == "g"]) == 0
    assert got[("n", "p")]["change"] == "added"
    assert got[("n", "p")]["first_seen"] and got[("n", "p")]["round_prev"] is None


def test_retry_after_holds_delta_date_default_and_max(spark):
    from cex_crawler_spark.operators.recrawl import retry_after_holds

    base = 1_756_684_800_000  # 2025-09-01T00:00:00Z in epoch ms
    rows = [
        ("a", 429, "30", base),                                   # delta
        ("a", 503, "Mon, 01 Sep 2025 00:05:00 GMT", base),        # date
        ("a", 200, "999", base),                                  # ignored
        ("b", 503, None, base),                                   # default 60s
        ("c", 429, "soonish", base),                              # unparseable
    ]
    df = spark.createDataFrame(
        rows, ["host", "status", "retry_after", "fetched_ms"]
    )
    got = {r["host"]: r for r in retry_after_holds(df).collect()}
    # a: max(base+30s, 00:05:00Z) = base + 300s
    assert got["a"]["hold_until_ms"] == base + 300_000
    assert got["a"]["n_backpressure"] == 2
    assert got["b"]["hold_until_ms"] == base + 60_000
    assert got["c"]["hold_until_ms"] == base + 60_000
