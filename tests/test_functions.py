"""Unit tests: hashing parity, URL canonicalization parity, imaging codecs,
Bloom filter properties."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cex_crawler_spark.functions.hashing import xxh64_str
from cex_crawler_spark.functions.imaging import (
    decode_image,
    encode_image,
    fake_jpeg_decode,
    fake_jpeg_encode,
    phash64,
    png_decode,
    png_encode,
    psnr,
    reference_pixels,
)
from cex_crawler_spark.functions.urlnorm import (
    py_canonicalize_url,
    with_canonical_url,
)
from cex_crawler_spark.operators.seen import BloomFilter64, anti_join_seen, build_bloom


class TestHashing:
    def test_spark_parity(self, spark):
        vals = ["", "a", "hello", "https://x.example.com/a/1?b=2",
                "中文", "x" * 1000, "\x00\x01"]
        rows = (
            spark.createDataFrame([(v,) for v in vals], "s string")
            .select("s", F.xxhash64("s").alias("h"))
            .collect()
        )
        for r in rows:
            assert xxh64_str(r["s"]) == r["h"]

    @given(st.text(max_size=200))
    @settings(max_examples=200, deadline=None)
    def test_deterministic_int64(self, s):
        h = xxh64_str(s)
        assert -(1 << 63) <= h < (1 << 63)
        assert h == xxh64_str(s)


class TestUrlNorm:
    CASES = [
        ("https://A.B.example.com/Path/", "https://a.b.example.com/Path"),
        ("https://h.example.com:443/x", "https://h.example.com/x"),
        ("http://h.example.com:80/x", "http://h.example.com/x"),
        ("http://h.example.com:8080/x", "http://h.example.com:8080/x"),
        ("https://h.example.com/x#frag", "https://h.example.com/x"),
        ("https://h.example.com/x?utm_source=a&b=1", "https://h.example.com/x?b=1"),
        ("https://h.example.com/x?z=2&a=1", "https://h.example.com/x?a=1&z=2"),
        ("https://h.example.com/x?utm_a=1&ref=2&fbclid=3", "https://h.example.com/x"),
        ("https://h.example.com///", "https://h.example.com"),
        ("not a url", ""),  # malformed input → "" in BOTH implementations
    ]

    def test_python_twin(self):
        for raw, want in self.CASES:
            assert py_canonicalize_url(raw) == want, raw

    def test_spark_python_parity(self, spark):
        df = with_canonical_url(
            spark.createDataFrame([(u,) for u, _ in self.CASES], "url string")
        )
        for r in df.collect():
            assert r["canonical_url"] == py_canonicalize_url(r["url"])
            assert r["url_hash"] == xxh64_str(r["canonical_url"])


class TestImaging:
    def test_png_roundtrip_exact(self):
        arr = reference_pixels("img1", 33, 21)
        assert np.array_equal(png_decode(png_encode(arr)), arr)

    def test_fake_jpeg_psnr_above_threshold(self):
        arr = reference_pixels("img2", 48, 48)
        dec = fake_jpeg_decode(fake_jpeg_encode(arr))
        assert 40.0 <= psnr(arr, dec) < 60.0  # lossy but above invariant

    def test_decode_dispatch_and_unknown_fmt(self):
        arr = reference_pixels("img3", 16, 16)
        assert np.array_equal(decode_image(encode_image(arr, "png"), "png"), arr)
        with pytest.raises(NotImplementedError):
            encode_image(arr, "webp")

    def test_reference_pixels_deterministic(self):
        a = reference_pixels("imgX", 20, 20)
        assert np.array_equal(a, reference_pixels("imgX", 20, 20))
        assert not np.array_equal(a, reference_pixels("imgY", 20, 20))

    def test_phash_near_dup_signal(self):
        arr = reference_pixels("img4", 32, 32)
        noisy = arr.copy()
        noisy[0, 0] = 255 - noisy[0, 0]  # tiny perturbation
        a, b = phash64(arr), phash64(noisy)
        ham = bin((a ^ b) & ((1 << 64) - 1)).count("1")
        assert ham <= 4
        far = phash64(reference_pixels("img5", 32, 32))
        assert bin((a ^ far) & ((1 << 64) - 1)).count("1") > 10


class TestBloom:
    def test_no_false_negatives(self):
        rng = np.random.default_rng(7)
        keys = rng.integers(-(2**63), 2**63, size=5000, dtype=np.int64)
        bf = BloomFilter64(5000)
        bf.add_many(keys)
        assert bf.might_contain(keys).all()

    def test_fpp_reasonable(self):
        rng = np.random.default_rng(8)
        keys = rng.integers(-(2**63), 2**63, size=5000, dtype=np.int64)
        other = rng.integers(-(2**63), 2**63, size=5000, dtype=np.int64)
        bf = BloomFilter64(5000, fpp=0.03)
        bf.add_many(keys)
        fp = bf.might_contain(other).mean()
        assert fp < 0.08

    def test_merge_is_union(self):
        a, b = BloomFilter64(1000), BloomFilter64(1000)
        k1 = np.arange(100, dtype=np.int64)
        k2 = np.arange(100, 200, dtype=np.int64)
        a.add_many(k1)
        b.add_many(k2)
        a.merge(b)
        assert a.might_contain(k1).all() and a.might_contain(k2).all()

    def test_prefiltered_anti_join_is_exact(self, spark):
        """Bloom prefilter + anti-join ≡ plain anti-join (exactness)."""
        frontier = spark.range(2000).select(F.xxhash64("id").alias("url_hash"))
        seen = spark.range(500, 1200).select(F.xxhash64("id").alias("url_hash"))
        bf = build_bloom(seen, "url_hash", 1000)
        with_bloom = sorted(
            r["url_hash"]
            for r in anti_join_seen(frontier, seen, bloom=bf).collect()
        )
        exact = sorted(
            r["url_hash"] for r in anti_join_seen(frontier, seen).collect()
        )
        assert with_bloom == exact
        assert len(exact) == 2000 - 700


class TestCuckoo:
    """Delete-capable seen filter (north rule's cuckoo fallback)."""

    def _keys(self, seed, n):
        rng = np.random.default_rng(seed)
        return np.unique(rng.integers(-(2**63), 2**63, size=n, dtype=np.int64))

    def test_no_false_negatives_and_fpp(self):
        from cex_crawler_spark.operators.seen import CuckooFilter64

        keys = self._keys(7, 50_000)
        cf = CuckooFilter64(keys.size)
        cf.add_many(keys)
        assert cf.might_contain(keys).all()
        other = np.setdiff1d(self._keys(8, 50_000), keys)
        assert cf.might_contain(other).mean() < 0.01  # 16-bit fp → ~1e-4

    def test_delete_then_reinsert_churn(self):
        """Deletes never create false negatives for KEPT keys, deleted
        keys stop matching (up to fp collisions), and re-insertion
        restores membership — across interleaved churn cycles."""
        from cex_crawler_spark.operators.seen import CuckooFilter64

        keys = self._keys(9, 30_000)
        cf = CuckooFilter64(keys.size)
        cf.add_many(keys)
        for it in range(3):
            d = keys[it::3]
            found = cf.delete_many(d)
            assert found.all()
            kept = np.setdiff1d(keys, d)
            assert cf.might_contain(kept).all(), f"false negative, cycle {it}"
            assert cf.might_contain(d).mean() < 0.01
            cf.add_many(d)
            assert cf.might_contain(keys).all()

    def test_design_load_insertable(self):
        """Fills to the 0.95 design load via the eviction walk."""
        from cex_crawler_spark.operators.seen import CuckooFilter64

        cf = CuckooFilter64(1)
        n = int(cf.n_buckets * cf.SLOTS * 0.95) - 2
        keys = self._keys(10, 4 * n)[:n]
        cf.add_many(keys)
        assert (cf.table != 0).mean() >= 0.9
        assert cf.might_contain(keys).all()

    def test_merge_is_union(self):
        from cex_crawler_spark.operators.seen import CuckooFilter64

        k1, k2 = self._keys(11, 5_000), self._keys(12, 5_000)
        a = CuckooFilter64(k1.size + k2.size)
        b = CuckooFilter64(k1.size + k2.size)
        a.add_many(k1)
        b.add_many(k2)
        a.merge(b)
        assert a.might_contain(k1).all() and a.might_contain(k2).all()

    def test_invalidate_reopens_urls(self, spark):
        """The re-crawl path (what ``plans/driver.requeue`` does): a
        driver-side cuckoo build, then ``delete_many`` plus the matching
        anti-join of the seen table un-see a batch — those URLs come back
        from the prefiltered anti-join (schedulable again) while every
        other seen URL stays excluded, exactly (vs the plain anti-join)."""
        from cex_crawler_spark.operators.seen import anti_join_seen, build_cuckoo

        frontier = spark.range(2000).select(F.xxhash64("id").alias("url_hash"))
        seen = spark.range(500, 1200).select(F.xxhash64("id").alias("url_hash"))
        cf = build_cuckoo(seen, "url_hash", 1000)
        before = sorted(
            r["url_hash"]
            for r in anti_join_seen(frontier, seen, bloom=cf).collect()
        )
        exact = sorted(
            r["url_hash"] for r in anti_join_seen(frontier, seen).collect()
        )
        assert before == exact and len(exact) == 2000 - 700

        recrawl = spark.range(800, 900).select(F.xxhash64("id").alias("url_hash"))
        cf.delete_many(
            np.array([r["url_hash"] for r in recrawl.collect()], dtype=np.int64)
        )
        seen2 = seen.join(recrawl, "url_hash", "left_anti")
        after = sorted(
            r["url_hash"]
            for r in anti_join_seen(frontier, seen2, bloom=cf).collect()
        )
        exact2 = sorted(
            r["url_hash"] for r in anti_join_seen(frontier, seen2).collect()
        )
        assert after == exact2 and len(exact2) == 2000 - 600


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_per_partition_build_matches_driver_build(spark, monkeypatch, kind):
    """Above ``_DRIVER_BUILD_MAX`` expected keys the filter is built per
    partition and merged on the driver.  Bloom: byte-equal to the driver
    build (OR is order-free).  Cuckoo (merge re-places entries, so the
    table layout may differ): no false negatives, and the same answers
    as the driver build over the keys plus a probe set."""
    from cex_crawler_spark.operators import seen as seen_mod

    build = {"bloom": seen_mod.build_bloom, "cuckoo": seen_mod.build_cuckoo}[kind]
    keys_df = spark.range(0, 3000, numPartitions=4).select(
        F.xxhash64("id").alias("url_hash")
    )
    on_driver = build(keys_df, "url_hash", 5000)
    monkeypatch.setattr(seen_mod, "_DRIVER_BUILD_MAX", 0)
    per_partition = build(keys_df, "url_hash", 5000)

    keys = np.array([r["url_hash"] for r in keys_df.collect()], dtype=np.int64)
    probe = np.random.default_rng(3).integers(
        -(2**63), 2**63, size=20_000, dtype=np.int64
    )
    assert per_partition.might_contain(keys).all()
    if kind == "bloom":
        assert per_partition.to_bytes() == on_driver.to_bytes()
    both = np.concatenate([keys, probe])
    assert (per_partition.might_contain(both) == on_driver.might_contain(both)).all()


def _plan_nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _python_udfs(plan) -> int:
    return sum(n.udfs().size() for n in _plan_nodes(plan)
               if n.getClass().getSimpleName() == "ArrowEvalPython")


@pytest.mark.parametrize("kind", [None, "bloom", "cuckoo"])
def test_anti_join_seen_does_not_aggregate_seen(spark, kind):
    """The seen side of the seen check is joined as read: a left-anti
    join ignores duplicate keys on the right, so a distinct there would
    only add an aggregate and a shuffle over the whole seen table.  With
    a filter, the probe runs once per frontier row — one Python UDF in
    the plan — and never over the seen side."""
    from cex_crawler_spark.operators.seen import build_cuckoo

    frontier = spark.range(2000).select(F.xxhash64("id").alias("url_hash"))
    seen = spark.range(500, 1200).select(F.xxhash64("id").alias("url_hash"))
    build = {None: lambda *a: None, "bloom": build_bloom,
             "cuckoo": build_cuckoo}[kind]
    bf = build(seen, "url_hash", 1000)
    plan = anti_join_seen(frontier, seen, bloom=bf)._jdf.queryExecution() \
        .optimizedPlan()
    anti = [n for n in _plan_nodes(plan)
            if n.getClass().getSimpleName() == "Join"
            and n.joinType().toString() == "LeftAnti"]
    assert len(anti) == 1
    seen_side = {n.getClass().getSimpleName()
                 for n in _plan_nodes(anti[0].right())}
    assert "Aggregate" not in seen_side, seen_side
    assert _python_udfs(plan) == (0 if kind is None else 1)
    assert _python_udfs(anti[0].right()) == 0


class TestRobots:
    def test_parse_and_roundtrip(self, spark):
        from pyspark.sql import functions as F

        from cex_crawler_spark.functions.robots import (
            parse_robots_disallow,
            robots_txt_for_policy,
        )

        txt = (
            "User-agent: *\n"
            "Disallow: /private\n"
            "Allow: /open\n"
            "disallow: /tmp\n"
            "# comment line\n"
            "Disallow:\n"          # empty → allow-all marker, must NOT match
            "Disallow: /private\n"  # duplicate → deduped
        )
        df = spark.createDataFrame([(txt,)], "robots string").select(
            parse_robots_disallow(F.col("robots")).alias("d")
        )
        assert df.collect()[0]["d"] == ["/private", "/tmp"]

        rt = spark.createDataFrame([(["/a", "/b"],)], "p array<string>").select(
            parse_robots_disallow(robots_txt_for_policy(F.col("p"))).alias("d")
        )
        assert rt.collect()[0]["d"] == ["/a", "/b"]

    def test_rfc_matcher_grammar(self, spark):
        """RFC 9309 §2.2.2: '*' wildcards, '$' end-anchors,
        longest-pattern-wins, Allow beats Disallow on equal length,
        no-match -> allowed."""
        from pyspark.sql import functions as F

        from cex_crawler_spark.functions.robots import (
            parse_robots_rules,
            robots_allowed,
            robots_best_rule,
        )

        body = (
            "User-agent: *\n"
            "Disallow: /p1/\n"
            "Allow: /p1/open\n"
            "Disallow: /*.json$\n"
            "Allow: /q2*x\n"
            "Disallow: /q2\n"
            "Allow: /tie\n"
            "Disallow: /tie\n"
            "Disallow:\n"          # empty path -> no rule
        )
        expect = {
            "/p1/item9": (False, "/p1/"),       # prefix block
            "/p1/open/f": (True, "/p1/open"),   # longer Allow carve-out
            "/d.json": (False, "/*.json$"),     # wildcard + anchor hit
            "/d.jsonx": (True, None),           # anchor rejects extension
            "/q2zzx": (True, "/q2*x"),          # wildcard Allow outranks
            "/q2zz": (False, "/q2"),
            "/tie/y": (True, "/tie"),           # equal length -> Allow
            "/free": (True, None),              # no rule matches
        }
        df = spark.createDataFrame(
            [(p, body) for p in expect], "path string, txt string"
        )
        rules = parse_robots_rules(F.col("txt"))
        best = robots_best_rule(F.col("path"), rules)
        got = {
            r["path"]: (r["allowed"], r["winner"])
            for r in df.select(
                "path",
                robots_allowed(F.col("path"), rules).alias("allowed"),
                best["p"].alias("winner"),
            ).collect()
        }
        assert got == expect

    def test_rfc_matcher_escapes_metachars(self, spark):
        """Regex metachars inside a robots pattern are literal path
        chars (only '*' and trailing '$' are special)."""
        from pyspark.sql import functions as F

        from cex_crawler_spark.functions.robots import (
            parse_robots_rules,
            robots_allowed,
        )

        body = "User-agent: *\nDisallow: /a+b(c).d\n"
        rows = [
            ("/a+b(c).d/e", False),  # literal match
            ("/aab(c)xd/e", True),   # '+' and '.' must NOT act as regex
        ]
        df = spark.createDataFrame(
            [(p, body) for p, _ in rows], "path string, txt string"
        )
        got = {
            r["path"]: r["allowed"]
            for r in df.select(
                "path",
                robots_allowed(
                    F.col("path"), parse_robots_rules(F.col("txt"))
                ).alias("allowed"),
            ).collect()
        }
        assert got == dict(rows)

    def test_rfc_pretranslated_parity(self, spark):
        """Matching against translate_robots_rules' materialized rex
        (the frontier hot-path form) must agree with inline
        translation on every grammar case."""
        from pyspark.sql import functions as F

        from cex_crawler_spark.functions.robots import (
            parse_robots_rules,
            robots_allowed,
            translate_robots_rules,
        )

        body = (
            "User-agent: *\nDisallow: /p1/\nAllow: /p1/open\n"
            "Disallow: /*.json$\nAllow: /q2*x\nDisallow: /q2\n"
            "Disallow: /a+b(c).d\n"
        )
        paths = [
            "/p1/item9", "/p1/open/f", "/d.json", "/d.jsonx",
            "/q2zzx", "/q2zz", "/a+b(c).d/e", "/free",
        ]
        df = spark.createDataFrame(
            [(p, body) for p in paths], "path string, txt string"
        )
        rules = parse_robots_rules(F.col("txt"))
        got = df.select(
            "path",
            robots_allowed(F.col("path"), rules).alias("inline"),
            robots_allowed(
                F.col("path"),
                translate_robots_rules(rules),
                pretranslated=True,
            ).alias("pre"),
        ).collect()
        assert all(r["inline"] == r["pre"] for r in got)

    def test_rfc_group_selection(self, spark):
        """RFC 9309 §2.2.1: User-agent groups — consecutive UA lines
        share one rule block, multiple groups for one agent MERGE,
        unknown agents fall back to '*', a headerless preamble is
        never selected, matching is case-insensitive."""
        from pyspark.sql import functions as F

        from cex_crawler_spark.functions.robots import (
            parse_robots_groups,
            robots_allowed,
            select_robots_rules,
        )

        body = (
            "Disallow: /preamble\n"      # headerless -> never selected
            "User-agent: Alpha\n"
            "Disallow: /a/\n"
            "User-agent: beta\n"         # consecutive UA lines =
            "User-agent: gamma\n"        # one shared group
            "Disallow: /bg\n"
            "Allow: /bg/pub\n"
            "User-agent: *\n"
            "Disallow: /all\n"
            "User-agent: alpha\n"        # second alpha group -> MERGE
            "Allow: /a/pub\n"
        )
        cases = [
            ("alpha", "/a/x", False),
            ("ALPHA", "/a/pub/f", True),   # merged + case-insensitive
            ("alpha", "/bg/x", True),      # others' rules don't apply
            ("alpha", "/all/x", True),     # '*' unused when own exists
            ("beta", "/bg/x", False),
            ("gamma", "/bg/pub/f", True),
            ("beta", "/a/x", True),
            ("delta", "/all/x", False),    # unknown agent -> '*'
            ("delta", "/preamble/x", True),
            ("delta", "/a/x", True),
        ]
        df = spark.createDataFrame(
            [(a, p, body) for a, p, _ in cases],
            "agent string, path string, txt string",
        )
        rules = select_robots_rules(
            parse_robots_groups(F.col("txt")), F.col("agent")
        )
        got = {
            (r["agent"], r["path"]): r["ok"]
            for r in df.select(
                "agent", "path",
                robots_allowed(F.col("path"), rules).alias("ok"),
            ).collect()
        }
        assert got == {(a, p): e for a, p, e in cases}

        # no group at all (not even '*') -> everything allowed
        nogrp = spark.createDataFrame(
            [("x", "/a/x", "User-agent: other\nDisallow: /a/\n")],
            "agent string, path string, txt string",
        )
        assert nogrp.select(
            robots_allowed(
                F.col("path"),
                select_robots_rules(
                    parse_robots_groups(F.col("txt")), F.col("agent")
                ),
            ).alias("ok")
        ).first()["ok"] is True

    def test_scheduler_strict_robots_tier(self, spark):
        """A host_policy carrying robots_rules switches the scheduler
        to full RFC evaluation: an Allow carve-out UNBLOCKS paths the
        prefix tier would block, and a wildcard/$ rule blocks paths the
        prefix tier would pass."""
        from pyspark.sql import functions as F

        from cex_crawler_spark.functions.robots import (
            parse_robots_groups,
            select_robots_rules,
        )
        from cex_crawler_spark.operators.politeness import schedule_round
        from cex_crawler_spark.plans.round import ingest_seeds
        from cex_crawler_spark.synth import gen_frontier, gen_host_policy

        from cex_crawler_spark.functions.robots import (
            translate_robots_rules,
        )

        body = "User-agent: *\nAllow: /private\nDisallow: /*1$\n"
        # pre-translated rules (the effective_host_policy form) — the
        # scheduler must detect the rex field and take the match-only
        # hot path; verdicts asserted below are tier-behavior proof
        policy = gen_host_policy(spark).withColumn(
            "robots_rules",
            translate_robots_rules(
                select_robots_rules(
                    parse_robots_groups(F.lit(body)), F.lit("enginebot")
                )
            ),
        )
        frontier = ingest_seeds(gen_frontier(spark, 400, n_payloads=60))
        d = schedule_round(frontier, policy, "2025-08-29 00:00:00")
        blocked = d.filter(F.col("status") == "robots_blocked")
        # the wildcard rule is the ONLY block: every blocked path ends
        # in 1, and /private alone (the prefix tier's block) no longer
        # blocks anything
        assert blocked.count() > 0
        assert blocked.filter(~F.col("canonical_url").rlike("1$")).count() == 0
        priv_ok = d.filter(
            F.col("canonical_url").contains("/private")
            & ~F.col("canonical_url").rlike("1$")
        )
        assert priv_ok.count() > 0
        assert (
            priv_ok.filter(F.col("status") == "robots_blocked").count() == 0
        )
        # raw (untranslated) rules take the inline-translation branch
        # and must produce the identical verdict set
        raw_policy = gen_host_policy(spark).withColumn(
            "robots_rules",
            select_robots_rules(
                parse_robots_groups(F.lit(body)), F.lit("enginebot")
            ),
        )
        d2 = schedule_round(frontier, raw_policy, "2025-08-29 00:00:00")
        b1 = sorted(
            r["canonical_url"]
            for r in d.filter(
                F.col("status") == "robots_blocked"
            ).collect()
        )
        b2 = sorted(
            r["canonical_url"]
            for r in d2.filter(
                F.col("status") == "robots_blocked"
            ).collect()
        )
        assert b1 == b2

    def test_effective_policy_attaches_agent_rules(self, spark):
        """effective_host_policy(agent=...) adds robots_rules for hosts
        with bodies (the agent's governing group) and NULL for hosts
        without — the scheduler's tier switch key."""
        from pyspark.sql import functions as F

        from cex_crawler_spark.functions.robots import effective_host_policy
        from cex_crawler_spark.synth import gen_host_policy

        policy = gen_host_policy(spark)
        h0, h1 = [r["host"] for r in policy.select("host").limit(2).collect()]
        robots = spark.createDataFrame(
            [
                (
                    h0,
                    "User-agent: enginebot\nDisallow: /mine\n"
                    "User-agent: *\nDisallow: /star\n",
                )
            ],
            "host string, robots_txt string",
        )
        eff = effective_host_policy(policy, robots, agent="EngineBot")
        by_host = {r["host"]: r for r in eff.collect()}
        assert [r["pattern"] for r in by_host[h0]["robots_rules"]] == ["/mine"]
        assert by_host[h1]["robots_rules"] is None

    def test_scheduler_blocks_parsed_prefixes(self, spark):
        """host_policy built FROM robots.txt text blocks the same rows."""
        from pyspark.sql import functions as F

        from cex_crawler_spark.functions.robots import (
            parse_robots_disallow,
            robots_txt_for_policy,
        )
        from cex_crawler_spark.operators.politeness import schedule_round
        from cex_crawler_spark.plans.round import ingest_seeds
        from cex_crawler_spark.synth import gen_frontier, gen_host_policy

        policy = gen_host_policy(spark).withColumn(
            "robots_disallow",
            parse_robots_disallow(robots_txt_for_policy(F.col("robots_disallow"))),
        )
        frontier = ingest_seeds(gen_frontier(spark, 300, n_payloads=50))
        d = schedule_round(frontier, policy, "2025-08-29 00:00:00")
        blocked = d.filter(F.col("status") == "robots_blocked")
        assert blocked.count() > 0
        assert blocked.filter(~F.col("canonical_url").contains("/private")).count() == 0


class TestBigramLM:
    def test_analytic_two_doc_corpus(self, spark):
        """Hand-computed interpolated-bigram scores on a 3-doc corpus;
        a one-token doc has no bigrams and must drop out."""
        import math

        from cex_crawler_spark.functions.text import bigram_logprob_scores

        docs = spark.createDataFrame(
            [(1, "a b a b"), (2, "a a"), (3, "x")],
            "doc_id long, text string",
        )
        got = {
            r["id"]: r
            for r in bigram_logprob_scores(
                docs, "text", "doc_id"
            ).collect()
        }
        # corpus: N=7, c(a)=4, c(b)=2, c(x)=1; bigrams (a,b):2 (b,a):1 (a,a):1
        p_ab = 0.5 * 2 / 4 + 0.5 * 2 / 7
        p_ba = 0.5 * 1 / 2 + 0.5 * 4 / 7
        p_aa = 0.5 * 1 / 4 + 0.5 * 4 / 7
        want1 = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
        want2 = -math.log(p_aa)
        assert set(got) == {1, 2}
        assert got[1]["n_bigrams"] == 3
        assert abs(got[1]["avg_neg_logprob"] - want1) < 1e-4
        assert got[2]["n_bigrams"] == 1
        assert abs(got[2]["avg_neg_logprob"] - want2) < 1e-4

    def test_repetition_scores_worse_than_unigram_view(self, spark):
        """'the the the' is invisible to a unigram filter (common
        token) but the bigram gate must score the repetitive doc no
        better than a normal-order doc of the same vocabulary."""
        from cex_crawler_spark.functions.text import (
            bigram_logprob_scores,
            unigram_logprob_scores,
        )

        filler = [
            (i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(20)
        ]
        docs = spark.createDataFrame(
            filler
            + [(100, "the cat sat on the mat"), (101, "the the the the")],
            "doc_id long, text string",
        )
        uni = {
            r["id"]: r["avg_neg_logprob"]
            for r in unigram_logprob_scores(
                docs, "text", "doc_id"
            ).collect()
        }
        big = {
            r["id"]: r["avg_neg_logprob"]
            for r in bigram_logprob_scores(
                docs, "text", "doc_id"
            ).collect()
        }
        # unigram view: the repetitive doc looks BETTER (all 'the',
        # the most common token) — the blind spot
        assert uni[101] < uni[100]
        # bigram (the,the) is self-reinforcing too, but the repetitive
        # doc no longer beats the normal doc by the unigram margin;
        # sanity: both finite and the gap shrinks
        assert big[101] > 0 and big[100] > 0
        assert (big[100] - big[101]) < (uni[100] - uni[101])


class TestApproxQuantiles:
    def test_percentile_approx_rank_error_bound(self, spark):
        """VERDICT r4 item 5 — the error contract of the mergeable-
        sketch quantile: at n large enough to force sketch compression
        (n ≫ accuracy), the returned element's RANK must be within
        n/accuracy of the target rank, and at gate-scale group sizes
        (n < accuracy) the sketch must be exact (the property the
        DuckDB quantile_disc oracle relies on)."""
        import pyspark.sql.functions as F

        n, acc = 50_000, 100
        df = spark.range(n).select(
            ((F.col("id") * 2654435761) % n).alias("v")  # permutation of 0..n-1
        )
        for q in (0.5, 0.9, 0.99):
            got = df.select(
                F.percentile_approx("v", F.lit(q), F.lit(acc)).alias("p")
            ).first()["p"]
            # v is a permutation of 0..n-1 → value == its 0-based rank
            assert abs(got - q * (n - 1)) <= n / acc + 1, (q, got)

        small = spark.range(999).select(F.col("id").alias("v"))
        for q in (0.5, 0.9, 0.99):
            got = small.select(
                F.percentile_approx("v", F.lit(q), F.lit(10_000)).alias("p")
            ).first()["p"]
            import math
            # exact discrete order statistic at index ceil(q·(n−1))…
            # within one element of the continuous position
            assert abs(got - q * 998) <= 1, (q, got)


class TestCrawlDelay:
    def test_parse_crawl_delay_strictest_wins(self, spark):
        from pyspark.sql import functions as F

        from cex_crawler_spark.functions.robots import (
            parse_robots_crawl_delay,
        )

        rows = [
            ("User-agent: *\nCrawl-delay: 5\nDisallow: /x\n", 5.0),
            ("crawl-delay: 2.5\nCrawl-Delay: 10\n", 10.0),  # strictest wins
            ("User-agent: *\nDisallow: /x\n", None),        # absent → null
            ("Crawl-delay: abc\n", None),                   # malformed → null
            ("Crawl-delay:\t1.25\n", 1.25),                 # tab separator
        ]
        df = spark.createDataFrame(
            [(i, t) for i, (t, _) in enumerate(rows)], "i long, robots string"
        ).select("i", parse_robots_crawl_delay(F.col("robots")).alias("d"))
        got = {r["i"]: r["d"] for r in df.collect()}
        for i, (_, want) in enumerate(rows):
            assert got[i] == want, (i, got[i], want)

    def test_effective_policy_feeds_scheduler(self, spark):
        """robots.txt bodies folded into host_policy lift min_delay_ms
        and add Disallow prefixes the scheduler then enforces; hosts
        without a body keep their configured policy bit-for-bit."""
        from pyspark.sql import functions as F

        from cex_crawler_spark.functions.robots import effective_host_policy
        from cex_crawler_spark.operators.politeness import schedule_round
        from cex_crawler_spark.plans.round import ingest_seeds
        from cex_crawler_spark.synth import HOSTS, gen_frontier, gen_host_policy

        policy = gen_host_policy(spark)
        h0, h1 = HOSTS[0], HOSTS[1]
        robots = spark.createDataFrame(
            [
                (h0, "User-agent: *\nCrawl-delay: 30\nDisallow: /a/\n"),
                (h1, "User-agent: *\nDisallow: /x\n"),  # no delay directive
            ],
            "host string, robots_txt string",
        )
        eff = effective_host_policy(policy, robots)
        assert eff.columns == policy.columns
        by_host = {r["host"]: r for r in eff.collect()}
        base = {r["host"]: r for r in policy.collect()}
        assert by_host[h0]["min_delay_ms"] == 30_000
        assert "/a/" in by_host[h0]["robots_disallow"]
        assert by_host[h1]["min_delay_ms"] == base[h1]["min_delay_ms"]
        for h in HOSTS[2:]:  # untouched hosts: identical policy rows
            assert by_host[h] == base[h]

        frontier = ingest_seeds(gen_frontier(spark, 300, n_payloads=50))
        d = schedule_round(frontier, eff, "2025-08-29 00:00:00")
        h0_rows = d.filter(F.col("host") == h0)
        # every decision for h0 carries the lifted budget into lineage
        assert h0_rows.filter(F.col("min_delay_ms") != 30_000).count() == 0
        assert h0_rows.count() > 0
        # the body-added prefix blocks alongside the configured /private
        blocked = d.filter(F.col("status") == "robots_blocked")
        assert (
            blocked.filter(
                (F.col("host") == h0) & F.col("canonical_url").contains("/a/")
            ).count()
            > 0
        )


class TestPacking:
    def test_chunked_packing_matches_naive_window(self, spark):
        """The chunked prefix-sum decomposition must equal the naive
        global-window cumsum exactly, and per-pack token totals must
        respect the contiguous-packing overflow bound
        (budget + max_len - 1)."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from cex_crawler_spark.operators.packing import (
            pack_documents,
            pack_stats,
        )

        # sparse, non-contiguous ids; deterministic pseudo-random lengths
        df = spark.range(2000).select(
            (F.col("id") * 7 + F.pmod(F.col("id"), F.lit(13))).alias("doc_id"),
            (F.pmod(F.xxhash64("id"), F.lit(97)) + 1).alias("len"),
        )
        budget = 500
        packed = pack_documents(
            df, "doc_id", F.col("len"), budget, chunk_width=64
        )
        got = {
            r["doc_id"]: r["pack_id"]
            for r in packed.select("doc_id", "pack_id").collect()
        }
        naive = df.withColumn(
            "c",
            F.sum("len").over(
                Window.orderBy("doc_id").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        ).withColumn(
            "pack_id", F.floor((F.col("c") - F.col("len")) / F.lit(budget))
        )
        want = {
            r["doc_id"]: r["pack_id"]
            for r in naive.select("doc_id", "pack_id").collect()
        }
        assert got == want

        max_len = df.agg(F.max("len")).first()[0]
        for r in pack_stats(packed).collect():
            assert r["n_tokens"] <= budget + max_len - 1
        # packs are contiguous: sorted doc ids have non-decreasing packs
        ordered = [p for _, p in sorted(got.items())]
        assert ordered == sorted(ordered)


class TestShardAssign:
    def _df(self, spark, n=1100):
        return spark.range(n).select(
            F.format_string("s%06d", F.col("id")).alias("sample_id"),
            F.col("id").alias("payload"),
        )

    def test_matches_naive_global_row_number(self, spark):
        """Chunked rank == one global row_number over the same key."""
        from pyspark.sql.window import Window

        from cex_crawler_spark.operators.packing import assign_shards

        df = self._df(spark)
        got = assign_shards(df, "sample_id", samples_per_shard=100)
        key = F.md5(F.concat(F.lit("42:"), F.col("sample_id")))
        naive = df.withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(key, "sample_id")) - 1,
        ).select(
            "sample_id",
            F.floor(F.col("rnk") / 100).alias("shard_id"),
            (F.col("rnk") % 100).cast("long").alias("idx_in_shard"),
        )
        a = {r["sample_id"]: (r["shard_id"], r["idx_in_shard"])
             for r in got.collect()}
        b = {r["sample_id"]: (r["shard_id"], r["idx_in_shard"])
             for r in naive.collect()}
        assert a == b

    def test_shard_sizes_and_density(self, spark):
        from cex_crawler_spark.operators.packing import assign_shards

        out = assign_shards(
            self._df(spark, 1100), "sample_id", samples_per_shard=250
        )
        sizes = {
            r["shard_id"]: r["n"]
            for r in out.groupBy("shard_id").agg(F.count("*").alias("n")).collect()
        }
        # 1100 = 4 full shards of 250 + one 100-sample tail
        assert sizes == {0: 250, 1: 250, 2: 250, 3: 250, 4: 100}
        # idx_in_shard is dense 0..size-1 within every shard
        dense = out.groupBy("shard_id").agg(
            F.count("*").alias("n"),
            F.min("idx_in_shard").alias("lo"),
            F.max("idx_in_shard").alias("hi"),
            F.count_distinct("idx_in_shard").alias("d"),
        )
        for r in dense.collect():
            assert r["lo"] == 0 and r["hi"] == r["n"] - 1 and r["d"] == r["n"]

    def test_deterministic_and_seed_sensitive(self, spark):
        from cex_crawler_spark.operators.packing import assign_shards

        df = self._df(spark, 400)
        a = sorted(
            (r["sample_id"], r["shard_id"], r["idx_in_shard"])
            for r in assign_shards(df, "sample_id", 100).collect()
        )
        b = sorted(
            (r["sample_id"], r["shard_id"], r["idx_in_shard"])
            for r in assign_shards(df, "sample_id", 100).collect()
        )
        assert a == b
        c = sorted(
            (r["sample_id"], r["shard_id"], r["idx_in_shard"])
            for r in assign_shards(df, "sample_id", 100, seed=7).collect()
        )
        assert a != c  # a different seed re-shuffles the layout
        # ...and the shuffle actually decorrelates input order: some
        # consecutive ids land in different shards
        by_id = dict((s, sh) for s, sh, _ in a)
        assert len({by_id[f"s{i:06d}"] for i in range(20)}) > 1

    def test_no_global_data_window(self, spark):
        """The only unpartitioned window runs over the 4096-row chunk
        COUNTS, never the data: every Window node over the sample rows
        must carry a partition spec."""
        from cex_crawler_spark.operators.packing import assign_shards

        out = assign_shards(self._df(spark), "sample_id", 100)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        import re

        wins = [ln for ln in plan.splitlines() if "Window [" in ln]
        # exactly one data window + one tiny offsets window
        assert len(wins) == 2
        # the data window (the one ranking by __key) is PARTITIONED by
        # __chunk — windowspecdefinition lists partition cols first
        data_wins = [w for w in wins if "__key" in w]
        assert len(data_wins) == 1
        assert "windowspecdefinition(__chunk" in data_wins[0]

    def test_rejects_bad_shard_size(self, spark):
        import pytest

        from cex_crawler_spark.operators.packing import assign_shards

        with pytest.raises(ValueError):
            assign_shards(self._df(spark, 10), "sample_id", 0)


class TestRobotsTtl:
    def test_ttl_boundaries_and_error_fast_retry(self, spark):
        from datetime import datetime

        from cex_crawler_spark.functions.robots import robots_refetch_due

        now = "2025-09-01 12:00:00"

        def at(hours_ago):
            return datetime(2025, 9, 1, 12) - __import__(
                "datetime"
            ).timedelta(hours=hours_ago)

        meta = spark.createDataFrame(
            [
                ("fresh", at(1), True),      # 1 h ok → fresh
                ("edge", at(24), True),      # exactly 24 h → due (≥)
                ("old", at(30), True),       # 30 h → due
                ("err-new", at(0.5), False), # 30 min failed → not yet
                ("err-edge", at(1), False),  # exactly 1 h failed → due
                ("err-old", at(2), False),   # 2 h failed → due
            ],
            "host string, fetched_at timestamp, fetch_ok boolean",
        )
        got = {
            r["host"]: r for r in robots_refetch_due(meta, now).collect()
        }
        assert not got["fresh"]["refetch_due"]
        assert got["edge"]["refetch_due"]
        assert got["old"]["refetch_due"]
        assert not got["err-new"]["refetch_due"]
        assert got["err-edge"]["refetch_due"]
        assert got["err-old"]["refetch_due"]
        assert got["edge"]["age_s"] == 86400
        # dim-sized scan-side arithmetic: no Exchange
        plan = (
            robots_refetch_due(meta, now)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


class TestBlockDensity:
    def test_chrome_drops_content_survives(self, spark):
        from cex_crawler_spark.functions.text import block_density_extract

        html = (
            '<div><a href="/a">Home</a> <a href="/b">News</a> '
            '<a href="/c">About</a></div>'
            "<p>This paragraph carries the actual substance of the page "
            "and easily clears the minimum length bar.</p>"
            '<p>See <a href="/d">the report</a> for the quarterly numbers '
            "discussed at length in this section of the article.</p>"
            "<p>stub9</p>"
            '<div><a href="/p">Privacy</a> <a href="/t">Terms</a></div>'
            "<script>var x = 'this script text must never count';</script>"
        )
        df = spark.createDataFrame([(html,)], "html string")
        s = block_density_extract(F.col("html"))
        r = df.select(
            s["content"].alias("c"), s["n_blocks"].alias("nb"),
            s["n_kept"].alias("nk"),
        ).first()
        assert "actual substance" in r["c"]
        assert "the report" in r["c"]  # in-content links survive
        assert "Home" not in r["c"] and "Privacy" not in r["c"]
        assert "script text" not in r["c"]
        assert "stub9" not in r["c"]  # short block dropped
        assert r["nk"] == 2
        assert r["nb"] >= 4

    def test_link_density_boundary(self, spark):
        """A long block that is MOSTLY links still drops (related-links
        boxes); the 30% bar uses integer cross-multiplication."""
        from cex_crawler_spark.functions.text import block_density_extract

        linkbox = "<p>" + " ".join(
            f'<a href="/{i}">related article number {i} goes here</a>'
            for i in range(6)
        ) + "</p>"
        df = spark.createDataFrame([(linkbox,)], "html string")
        s = block_density_extract(F.col("html"))
        r = df.select(s["n_kept"].alias("nk"), s["n_blocks"].alias("nb")).first()
        assert r["nb"] == 1 and r["nk"] == 0


class TestRobotsPolicyDelta:
    def test_both_directions_and_unpoliced(self, spark):
        from cex_crawler_spark.functions.robots import robots_policy_delta

        frontier = spark.createDataFrame(
            [
                ("h", "https://h/private/1"),
                ("h", "https://h/beta/2"),
                ("h", "https://h/open/3"),
                ("x", "https://x/anything"),
            ],
            "host string, url string",
        )
        old = spark.createDataFrame(
            [("h", ["/private/"])], "host string, robots_disallow array<string>"
        )
        new = spark.createDataFrame(
            [("h", ["/beta/"])], "host string, robots_disallow array<string>"
        )
        got = {
            r["url"]: (r["old_blocked"], r["new_blocked"], r["delta"])
            for r in robots_policy_delta(frontier, old, new).collect()
        }
        assert got["https://h/private/1"] == (True, False, "newly_allowed")
        assert got["https://h/beta/2"] == (False, True, "newly_blocked")
        assert got["https://h/open/3"] == (False, False, None)
        # host absent from BOTH policy dims: never blocked, no delta
        assert got["https://x/anything"] == (False, False, None)


class TestShardManifest:
    def test_manifest_detects_any_layout_drift(self, spark):
        """Same layout → same digests; moving ONE sample between shards
        flips both affected manifests and nothing else."""
        from cex_crawler_spark.operators.packing import (
            assign_shards,
            shard_manifest,
        )

        df = spark.range(100).select(
            F.format_string("s%03d", F.col("id")).alias("sid"),
            F.lit(4).cast("long").alias("b"),
        )
        sh = assign_shards(df, "sid", samples_per_shard=16)
        m1 = {r["shard_id"]: r["manifest_md5"]
              for r in shard_manifest(sh, "sid", bytes_col="b").collect()}
        m2 = {r["shard_id"]: r["manifest_md5"]
              for r in shard_manifest(sh, "sid", bytes_col="b").collect()}
        assert m1 == m2  # deterministic
        # perturb: swap one sample's shard assignment
        moved = sh.withColumn(
            "shard_id",
            F.when(F.col("sid") == "s000",
                   (F.col("shard_id") + 1) % 7).otherwise(F.col("shard_id")),
        )
        m3 = {r["shard_id"]: r["manifest_md5"]
              for r in shard_manifest(moved, "sid", bytes_col="b").collect()}
        src = sh.filter(F.col("sid") == "s000").first()["shard_id"]
        dst = (src + 1) % 7
        changed = {k for k in m1 if m1[k] != m3.get(k)}
        assert changed == {src, dst}


class TestUrlNormProperties:
    @given(st.from_regex(
        r"(https?://)?[A-Za-z0-9.\-]{1,20}(:[0-9]{0,4})?"
        r"(/[A-Za-z0-9._~%/\-]{0,30})?(\?[a-z0-9=&_]{0,30})?(#[a-z0-9]{0,10})?",
        fullmatch=True))
    @settings(max_examples=300, deadline=None)
    def test_canonicalize_idempotent(self, u):
        """Canonical URLs are a fixpoint — re-canonicalizing a stored
        frontier is always safe (the DUST-strip discipline)."""
        c = py_canonicalize_url(u)
        assert py_canonicalize_url(c) == c


class TestBM25:
    def test_bm25_prefers_tf_and_rare_terms(self, spark):
        from cex_crawler_spark.operators.index import bm25_topk

        docs = spark.createDataFrame(
            [
                (1, "apple banana apple apple"),   # tf(apple)=3
                (2, "apple kiwi kiwi kiwi"),       # tf(apple)=1
                (3, "banana banana cherry kiwi"),  # no apple
                (4, "plum plum plum plum"),
            ],
            ["doc_id", "text"],
        )
        top = bm25_topk(docs, "text", "doc_id", ["apple"], k=3).collect()
        assert [r["doc_id"] for r in top] == [1, 2]
        assert top[0]["score"] > top[1]["score"] > 0
        # rare term outweighs common at equal tf
        top2 = bm25_topk(docs, "text", "doc_id", ["cherry", "kiwi"], k=4).collect()
        got = {r["doc_id"]: r for r in top2}
        assert got[3]["n_hit_terms"] == 2
        assert got[3]["score"] > got[2]["score"]

    def test_bm25_deterministic_order_and_k(self, spark):
        from cex_crawler_spark.operators.index import bm25_topk

        docs = spark.createDataFrame(
            [(i, "same words here") for i in range(10)], ["doc_id", "text"]
        )
        top = bm25_topk(docs, "text", "doc_id", ["words"], k=5).collect()
        assert [r["doc_id"] for r in top] == [0, 1, 2, 3, 4]  # doc tiebreak


class TestPhraseMatch:
    def test_phrase_adjacency_and_counts(self, spark):
        from cex_crawler_spark.operators.index import phrase_match

        docs = spark.createDataFrame(
            [
                (1, "fast merge join wins merge join again"),
                (2, "join merge reversed order"),
                (3, "merge then join far apart"),
                (4, "merge join"),
            ],
            ["doc_id", "text"],
        )
        got = {r["doc_id"]: r for r in
               phrase_match(docs, "text", "doc_id", ["merge", "join"]).collect()}
        assert set(got) == {1, 4}
        assert got[1]["n_occurrences"] == 2 and got[1]["first_pos"] == 1
        assert got[4]["n_occurrences"] == 1 and got[4]["first_pos"] == 0

    def test_three_term_phrase(self, spark):
        from cex_crawler_spark.operators.index import phrase_match

        docs = spark.createDataFrame(
            [(1, "a b c d a b c"), (2, "a b x c")], ["doc_id", "text"]
        )
        got = {r["doc_id"]: r["n_occurrences"] for r in
               phrase_match(docs, "text", "doc_id", ["a", "b", "c"]).collect()}
        assert got == {1: 2}


class TestSearchExtras:
    def test_snippets_window_and_clamp(self, spark):
        from cex_crawler_spark.operators.index import phrase_snippets

        docs = spark.createDataFrame(
            [(1, "one two three merge join four five six"),
             (2, "merge join tail only")],
            ["doc_id", "text"],
        )
        got = {r["doc_id"]: r["snippet"] for r in phrase_snippets(
            docs, "text", "doc_id", ["merge", "join"], context=2).collect()}
        assert got[1] == "two three merge join four five"
        assert got[2] == "merge join tail only"   # clamped at doc start

    def test_term_suggest_ranks_by_distance_then_df(self, spark):
        from cex_crawler_spark.operators.index import term_suggest

        docs = spark.createDataFrame(
            [(1, "merge merge join"), (2, "merge join"), (3, "marge simpson")],
            ["doc_id", "text"],
        )
        got = [(r["suggestion"], r["distance"]) for r in term_suggest(
            docs, "text", "doc_id", ["mergee"], k=3).collect()]
        # distance 1: merge(df 2), marge(d2? 'mergee'->'marge'=2)...
        assert got[0] == ("merge", 1)


def test_merge_postings_replaces_docs_entirely(spark):
    from cex_crawler_spark.operators.index import build_postings, merge_postings

    old = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    new1 = spark.createDataFrame([(1, "alpha zeta")], ["doc_id", "text"])
    merged = merge_postings(
        build_postings(old, "text", "doc_id"),
        build_postings(new1, "text", "doc_id"),
    )
    got = {(r["term"], r["doc_id"]): r["tf"] for r in merged.collect()}
    # beta vanished from doc 1 (stale postings must not leak), zeta added
    assert ("beta", 1) not in got and got[("zeta", 1)] == 1
    assert got[("alpha", 1)] == 1 and got[("gamma", 2)] == 1
    # equals from-scratch over the current corpus
    cur = spark.createDataFrame(
        [(1, "alpha zeta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    scratch = {(r["term"], r["doc_id"]): r["tf"] for r in
               build_postings(cur, "text", "doc_id").collect()}
    assert got == scratch


def test_standing_alerts_conjunctive_semantics(spark):
    from cex_crawler_spark.operators.index import standing_alerts

    docs = spark.createDataFrame(
        [(1, "merge join wins"), (2, "merge only here"),
         (3, "join and merge and join")],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame(
        [("q1", "merge"), ("q1", "join"), ("q2", "merge"), ("q3", "absent")],
        ["query_id", "term"],
    )
    got = {(r["query_id"], r["doc_id"]) for r in
           standing_alerts(docs, "text", "doc_id", queries).collect()}
    # q1 needs BOTH; doc 2 has only merge; repeated terms count once
    assert got == {("q1", 1), ("q1", 3), ("q2", 1), ("q2", 2), ("q2", 3)}


def test_anchor_boost_rescues_sparse_body(spark):
    from cex_crawler_spark.operators.index import anchor_boosted_topk

    docs = spark.createDataFrame(
        [(1, "picture gallery page"),        # body never mentions query
         (2, "analytics engine analytics")],
        ["doc_id", "text"],
    )
    anchors = spark.createDataFrame(
        [(1, "best analytics engine"), (1, "analytics dashboard"),
         (2, "misc link")],
        ["doc_id", "anchor"],
    )
    top = anchor_boosted_topk(
        docs, "text", "doc_id", anchors, ["analytics"], k=2
    ).collect()
    got = {r["doc_id"]: r for r in top}
    assert got[1]["body_score"] == 0.0 and got[1]["anchor_score"] > 0
    assert got[2]["anchor_score"] == 0.0 and got[2]["body_score"] > 0
