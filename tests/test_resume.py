"""Resumability: a crawl interrupted after k rounds and re-invoked produces
the bit-identical final state of an uninterrupted run (the manifest commit
is the checkpoint — SURVEY §2.12 exactly-once semantics)."""

from pyspark.sql import functions as F

from cex_crawler_spark.catalog import SnapshotCatalog
from cex_crawler_spark.plans.driver import bootstrap, crawl
from cex_crawler_spark.synth import gen_frontier, gen_host_policy

WATERMARK = "2025-08-29 00:00:00"


def _final_state(spark, catalog):
    res = sorted(
        (r["round"], r["host"], r["host_seq"] or -1, r["url"], r["status"],
         r["caption"] or "")
        for r in catalog.read(spark, "results").collect()
    )
    seen = sorted(r["url_hash"] for r in catalog.read(spark, "seen").collect())
    return res, seen


def test_interrupted_resume_bit_identical(spark, tmp_path):
    seeds = gen_frontier(spark, 250, n_payloads=60)
    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(30))

    cat_a = SnapshotCatalog(tmp_path / "uninterrupted")
    bootstrap(cat_a, seeds, WATERMARK)
    crawl(spark, cat_a, policy, WATERMARK, max_rounds=30, filter_kind=None)

    cat_b = SnapshotCatalog(tmp_path / "interrupted")
    bootstrap(cat_b, seeds, WATERMARK)
    crawl(spark, cat_b, policy, WATERMARK, max_rounds=2, filter_kind=None)  # "kill"
    assert not cat_b.read(spark, "frontier").isEmpty()
    crawl(spark, cat_b, policy, WATERMARK, max_rounds=30, filter_kind=None)  # resume

    assert _final_state(spark, cat_a) == _final_state(spark, cat_b)


def test_resume_with_bloom_matches_no_bloom(spark, tmp_path):
    """Bloom prefilter (rebuilt on resume) never changes the outcome."""
    seeds = gen_frontier(spark, 250, n_payloads=60)
    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(30))

    cat_a = SnapshotCatalog(tmp_path / "nobloom")
    bootstrap(cat_a, seeds, WATERMARK)
    crawl(spark, cat_a, policy, WATERMARK, max_rounds=30, filter_kind=None)

    cat_b = SnapshotCatalog(tmp_path / "bloom")
    bootstrap(cat_b, seeds, WATERMARK)
    crawl(spark, cat_b, policy, WATERMARK, max_rounds=2,
          bloom_expected=5000)
    crawl(spark, cat_b, policy, WATERMARK, max_rounds=30,
          bloom_expected=5000)

    assert _final_state(spark, cat_a) == _final_state(spark, cat_b)


def test_resume_loads_persisted_bloom_no_seen_rescan(spark, tmp_path, monkeypatch):
    """VERDICT r3 item 4: each round persists its merged Bloom bitmap
    with the manifest, so a resume loads ~1 MB from disk instead of
    re-scanning the whole seen table (a cost that grows with crawl age).
    The cold rebuild must NOT run; the loaded bitmap must cover every
    committed seen key (no false negatives possible); the final state
    must still equal the no-bloom ground truth; vacuum must prune old
    sidecars without touching the live one."""
    import numpy as np

    import cex_crawler_spark.plans.driver as drv
    from cex_crawler_spark.plans.round import load_bloom_sidecar

    seeds = gen_frontier(spark, 250, n_payloads=60)
    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(30))

    cat = SnapshotCatalog(tmp_path / "bloomsidecar")
    bootstrap(cat, seeds, WATERMARK)
    crawl(spark, cat, policy, WATERMARK, max_rounds=2, bloom_expected=5000)

    def no_rebuild(*a, **k):
        raise AssertionError("resume cold-rebuilt the bloom from the seen table")

    # round-level delta builds (round.build_filter) stay intact; only the
    # driver's cold-rebuild path is fenced off
    monkeypatch.setattr(drv, "build_filter", no_rebuild)
    crawl(spark, cat, policy, WATERMARK, max_rounds=30, bloom_expected=5000)

    bf = load_bloom_sidecar(cat, 5000)
    assert bf is not None
    keys = np.array(
        [r["url_hash"] for r in cat.read(spark, "seen").collect()],
        dtype=np.int64,
    )
    assert keys.size > 0 and bf.might_contain(keys).all()
    # sized-for-a-different-crawl sidecars are rejected (fallback path)
    assert load_bloom_sidecar(cat, 9999) is None

    deleted = cat.vacuum(keep_versions=1)
    assert any("_bloom" in d for d in deleted)
    assert load_bloom_sidecar(cat, 5000) is not None

    cat_a = SnapshotCatalog(tmp_path / "nobloom_truth")
    bootstrap(cat_a, seeds, WATERMARK)
    crawl(spark, cat_a, policy, WATERMARK, max_rounds=30, filter_kind=None)
    assert _final_state(spark, cat_a) == _final_state(spark, cat)


def test_task_failure_retry_exactly_once(spark, tmp_path, monkeypatch):
    """VERDICT r4 item 1 — the executor-side exactly-once half: a fetch
    TASK attempt that crashes after emitting partial output must be
    discarded and retried by Spark (local[4,2] session), and the final
    committed results/seen must be bit-identical to a clean run — no
    duplicated rows from the dead attempt, no lost rows."""
    import functools

    import cex_crawler_spark.plans.round as rnd
    from cex_crawler_spark.operators.fetch import fetch_and_validate

    seeds = gen_frontier(spark, 250, n_payloads=60)
    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(30))

    cat_a = SnapshotCatalog(tmp_path / "clean")
    bootstrap(cat_a, seeds, WATERMARK)
    crawl(spark, cat_a, policy, WATERMARK, max_rounds=30, filter_kind=None)

    latch = tmp_path / "fault_latch"
    monkeypatch.setattr(
        rnd,
        "fetch_and_validate",
        functools.partial(fetch_and_validate, fault_latch=str(latch)),
    )
    cat_b = SnapshotCatalog(tmp_path / "faulted")
    bootstrap(cat_b, seeds, WATERMARK)
    crawl(spark, cat_b, policy, WATERMARK, max_rounds=30, filter_kind=None)

    assert latch.exists()  # the fault actually fired (and only once)
    assert _final_state(spark, cat_a) == _final_state(spark, cat_b)


def test_resume_pre_priority_catalog(spark, tmp_path):
    """ADVICE r4 (medium): a catalog persisted BEFORE the priority
    column existed must resume — both the scheduler and the next-round
    frontier rewrite (candidates.select(*FRONTIER_COLS)) need the
    default-level guard, and the drain must finish bit-identical to an
    uninterrupted run (gen_frontier seeds are all priority 0, so legacy
    default-0 semantics are exactly the modern plan's)."""
    from cex_crawler_spark.catalog import OVERWRITE

    seeds = gen_frontier(spark, 250, n_payloads=60)
    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(30))

    cat_a = SnapshotCatalog(tmp_path / "truth")
    bootstrap(cat_a, seeds, WATERMARK)
    crawl(spark, cat_a, policy, WATERMARK, max_rounds=30, filter_kind=None)

    cat_b = SnapshotCatalog(tmp_path / "legacy")
    bootstrap(cat_b, seeds, WATERMARK)
    crawl(spark, cat_b, policy, WATERMARK, max_rounds=2, filter_kind=None)
    # simulate the legacy layout: rewrite the frontier without priority
    legacy = cat_b.read(spark, "frontier").drop("priority")
    assert "priority" not in legacy.columns
    cat_b.commit(cat_b.current_round(), {"frontier": (legacy, OVERWRITE)})
    crawl(spark, cat_b, policy, WATERMARK, max_rounds=30, filter_kind=None)

    assert _final_state(spark, cat_a) == _final_state(spark, cat_b)


def test_crawl_with_periodic_compaction_identical(spark, tmp_path):
    """compact_every folds small-file compaction into the crawl loop:
    the final state must be bit-identical to an uncompacted crawl, the
    append tables must end with few consolidated paths, the bloom
    sidecar reference must survive compaction (resume keeps using it),
    and a kill+resume across a compaction point must still converge."""
    from cex_crawler_spark.plans.round import load_bloom_sidecar

    seeds = gen_frontier(spark, 250, n_payloads=60)
    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(30))

    cat_a = SnapshotCatalog(tmp_path / "plain")
    bootstrap(cat_a, seeds, WATERMARK)
    crawl(spark, cat_a, policy, WATERMARK, max_rounds=30, filter_kind=None)
    n_rounds = len(cat_a.read(spark, "results").select("round").distinct().collect())
    assert n_rounds >= 3  # enough rounds for compaction to trigger repeatedly

    cat_b = SnapshotCatalog(tmp_path / "compacted")
    bootstrap(cat_b, seeds, WATERMARK)
    crawl(spark, cat_b, policy, WATERMARK, max_rounds=2,
          bloom_expected=5000, compact_every=1)  # "kill" after 2 rounds
    assert len(cat_b.manifest()["tables"]["seen"]["paths"]) == 1
    assert load_bloom_sidecar(cat_b, 5000) is not None  # survived compact
    crawl(spark, cat_b, policy, WATERMARK, max_rounds=30,
          bloom_expected=5000, compact_every=1)  # resume across compaction

    assert _final_state(spark, cat_a) == _final_state(spark, cat_b)
    assert len(cat_b.manifest()["tables"]["results"]["paths"]) <= 3


def test_round_job_count_bounded(spark, tmp_path):
    """The per-round Spark job count is the fixed cost that dominates
    small rounds (PLANS.md) — pin an upper bound so a refactor that
    silently adds per-round jobs fails here rather than in BENCH."""
    from cex_crawler_spark.catalog import SnapshotCatalog
    from cex_crawler_spark.plans.driver import bootstrap, crawl
    from cex_crawler_spark.synth import gen_frontier, gen_host_policy

    cat = SnapshotCatalog(tmp_path / "jobcount")
    bootstrap(cat, gen_frontier(spark, 300, n_payloads=50), "2025-08-29 00:00:00")
    tracker = spark.sparkContext.statusTracker()
    # job groups accumulate per session — count only THIS crawl's jobs
    before = set(tracker.getJobIdsForGroup("round-0"))
    crawl(spark, cat, gen_host_policy(spark), "2025-08-29 00:00:00",
          max_rounds=1)
    jobs = set(tracker.getJobIdsForGroup("round-0")) - before
    # measured 35-37 with AQE on (every adaptive query stage is its
    # own job), including the four InheritableThread table writes.
    # Before the round inputs were checkpointed it measured 46-49: a
    # persisted narrow projection became one query stage job per
    # consumer, and persisted decisions took three concurrent jobs.  The
    # bound (measured maximum + 2) catches a refactor that silently
    # multiplies per-round actions.
    assert 0 < len(jobs) <= 39, f"round-0 launched {len(jobs)} jobs"


def test_drained_frontier_commits_in_one_job(spark, tmp_path, monkeypatch):
    """A round that defers nothing writes its empty next frontier in
    one job: a zero-row partitioned write leaves no file, so writing it
    partitioned first paid a second, flat write for the schema."""
    cat = SnapshotCatalog(tmp_path / "drained")
    bootstrap(cat, gen_frontier(spark, 120, n_payloads=20), WATERMARK)
    rounds = []
    real = SnapshotCatalog.commit

    def spy(self, round_id, writes, *args, **kwargs):
        rounds.append(writes)
        return real(self, round_id, writes, *args, **kwargs)

    monkeypatch.setattr(SnapshotCatalog, "commit", spy)
    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(10_000))
    stats = crawl(spark, cat, policy, WATERMARK, max_rounds=1,
                  filter_kind=None)
    assert stats[0]["deferred"] == 0
    frontier = rounds[-1]["frontier"]  # the round's own write, lazily built

    sc = spark.sparkContext
    sc.setJobGroup("drained-frontier", "drained frontier commit", False)
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup("drained-frontier"))
    real(cat, 1, {"frontier": frontier},
         partition_by={"frontier": ["host_bucket"]})
    jobs = set(tracker.getJobIdsForGroup("drained-frontier")) - before
    assert len(jobs) == 1, f"empty frontier commit ran {len(jobs)} jobs"
    out = cat.read(spark, "frontier")
    assert out.count() == 0 and "host_bucket" in out.columns


def test_crawl_releases_round_materializations(spark, tmp_path):
    """Every round's cached and checkpointed inputs are released when
    the round ends: a multi-round crawl leaves no persisted RDD behind."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    cat = SnapshotCatalog(tmp_path / "release")
    bootstrap(cat, gen_frontier(spark, 250, n_payloads=60), WATERMARK)
    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(15))
    stats = crawl(spark, cat, policy, WATERMARK, max_rounds=4)
    assert len(stats) == 4
    assert jsc.getPersistentRDDs().size() == before


def test_requeue_refetches_invalidated_urls(spark, tmp_path):
    """The cuckoo delete path end-to-end: after a full drain, requeue()
    un-sees a batch of fetched URLs; the next crawl re-fetches EXACTLY
    that batch (same crawl decisions on the second pass), everything
    else stays seen, and the sweep is idempotent."""
    seeds = gen_frontier(spark, 250, n_payloads=60)
    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(30))

    from cex_crawler_spark.plans.driver import requeue

    cat = SnapshotCatalog(tmp_path / "requeue")
    bootstrap(cat, seeds, WATERMARK)
    crawl(spark, cat, policy, WATERMARK, max_rounds=30, filter_kind=None)
    assert cat.read(spark, "frontier").isEmpty()
    results1 = cat.read(spark, "results").collect()
    fetched1 = {r["url_hash"] for r in results1 if r["status"] == "fetched"}

    # invalidate a slice of the FETCHED urls, in seed shape
    target = (
        seeds.join(
            cat.read(spark, "results")
            .filter(F.col("status") == "fetched")
            .select("url"),
            "url",
        )
        .orderBy("seq")
        .limit(20)
    )
    n_target = target.count()
    assert n_target > 0
    stats = requeue(spark, cat, target)
    assert stats["requeued"] > 0
    assert stats["unseen"] == stats["requeued"]

    # idempotent: the same sweep again adds nothing new
    stats2 = requeue(spark, cat, target)
    assert stats2["requeued"] == 0 and stats2["unseen"] == 0

    crawl(spark, cat, policy, WATERMARK, max_rounds=30, filter_kind=None)
    results2 = cat.read(spark, "results").collect()
    # rows added by the second crawl = totals minus the first pass
    from collections import Counter

    delta = Counter(
        (r["url_hash"], r["status"]) for r in results2
    ) - Counter((r["url_hash"], r["status"]) for r in results1)
    # every re-fetched row is one of the invalidated urls, and each
    # invalidated url was fetched again exactly once
    refetched = {h for (h, s), c in delta.items() if s == "fetched"}
    assert all(h in fetched1 for h in refetched)
    assert sum(c for (h, s), c in delta.items() if s == "fetched") == stats[
        "requeued"
    ]
    # seen set is back to covering every fetched url exactly once
    seen = sorted(r["url_hash"] for r in cat.read(spark, "seen").collect())
    assert len(seen) == len(set(seen))


def test_cuckoo_crawl_lifecycle_matches_no_filter(spark, tmp_path):
    """filter_kind='cuckoo' as a first-class crawl mode: interrupted
    crawl resumes from the cuckoo sidecar, a requeue sweep tightens the
    live filter, and the final state is bit-identical to the same
    lifecycle run with no prefilter at all (exactness never depends on
    the filter)."""
    from cex_crawler_spark.operators.seen import CuckooFilter64
    from cex_crawler_spark.plans.driver import requeue
    from cex_crawler_spark.plans.round import load_bloom_sidecar

    seeds = gen_frontier(spark, 250, n_payloads=60)
    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(30))

    def lifecycle(path, **crawl_kw):
        cat = SnapshotCatalog(path)
        bootstrap(cat, seeds, WATERMARK)
        crawl(spark, cat, policy, WATERMARK, max_rounds=2, **crawl_kw)  # kill
        crawl(spark, cat, policy, WATERMARK, max_rounds=30, **crawl_kw)
        target = (
            seeds.join(
                cat.read(spark, "results")
                .filter(F.col("status") == "fetched")
                .select("url"),
                "url",
            )
            .orderBy("seq")
            .limit(15)
        )
        cuckoo = None
        if crawl_kw.get("filter_kind") == "cuckoo":
            cuckoo = load_bloom_sidecar(cat, 5000, "cuckoo")
            assert isinstance(cuckoo, CuckooFilter64)  # sidecar resume works
        requeue(spark, cat, target, cuckoo=cuckoo)
        crawl(spark, cat, policy, WATERMARK, max_rounds=30, **crawl_kw)
        return cat

    cat_c = lifecycle(tmp_path / "cuckoo", filter_kind="cuckoo",
                      bloom_expected=5000)
    cat_n = lifecycle(tmp_path / "nofilter", filter_kind=None)
    assert _final_state(spark, cat_c) == _final_state(spark, cat_n)


def test_fetch_memo_null_and_dup_image_ids(spark):
    """r6 fetch memoization: duplicate image_ids get the (identical)
    memoized verdict, a NULL image_id still yields the fetch-failed row
    (factorize's na sentinel must not alias it to another verdict).

    The fetch stage calls ``page_for`` (no perceptual hash), yet every
    verdict column must equal the one derived from the full payload row
    (``payload_for`` + decode + PSNR against the reference decode)."""
    from pyspark.sql import types as T

    from cex_crawler_spark.functions.imaging import decode_image, psnr
    from cex_crawler_spark.operators.fetch import (
        FETCH_VERDICT_SCHEMA,
        fetch_and_validate,
    )
    from cex_crawler_spark.operators.validate import PSNR_THRESHOLD_DB
    from cex_crawler_spark.payload import (
        caption_for,
        page_for,
        payload_for,
        reference_decode,
    )

    ids = [f"img{i:010d}" for i in range(300)]
    rows = [(n, i) for n, i in enumerate(ids)]
    rows += [(-1, None), (-2, ids[1])]
    schema = T.StructType(
        [
            T.StructField("url_hash", T.LongType()),
            T.StructField("image_id", T.StringType()),
        ]
    )
    out = {
        r["url_hash"]: r
        for r in fetch_and_validate(
            spark.createDataFrame(rows, schema)
        ).collect()
    }
    assert "phash" not in FETCH_VERDICT_SCHEMA.names
    assert len(out) == len(rows)
    assert out[-1]["fetch_ok"] is False and out[-1]["valid"] is False
    # duplicate ids must agree on every verdict column
    assert out[1].asDict() == {**out[-2].asDict(), "url_hash": 1}

    fmts = set()
    for n, i in enumerate(ids):
        p = payload_for(i)
        assert page_for(i) == {k: v for k, v in p.items() if k != "phash"}
        decoded = decode_image(p["bytes"], p["fmt"])
        ref = reference_decode(i)
        p_db = min(psnr(decoded, ref), 1e9)
        pixels_ok = p_db >= PSNR_THRESHOLD_DB and decoded.shape == ref.shape
        caption_ok = p["caption"] == caption_for(i)
        expected = {
            "url_hash": n, "image_id": i, "w": p["w"], "h": p["h"],
            "fmt": p["fmt"], "caption": p["caption"], "fetch_ok": True,
            "pixels_ok": pixels_ok, "caption_ok": caption_ok,
            "psnr_db": p_db, "valid": pixels_ok and caption_ok,
        }
        assert out[n].asDict() == expected, i
        fmts.add(p["fmt"])
    assert fmts == {"png", "jpeg"}


def test_bloom_delta_pinned_to_round_commit(spark, tmp_path, monkeypatch):
    """The round's filter update reads the seen delta of the version it
    committed, not the catalog head: a seen append committed by another
    writer between the round's commit and its filter update must not
    cost the filter this round's keys (filter ⊇ seen)."""
    import numpy as np

    from cex_crawler_spark.catalog import APPEND
    from cex_crawler_spark.operators.seen import BloomFilter64
    from cex_crawler_spark.plans.round import run_round

    cat = SnapshotCatalog(tmp_path / "interleaved")
    bootstrap(cat, gen_frontier(spark, 250, n_payloads=60), WATERMARK)
    other = spark.createDataFrame(
        [(-1, "https://interleaved.example/x")], "url_hash long, url string"
    )
    real_commit = cat.commit

    def commit_then_interleave(round_id, writes, **kw):
        version = real_commit(round_id, writes, **kw)
        if "results" in writes:
            real_commit(round_id, {"seen": (other, APPEND)})
        return version

    monkeypatch.setattr(cat, "commit", commit_then_interleave)
    bloom = BloomFilter64(5000)
    run_round(spark, cat, gen_host_policy(spark), WATERMARK, 0,
              bloom=bloom, bloom_expected=5000)

    keys = np.array(
        [r["url_hash"] for r in cat.read(spark, "seen").collect()
         if r["url_hash"] != -1],
        dtype=np.int64,
    )
    assert keys.size > 0 and bloom.might_contain(keys).all()


def test_cuckoo_sidecar_survives_compact_and_vacuum(spark, tmp_path,
                                                     monkeypatch):
    """Compaction carries the cuckoo sidecar reference forward and
    vacuum keeps its file, so a cuckoo crawl compacted mid-way still
    resumes from the sidecar (no cold rebuild)."""
    import numpy as np

    import cex_crawler_spark.plans.driver as drv
    from cex_crawler_spark.plans.round import load_bloom_sidecar

    seeds = gen_frontier(spark, 250, n_payloads=60)
    policy = gen_host_policy(spark).withColumn("budget_per_round", F.lit(30))
    cat = SnapshotCatalog(tmp_path / "cuckoo_compact")
    bootstrap(cat, seeds, WATERMARK)
    crawl(spark, cat, policy, WATERMARK, max_rounds=2,
          filter_kind="cuckoo", bloom_expected=5000)  # "kill"
    cat.compact(spark, "seen")
    cat.vacuum(keep_versions=1)
    assert load_bloom_sidecar(cat, 5000, "cuckoo") is not None

    def no_rebuild(*a, **k):
        raise AssertionError("resume cold-rebuilt the cuckoo filter")

    monkeypatch.setattr(drv, "build_filter", no_rebuild)
    crawl(spark, cat, policy, WATERMARK, max_rounds=30,
          filter_kind="cuckoo", bloom_expected=5000)

    cf = load_bloom_sidecar(cat, 5000, "cuckoo")
    keys = np.array(
        [r["url_hash"] for r in cat.read(spark, "seen").collect()],
        dtype=np.int64,
    )
    assert cf is not None
    assert keys.size > 0 and cf.might_contain(keys).all()
