"""One crawl round — the engine's core logical plan.

Replaces the reference's per-exchange sequential loop
(/root/reference/main.py:148-186 + each exchange's run_scraping) with one
declarative DataFrame plan per round:

    frontier ──anti-join seen (Bloom-prefiltered)──► candidates
             ──politeness window rank──► {robots, stale, dup, scheduled, deferred}
    scheduled ──mapInPandas fetch──► payloads ──validate──► fetched/stale
    commit: frontier' (deferred), seen+Δ, results+Δ, metrics+Δ, lineage+Δ

All five tables commit atomically via the SnapshotCatalog manifest, so a
kill at any point resumes from the previous round bit-identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import APPEND, OVERWRITE, SnapshotCatalog
from ..operators.fetch import fetch_and_validate
from ..operators.politeness import (
    STATUS_DEFERRED,
    STATUS_DUP,
    STATUS_FETCHED,
    STATUS_ROBOTS,
    STATUS_SCHEDULED,
    STATUS_STALE,
    schedule_round,
)
from ..operators.seen import (
    BloomFilter64,
    CuckooFilter64,
    anti_join_seen,
    build_filter,
)
# not called here: perfbench builds its recrawl sidecar as round.build_bloom
from ..operators.seen import build_bloom  # noqa: F401
from ..functions.urlnorm import with_canonical_url

# frontier columns persisted across rounds
FRONTIER_COLS = [
    "url", "canonical_url", "url_hash", "host", "section", "priority", "seq",
    "seed_id", "title", "release_time", "image_id", "time_known_prefetch",
    "duplicate_of",
]

# frontier hive-partition fan-out: pmod(xxhash64(host), N).  Host-targeted
# scans (recrawl one host, inspect a host's backlog) prune to 1/N of the
# files; the full-frontier round scan reads everything either way.
HOST_BUCKETS = 16


def with_host_bucket(df: DataFrame, n_buckets: int = HOST_BUCKETS) -> DataFrame:
    # int cast: hive partition-column inference reads the directory value
    # back as IntegerType, and the empty-snapshot fallback writes the
    # column as DATA — the cast keeps both paths the same type (ADVICE r2)
    return df.withColumn(
        "host_bucket", F.pmod(F.xxhash64("host"), F.lit(n_buckets)).cast("int")
    )


def ingest_seeds(seeds: DataFrame) -> DataFrame:
    """Canonicalize + hash raw seed rows into frontier shape.  Seed
    sources without an explicit ``priority`` get level 0 (the reference
    semantics, where section order is the only priority)."""
    if "priority" not in seeds.columns:
        seeds = seeds.withColumn("priority", F.lit(0).cast("long"))
    return with_canonical_url(seeds).select(*FRONTIER_COLS)


def save_bloom_sidecar(
    catalog: SnapshotCatalog, version: int,
    filt: BloomFilter64 | CuckooFilter64, n_expected: int,
) -> None:
    """Persist the seen filter (either kind) next to the manifest
    version it covers.

    Resume previously cold-rebuilt the filter from the FULL seen table —
    a scan whose cost grows with crawl age (VERDICT r3 item 4).  The
    filter bytes are written (atomic tmp+rename) to
    ``_bloom/v<N>.<kind>.bin`` and referenced from manifest ``v<N>``
    under the key ``filt.kind`` (one of ``catalog.SIDECAR_KEYS``), with
    the filter's geometry, via :meth:`SnapshotCatalog.amend` AFTER the
    round's seen-delta was merged, so a persisted filter is always a
    SUPERSET of that manifest's seen keys (a filter missing keys would
    break the anti-join's exactness; a superset only costs extra join
    probes).  A kill between commit and this amend leaves the manifest
    without the entry → the resume path falls back to the cold rebuild,
    so correctness never depends on the sidecar.
    """
    d = catalog.root / "_bloom"
    d.mkdir(exist_ok=True)
    path = d / f"v{version:06d}.{filt.kind}.bin"
    tmp = path.with_suffix(".tmp")
    tmp.write_bytes(filt.to_bytes())
    os.rename(tmp, path)
    catalog.amend(
        version,
        {filt.kind: {"file": path.name, **filt.geometry,
                     "n_expected": n_expected}},
    )


def load_bloom_sidecar(
    catalog: SnapshotCatalog, n_expected: int, kind: str = "bloom"
) -> BloomFilter64 | CuckooFilter64 | None:
    """Reconstruct the persisted ``kind`` filter for the CURRENT
    manifest, or ``None`` when absent / sized for a different
    ``n_expected`` / missing on disk / of a geometry other than the
    manifest records — callers then cold-rebuild from the seen table."""
    entry = catalog.manifest().get(kind)
    if not entry or entry["n_expected"] != n_expected:
        return None
    path = catalog.root / "_bloom" / entry["file"]
    if not path.exists():
        return None
    cls = {"bloom": BloomFilter64, "cuckoo": CuckooFilter64}[kind]
    filt = cls.from_bytes(path.read_bytes(), n_expected)
    if any(entry.get(k) != v for k, v in filt.geometry.items()):
        return None
    return filt


def run_round(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    host_policy: DataFrame,
    watermark: str,
    round_id: int,
    bloom: BloomFilter64 | CuckooFilter64 | None = None,
    expand: bool = False,
    bloom_expected: int = 1_000_000,
) -> dict:
    """Execute one round against catalog state; returns round stats.

    When the seen filter ``bloom`` (either kind) is given, this round's
    seen delta is merged into it in place as part of the round, and the
    merged filter is persisted as the version's sidecar.

    Every Spark job the round launches is tagged with job group
    ``round-<id>`` so the per-round job count is observable via the
    status tracker (fixed per-round job count is the scaling lever the
    8→32 profile identified; tests pin an upper bound)."""
    spark.sparkContext.setJobGroup(
        f"round-{round_id}", f"crawl round {round_id}", False
    )
    frontier = catalog.read(spark, "frontier")
    if "priority" not in frontier.columns:
        # catalogs persisted before the priority column existed resume at
        # the default level; without this, candidates.select(*FRONTIER_COLS)
        # below (the next-round frontier rewrite) raises AnalysisException —
        # the scheduler-side fallback alone only patched its local copy
        # (ADVICE r4 medium)
        frontier = frontier.withColumn("priority", F.lit(0).cast("long"))
    seen = catalog.read(spark, "seen") if catalog.has_table("seen") else None

    # NOTE: schedule_round computes its narrow projection of the
    # candidates (the seen check included) once, as a local checkpoint
    # every scheduling branch reads.  The wide rows are not
    # materialized: only the next-frontier write below re-reads them,
    # pruned at the scan, which is cheaper than a wide cache of
    # candidates (measured: +9s/round at 1M rows with a persist here).
    candidates = anti_join_seen(frontier, seen, "url_hash", bloom)
    round_caches: list = []
    decisions = schedule_round(
        candidates, host_policy, watermark, caches=round_caches
    )
    # one pass, many consumers (results / frontier' / metrics) → computed
    # once, now, as a local checkpoint.  A persist() instead left each
    # consumer's adaptive query stages to build it: three concurrent
    # jobs per round, each rerunning the dup and rank shuffles.
    # decisions is NARROW (politeness.py): wide frontier columns are
    # joined back below only for the rows that need them — the scheduled
    # minority (fetch needs image_id) and the deferred remainder (the
    # next-round frontier).  r2 instead joined every verdict to the wide
    # rows up front: a full-width shuffle of both sides that the 8→32
    # scaling profile identified as pure fixed-stage latency.
    decisions = decisions.localCheckpoint(eager=True)

    # one observe() pass piggy-backed on the results write replaces the
    # r2 post-commit metrics-parquet re-read job (VERDICT r2 items 1/7)
    from pyspark.sql import Observation

    # unnamed → auto-unique; a resumed round re-using an id in the same
    # session must not collide on the listener name
    obs = Observation()
    all_statuses = [
        STATUS_ROBOTS, STATUS_STALE, STATUS_DUP, STATUS_SCHEDULED,
        STATUS_DEFERRED,
    ]
    observed = decisions.observe(
        obs, *[F.count_if(F.col("status") == s).alias(s) for s in all_statuses]
    )

    # the fetch input comes STRAIGHT from the decisions checkpoint — the
    # narrow projection carries image_id + the post-fetch freshness
    # columns precisely so no join back to the wide frontier is needed
    # here (r3.0 joined a sched_ids set against the frontier lineage;
    # on a drain round that meant an extra full scan + a six-figure-row
    # broadcast build)
    scheduled = decisions.filter(F.col("status") == STATUS_SCHEDULED)
    # fused fetch→decode→validate: bytes never leave the Python worker,
    # and results persist captions + verdicts, never raw payloads
    # (matching the reference, which stores extracted records only —
    # /root/reference/deepseek_analyzer.py:225-242)
    validated = fetch_and_validate(scheduled)
    verdicts = validated.select(
        F.col("url_hash").alias("uh"), "caption", "valid", "psnr_db"
    )

    fetched = (
        scheduled
        .join(verdicts, F.col("url_hash") == F.col("uh"))
        .drop("uh")
        # post-fetch freshness (weex/bitunix/blofin semantics): budget was
        # consumed, but stale rows are placeholdered, caption dropped
        .withColumn(
            "status",
            F.when(
                (~F.col("time_known_prefetch"))
                & (F.col("release_time") < F.to_timestamp(F.lit(watermark))),
                STATUS_STALE,
            ).otherwise(STATUS_FETCHED),
        )
        .withColumn(
            "caption",
            F.when(F.col("status") == STATUS_FETCHED, F.col("caption")),
        )
    )

    results_delta = fetched.select(
        F.lit(round_id).alias("round"),
        "host",
        "host_seq",
        F.col("canonical_url").alias("url"),
        "url_hash",
        "status",
        "caption",
        "valid",
        "psnr_db",
    ).unionByName(
        # `observed` (not `decisions`): the terminal-status filter sits
        # ABOVE the CollectMetrics node, so this leg's scan inside the
        # results write streams every decision row through the observe()
        # counters — the round stats cost zero extra jobs
        observed.filter(
            ~F.col("status").isin(STATUS_SCHEDULED, STATUS_DEFERRED)
        ).select(
            F.lit(round_id).alias("round"),
            "host",
            F.lit(None).cast("long").alias("host_seq"),
            F.col("canonical_url").alias("url"),
            "url_hash",
            "status",
            F.lit(None).cast("string").alias("caption"),
            F.lit(None).cast("boolean").alias("valid"),
            F.lit(None).cast("double").alias("psnr_db"),
        )
    ).persist()

    # seen semantics: fetched + stale placeholders exist as "files"
    # (reference exchange/binance.py:242-255); robots/dup rows are terminal
    # in results but not part of the reference-comparable seen set.
    seen_delta = (
        results_delta.filter(F.col("status").isin(STATUS_FETCHED, STATUS_STALE))
        .select("url_hash", "url")
        .distinct()
    )

    # deferred rows keep their wide frontier columns via an ANTI-join
    # against the (small) non-deferred id set — the deferred majority
    # never shuffles; candidates re-scan with pruning + a broadcast probe
    non_deferred_ids = decisions.filter(
        F.col("status") != STATUS_DEFERRED
    ).select("seed_id")
    new_frontier = candidates.select(*FRONTIER_COLS).join(
        non_deferred_ids, "seed_id", "left_anti"
    ).select(*FRONTIER_COLS)
    if expand:
        # S8 link discovery: fetched seed pages emit child URLs into the
        # next round's frontier; the seen anti-join dedups rediscoveries
        from ..operators.expand import expand_links

        children = expand_links(fetched).select(*FRONTIER_COLS)
        new_frontier = new_frontier.unionByName(children)

    frontier_write = with_host_bucket(new_frontier)

    def frontier_plan() -> DataFrame:
        # resolved AFTER the serial results write: when the observe()
        # counters show nothing deferred (and expansion can't add
        # children), the next frontier is empty BY CONSTRUCTION — write
        # it from the schema instead of re-scanning the whole frontier
        # through the anti-join just to emit zero rows (the final round
        # of every drain hits this).  limit(0) optimizes to an empty
        # LocalRelation, which the commit writes flat in one job.
        if not expand and obs.get.get(STATUS_DEFERRED, 0) == 0:
            return frontier_write.limit(0)
        return frontier_write

    # metrics + lineage share ONE pre-aggregation over the decisions
    # checkpoint — (host, part, status) is a superset key of both, so each
    # table is a re-group of the tiny grain rows (hosts × partitions ×
    # statuses) instead of its own full shuffle over the cache (r6; the
    # emitted rows are identical: counts sum, budget/min_delay are
    # host-constant from the policy join, url_hash min/max compose).
    grain = (
        decisions.withColumn("part", F.spark_partition_id())
        .groupBy("host", "part", "status")
        .agg(
            F.count("*").alias("__n"),
            F.min("url_hash").alias("__min_uh"),
            F.max("url_hash").alias("__max_uh"),
            F.first("budget_per_round").alias("__budget"),
            F.first("min_delay_ms").alias("__delay"),
        )
        .persist()
    )
    round_caches.append(grain)
    metrics_delta = grain.groupBy(
        F.lit(round_id).alias("round"), "host", "status"
    ).agg(
        F.sum("__n").alias("n"),
        F.first("__budget").alias("budget_per_round"),
        F.first("__delay").alias("min_delay_ms"),
    )
    # per-partition lineage: which executor partition carried which rows
    lineage_delta = grain.groupBy(
        F.lit(round_id).alias("round"), "part", "status"
    ).agg(
        F.sum("__n").alias("rows"),
        F.min("__min_uh").alias("min_url_hash"),
        F.max("__max_uh").alias("max_url_hash"),
    )

    # two pre-commit actions, the checkpoints of the narrow rows and of
    # the decisions; the results write then drives fetch → union
    # (filling the results cache AND the observe() stat counters), and
    # the other four writes overlap in threads over those stored rows —
    # r1 paid a full extra barrier collecting metrics before the fetch
    # could start
    version = catalog.commit(
        round_id,
        {
            "results": (results_delta, APPEND),
            "frontier": (frontier_plan, OVERWRITE),
            "seen": (seen_delta, APPEND),
            "metrics": (metrics_delta, APPEND),
            "lineage": (lineage_delta, APPEND),
        },
        extra={"watermark": watermark},
        partition_by={"frontier": ["host_bucket"]},
        # results first: its write runs the fetch stage and pins the
        # results cache the parallel writes then scan
        serial_first=["results"],
    )
    # the observe() counters filled during the results write ARE the
    # round stats — no metrics re-read, no extra collect job (r2 paid a
    # parquet read job per round here)
    stats: dict[str, int] = {
        s: int(n) for s, n in obs.get.items() if n
    }
    stats.setdefault("deferred", 0)
    catalog.amend(version, {"stats": stats})
    if bloom is not None:
        # incremental filter maintenance folded into the round.  The
        # delta keys are read back from the seen files THIS commit just
        # wrote (manifest paths[-1] — a tiny columnar scan of one
        # round's delta) rather than re-running the distinct over the
        # persisted results_delta: the re-aggregation was a full shuffle
        # of the cached partitions per round, the read-back is one
        # column of one delta directory (r6; the values are identical
        # by construction — it IS the written seen_delta).  Pinned to
        # ``version``, not the head: a commit landing between ours and
        # this read would otherwise hand us ITS delta, and the filter
        # would miss this round's keys (filter ⊇ seen broken)
        delta_path = catalog.manifest(version)["tables"]["seen"]["paths"][-1]
        delta_keys = spark.read.parquet(delta_path)
        # the delta filter takes the live filter's kind and geometry
        # (both sized from bloom_expected); persisting the merged filter
        # against this round's manifest lets a resume load it instead of
        # re-scanning the whole seen table
        bloom.merge(build_filter(
            delta_keys, "url_hash", bloom_expected, type(bloom)(bloom_expected)
        ))
        save_bloom_sidecar(catalog, version, bloom, bloom_expected)
    for cached in (decisions, results_delta, *round_caches):
        _release(cached)
    return stats


def _release(df: DataFrame) -> None:
    """Free what ``persist()`` or ``localCheckpoint()`` stored for ``df``.

    ``unpersist`` drops a cached plan but not a local checkpoint: that
    is a persisted RDD under the frame's ``LogicalRDD`` leaf, which stays
    in executor storage until it is unpersisted itself.
    """
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
