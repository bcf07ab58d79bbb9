"""Crawl driver — the multi-round loop with incremental seen-filter upkeep.

The analog of /root/reference/run.sh + main.py's cron-batch re-invocation:
each call to :func:`crawl` resumes from the catalog's last committed
round (nothing to re-do after a kill — the manifest is the checkpoint)
and runs rounds until the frontier drains or ``max_rounds`` is hit.

Seen-filter lifecycle (Bloom, or the delete-capable cuckoo filter —
``filter_kind``): sized once per crawl (``n_expected``), loaded on
resume from the sidecar each round persists with its manifest
(cold-rebuilt from the full seen table only when no valid sidecar
exists), then maintained by merging each round's seen-delta — the
per-round cost is one pass over the delta, never the full history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..catalog import OVERWRITE, SnapshotCatalog
from ..operators.seen import BloomFilter64, CuckooFilter64, build_filter
# not called here: perfbench's tracer wraps driver.build_bloom by name
from ..operators.seen import build_bloom  # noqa: F401
from .round import (
    ingest_seeds,
    load_bloom_sidecar,
    run_round,
    with_host_bucket,
)


def bootstrap(
    catalog: SnapshotCatalog, seeds: DataFrame, watermark: str
) -> None:
    """Round -1: ingest seeds as frontier v1 (idempotent — skips if present)."""
    if catalog.has_table("frontier"):
        return
    catalog.commit(
        -1,
        {"frontier": (with_host_bucket(ingest_seeds(seeds)), OVERWRITE)},
        extra={"watermark": watermark},
        partition_by={"frontier": ["host_bucket"]},
    )


def crawl(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    host_policy: DataFrame,
    watermark: str,
    max_rounds: int = 100,
    bloom_expected: int = 1_000_000,
    filter_kind: str | None = "bloom",
    expand: bool = False,
    compact_every: int | None = None,
) -> list[dict]:
    """Run rounds until the frontier drains.  Resumable: starts after the
    last committed round; a killed run re-invoked with the same arguments
    produces a bit-identical final seen/results state.

    ``compact_every``: every N completed rounds, rewrite the accumulated
    append tables (``seen``/``results``) into few target-sized files
    (:meth:`SnapshotCatalog.compact`).  A long crawl otherwise appends
    one directory per round per table, and every anti-join/resume scan
    pays the per-file open cost — the small-file problem.  Compaction is
    row-identical and commits its own manifest version, so kill/resume
    semantics are unchanged (tested).
    """
    # ``filter_kind``: "bloom" (default — smallest, append-only seen),
    # "cuckoo" (delete-capable: pairs with :func:`requeue` sweeps, whose
    # churn would saturate a Bloom that can never forget a key) or None
    # (no prefilter: a plain anti-join against the seen table)
    if filter_kind not in ("bloom", "cuckoo", None):
        raise ValueError(
            f"filter_kind must be bloom|cuckoo|None: {filter_kind!r}"
        )
    filt = None
    if filter_kind is not None:
        has_seen = catalog.has_table("seen")
        if has_seen:
            # resume: each round persists its merged filter against the
            # manifest it covers, so a resume is a ~1 MB file read
            filt = load_bloom_sidecar(catalog, bloom_expected, filter_kind)
        if filt is None:
            # looked up per call, not at import, so a wrapped
            # BloomFilter64 (perfbench's tracer) is the one called
            classes = {"bloom": BloomFilter64, "cuckoo": CuckooFilter64}
            filt = classes[filter_kind](bloom_expected)
            if has_seen:
                # the cold rebuild from the full seen table (a scan that
                # grows with crawl age) remains only as the fallback for
                # pre-sidecar catalogs, a changed n_expected, or a kill
                # between commit and sidecar amend
                filt = build_filter(
                    catalog.read(spark, "seen"), "url_hash",
                    bloom_expected, filt,
                )

    stats_log: list[dict] = []
    round_id = catalog.current_round() + 1
    # one frontier-emptiness probe on entry; afterwards the per-round
    # deferred count from metrics drives termination (no extra read job)
    if _frontier_empty(spark, catalog):
        return stats_log
    for _ in range(max_rounds):
        # the round itself merges its seen delta into the filter
        # (folded in — r1 paid a parquet re-read + extra job per round)
        stats = run_round(
            spark, catalog, host_policy, watermark, round_id,
            bloom=filt, expand=expand, bloom_expected=bloom_expected,
        )
        stats_log.append({"round": round_id, **stats})
        round_id += 1
        if compact_every and len(stats_log) % compact_every == 0:
            for table in ("seen", "results"):
                if (
                    catalog.has_table(table)
                    and len(catalog.manifest()["tables"][table]["paths"]) > 1
                ):
                    catalog.compact(spark, table)
        if stats.get("deferred", 0) == 0:
            # with link expansion, zero deferrals can still leave newly
            # discovered children in the frontier — probe it
            if not expand or _frontier_empty(spark, catalog):
                break
    return stats_log


def _frontier_empty(spark: SparkSession, catalog: SnapshotCatalog) -> bool:
    """Whether the committed frontier holds no rows: the row count its
    commit recorded, or one probe job for a frontier committed without
    one."""
    rows = catalog.rows("frontier")
    if rows is None:
        return catalog.read(spark, "frontier").isEmpty()
    return rows == 0


def requeue(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    urls_seeds: DataFrame,
    cuckoo: CuckooFilter64 | None = None,
) -> dict:
    """Freshness-invalidation sweep: un-see a URL batch and re-queue it.

    The delete path the north rule's cuckoo fallback exists for — a
    previously fetched URL whose payload may have changed (freshness
    expiry, payload-invalidation audit) must become schedulable again.
    ``urls_seeds`` arrives in SEED shape (same contract as
    :func:`bootstrap` — the URL plus its frontier metadata, since the
    original frontier row was consumed when it was fetched) and goes
    through the same canonicalize+hash ingest, so the un-seen key is
    exactly the key the seen set holds.

    One atomic commit rewrites both sides of the seen invariant:

    - ``seen``    := seen ANTI-JOIN keys   (the exact set)
    - ``frontier``:= frontier ∪ rows not already queued  (idempotent —
      re-running the same sweep is a no-op)

    A live session's Bloom filter keeps the invalidated keys — a
    SUPERSET filter stays correct (the requeued rows just pay the exact
    anti-join probe); passing the session's ``cuckoo`` tightens the
    filter in place, which is what keeps the prefilter effective when
    invalidation churn is continuous (a Bloom can only saturate).  On
    resume the filter is rebuilt/loaded against the NEW manifest, so no
    stale-sidecar hazard: the requeue commit carries no ``bloom`` entry.
    """
    import numpy as np
    from pyspark.sql import Observation

    rows = with_host_bucket(ingest_seeds(urls_seeds))
    keys = rows.select("url_hash").distinct()
    frontier = catalog.read(spark, "frontier")
    if "priority" not in frontier.columns:
        frontier = frontier.withColumn("priority", F.lit(0).cast("long"))
    # the requeued/unseen counters ride the commit's own writes — the
    # frontier's row counts as the commits record them, the unseen keys
    # as an observe() metric — instead of counting actions over the
    # same scans the writes already perform
    add = rows.select(*frontier.columns).join(
        frontier.select("url_hash"), "url_hash", "left_anti"
    )
    writes = {"frontier": (frontier.unionByName(add), OVERWRITE)}
    obs_s = None
    if catalog.has_table("seen"):
        seen = catalog.read(spark, "seen")
        # LEFT join + filter instead of anti-join: row set identical,
        # but the dropped-row count becomes observable in the same pass
        marked = seen.join(
            keys.withColumn("__requeued", F.lit(True)), "url_hash", "left"
        )
        obs_s = Observation()
        new_seen = (
            marked.observe(
                obs_s, F.count_if(F.col("__requeued")).alias("unseen")
            )
            .filter(F.col("__requeued").isNull())
            .drop("__requeued")
        )
        writes["seen"] = (new_seen, OVERWRITE)
    # requeued = union − prior frontier size; only a frontier committed
    # without a row count pays a counting job for the latter
    n_frontier_before = catalog.rows("frontier")
    if n_frontier_before is None:
        n_frontier_before = frontier.count()
    version = catalog.commit(
        catalog.current_round(),
        writes,
        extra={"requeue": True},
        partition_by={"frontier": ["host_bucket"]},
    )
    n_requeued = catalog.rows("frontier", version) - n_frontier_before
    unseen = int(obs_s.get["unseen"]) if obs_s is not None else 0
    if cuckoo is not None:
        cuckoo.delete_many(
            np.array([r["url_hash"] for r in keys.collect()], dtype=np.int64)
        )
    return {"version": version, "unseen": unseen, "requeued": n_requeued}
