"""Catalog unit tests: atomicity, time travel, vacuum."""

import json

import pytest

from cex_crawler_spark.catalog import (
    APPEND,
    OVERWRITE,
    CommitConflictError,
    SnapshotCatalog,
)


@pytest.fixture()
def cat(spark, tmp_path):
    c = SnapshotCatalog(tmp_path)
    c.commit(0, {"t": (spark.range(5), OVERWRITE),
                 "log": (spark.range(2), APPEND)})
    c.commit(1, {"t": (spark.range(7), OVERWRITE),
                 "log": (spark.range(3), APPEND)})
    return c


def test_overwrite_and_append_semantics(spark, cat):
    assert cat.read(spark, "t").count() == 7
    assert cat.read(spark, "log").count() == 5  # 2 + 3


def test_time_travel(spark, cat):
    assert cat.read(spark, "t", version=1).count() == 5
    assert cat.read(spark, "log", version=1).count() == 2
    assert cat.manifest(1)["round"] == 0


def test_unreferenced_manifest_is_invisible(spark, cat, tmp_path):
    """A half-written commit (data dirs but no manifest) is never seen —
    the atomicity guarantee a kill relies on."""
    # simulate a crash: data written, manifest missing
    spark.range(100).write.parquet(str(tmp_path / "t" / "v000099"))
    assert cat.current_version() == 2
    assert cat.read(spark, "t").count() == 7  # still the committed state


def test_concurrent_commit_loses_cleanly(spark, cat, monkeypatch):
    """Optimistic concurrency: two writers racing to the same manifest
    version → exactly one wins; the loser gets CommitConflictError and
    the winner's state is untouched (its loser's data dirs are orphans)."""
    stale = cat.manifest()  # both writers read version 2

    winner = SnapshotCatalog(cat.root)
    winner.commit(2, {"t": (spark.range(9), OVERWRITE)})  # lands v3 first

    monkeypatch.setattr(cat, "manifest", lambda version=None: stale)
    with pytest.raises(CommitConflictError):
        cat.commit(2, {"t": (spark.range(1), OVERWRITE)})

    assert winner.current_version() == 3
    assert winner.read(spark, "t").count() == 9


def test_manifest_publish_never_crosses_writers(cat):
    """ADVICE r4 (high): with a SHARED tmp path, the link winner could
    durably publish the LOSER's manifest content (B's write_text
    truncated the same inode between A's write and A's link), and the
    loser's cleanup could raise FileNotFoundError instead of
    CommitConflictError.  Hammer the write→link window from two threads:
    the published manifest must always carry the winner's own content,
    the loser must always see a clean CommitConflictError, and no tmp
    files may survive."""
    import threading

    for it in range(30):
        v = cat.current_version() + 1
        results: dict[str, str] = {}
        barrier = threading.Barrier(2)

        def go(tag, v=v, it=it):
            m = {"version": v, "round": 99, "tables": {}, "who": tag}
            barrier.wait()
            try:
                cat._link_manifest(v, m, f"{tag}{it}")
                results[tag] = "won"
            except CommitConflictError:
                results[tag] = "lost"

        ts = [threading.Thread(target=go, args=(t,)) for t in ("a", "b")]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert sorted(results.values()) == ["lost", "won"], results
        winner = next(k for k, r in results.items() if r == "won")
        assert cat.manifest(v)["who"] == winner
    assert not list((cat.root / "_manifests").glob("*.tmp"))


def test_commit_conflict_overwrite_never_retries(spark, cat):
    """A writer that loses the manifest link AFTER writing its data
    files gets CommitConflictError — no retry — and the winner's
    state stays intact."""
    other = SnapshotCatalog(cat.root)
    real = cat._link_manifest

    def racing(version, manifest, attempt):
        if other.current_version() == cat.current_version():
            other.commit(5, {"t": (spark.range(4), OVERWRITE)})
        return real(version, manifest, attempt)

    cat._link_manifest = racing
    with pytest.raises(CommitConflictError):
        cat.commit(6, {"t": (spark.range(10), OVERWRITE)})
    assert other.read(spark, "t").count() == 4  # winner's state intact


def test_commit_mid_write_is_a_conflict(spark, cat):
    """A writer that commits while another commit is writing its data
    files wins the version: the other commit raises CommitConflictError
    instead of publishing a manifest merged over the winner's (an
    OVERWRITE would otherwise replace the winner's version silently)."""
    other = SnapshotCatalog(cat.root)

    def racing_write():
        other.commit(5, {"t": (spark.range(4), OVERWRITE)})
        return spark.range(1)

    with pytest.raises(CommitConflictError):
        cat.commit(6, {"t": (racing_write, OVERWRITE)})
    assert cat.current_version() == 3
    assert cat.current_round() == 5
    assert cat.read(spark, "t").count() == 4  # the winner's rows


def test_parallel_write_failures_all_surface(spark, cat):
    """ADVICE r3: when several parallel table writes fail, every root
    cause must surface (ExceptionGroup), not one arbitrary exception —
    and no manifest may flip."""

    def boom_a():
        raise ValueError("write A failed")

    def boom_b():
        raise KeyError("write B failed")

    before = cat.current_version()
    with pytest.raises(ExceptionGroup) as ei:
        cat.commit(
            2,
            {
                "bad_a": (boom_a, OVERWRITE),
                "bad_b": (boom_b, OVERWRITE),
                "ok": (spark.range(3), OVERWRITE),
            },
        )
    kinds = {type(e) for e in ei.value.exceptions}
    assert kinds == {ValueError, KeyError}
    assert cat.current_version() == before  # atomicity: nothing committed


def test_compact_append_table(spark, cat):
    """Compaction rewrites an append table's per-round directories into
    one, row-identical, atomically, with time travel intact and future
    appends still working (the Iceberg rewrite_data_files analog)."""
    for i in range(3):
        cat.commit(2 + i, {"log": (spark.range(i * 10, i * 10 + 4), APPEND)})
    before = sorted(r["id"] for r in cat.read(spark, "log").collect())
    n_paths_before = len(cat.manifest()["tables"]["log"]["paths"])
    assert n_paths_before == 5  # fixture 2 + 3 appended rounds
    pre_version = cat.current_version()

    v = cat.compact(spark, "log", target_file_mb=128)
    assert v == pre_version + 1
    entry = cat.manifest()["tables"]["log"]
    assert len(entry["paths"]) == 1
    import pathlib
    files = list(pathlib.Path(entry["paths"][0]).rglob("*.parquet"))
    assert len(files) == 1  # tiny table → single target-sized file
    assert sorted(r["id"] for r in cat.read(spark, "log").collect()) == before
    # time travel to the pre-compaction layout still reads
    assert len(cat.read(spark, "log", version=pre_version).collect()) == len(before)
    # appends continue on the compacted list
    cat.commit(9, {"log": (spark.range(100, 103), APPEND)})
    assert cat.read(spark, "log").count() == len(before) + 3
    # vacuum prunes the pre-compaction dirs once out of retention
    deleted = cat.vacuum(keep_versions=1)
    assert any("/log/" in d for d in deleted)
    assert cat.read(spark, "log").count() == len(before) + 3


def test_vacuum_keeps_recent_reachable(spark, cat):
    deleted = cat.vacuum(keep_versions=1)
    # v1's overwritten t-version is deleted; append history of log stays
    # reachable from the latest manifest
    assert any("/t/v000001" in d for d in deleted)
    assert cat.read(spark, "t").count() == 7
    assert cat.read(spark, "log").count() == 5
    with pytest.raises(Exception):
        cat.read(spark, "t", version=1).count()


def test_frontier_partition_pruning(spark, tmp_path):
    """Frontier commits hive-partitioned by host_bucket: a host-targeted
    scan prunes to that bucket's files (SURVEY §4 layout)."""
    from cex_crawler_spark.plans.driver import bootstrap
    from cex_crawler_spark.plans.round import HOST_BUCKETS
    from cex_crawler_spark.synth import gen_frontier
    from pyspark.sql import functions as F

    cat = SnapshotCatalog(tmp_path / "cat")
    bootstrap(cat, gen_frontier(spark, 500, n_payloads=50), "2025-08-29 00:00:00")
    frontier = cat.read(spark, "frontier")
    assert "host_bucket" in frontier.columns
    one = frontier.filter(F.col("host_bucket") == 3)
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the bucket predicate lands in PartitionFilters (directory pruning at
    # the file index), NOT in DataFilters/post-scan
    assert "PartitionFilters: [isnotnull(host_bucket" in plan
    assert "= 3)]" in plan
    # pruning must not lose rows: union of buckets == full read
    n_full = frontier.count()
    n_sum = sum(
        frontier.filter(F.col("host_bucket") == b).count()
        for b in range(HOST_BUCKETS)
    )
    assert n_full == n_sum


def test_read_refuses_entry_with_delete_files(spark, cat):
    """A manifest entry that still lists equality-delete files (the
    merge-on-read deletes of earlier releases) makes read — and so
    compact — raise: reading its data files alone would return the
    deleted rows.  An append keeps the list, so the refusal holds."""
    cat.commit(2, {"seen": (spark.range(4).withColumnRenamed(
        "id", "url_hash"), APPEND)})
    m = cat.manifest()
    delete_file = str(cat.root / "seen" / "delete-v000004-legacy")
    spark.range(2).withColumnRenamed("id", "url_hash").write.parquet(
        delete_file)
    m["tables"]["seen"]["deletes"] = [{"path": delete_file, "seq": 4}]
    m["tables"]["seen"]["delete_keys"] = ["url_hash"]
    m["version"] = 4
    cat._link_manifest(4, m, "legacy")

    with pytest.raises(ValueError, match="equality-delete"):
        cat.read(spark, "seen")
    with pytest.raises(ValueError, match="equality-delete"):
        cat.compact(spark, "seen")
    cat.commit(3, {"seen": (spark.range(9, 10).withColumnRenamed(
        "id", "url_hash"), APPEND)})
    assert cat.manifest()["tables"]["seen"]["deletes"]
    with pytest.raises(ValueError, match="equality-delete"):
        cat.read(spark, "seen")
    # the versions before the delete, and the other tables, still read
    assert cat.read(spark, "seen", version=3).count() == 4
    assert cat.read(spark, "log").count() == 5
