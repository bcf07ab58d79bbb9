"""Snapshot catalog — atomic multi-table commits on parquet + manifest JSON.

Plays the role Iceberg snapshots play in the production design (SURVEY §4):
every crawl round commits frontier', seen-delta, results, metrics and
lineage ATOMICALLY — either the whole round is visible or none of it —
so a killed run resumes bit-identically from the last committed round.
The reference has no such guarantee (a crash can half-write a JSON file,
/root/reference/exchange/base_scraper.py:184-196).

Protocol:
- data files first: each table version writes parquet under
  ``<root>/<table>/v<N>/`` (a new directory per commit — never mutated);
- manifest last: ``<root>/_manifests/v<N>.json`` is written to a temp
  file and ``os.link``ed into place — an atomic create-if-absent, so
  two writers racing to commit the same version see exactly one winner
  (``CommitConflictError`` for the loser — Iceberg-style optimistic
  concurrency).  The current state is the highest-numbered manifest;
  orphan data dirs from a crash or a lost race are unreferenced and
  harmless (vacuumable).
- append tables (``seen``, ``results``, ``lineage``, ``metrics``) list
  ALL their data paths in the manifest; overwrite tables (``frontier``)
  list only the newest.

The API is what the crawl needs and what an Iceberg swap would map
(read with time travel / commit / amend / compact / vacuum / current
round), so moving to real Iceberg is a one-module change.  Writes
append or overwrite whole files; there are no row deletes, incremental
scans or automatic commit retries.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

OVERWRITE = "overwrite"
APPEND = "append"
# manifest keys naming a seen-filter sidecar file under ``_bloom/``: the
# filter kinds (``kind`` of operators/seen.BloomFilter64 / CuckooFilter64),
# written by plans/round.save_bloom_sidecar
SIDECAR_KEYS = ("bloom", "cuckoo")


class CommitConflictError(RuntimeError):
    """Another writer committed the same manifest version first.

    The Iceberg-style optimistic-concurrency failure: data files are
    write-once under version-named dirs, so the loser's files are
    orphans (harmless, vacuumable) and the catalog state is untouched.
    Callers retry by re-reading the current manifest and re-committing
    against it; :meth:`SnapshotCatalog.commit` never retries itself."""


class SnapshotCatalog:
    def __init__(self, root: str | os.PathLike):
        self.root = Path(root)
        (self.root / "_manifests").mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------- manifests

    def _manifest_path(self, version: int) -> Path:
        return self.root / "_manifests" / f"v{version:06d}.json"

    def current_version(self) -> int:
        versions = [
            int(p.stem[1:]) for p in (self.root / "_manifests").glob("v*.json")
        ]
        return max(versions, default=0)

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "round": -1, "tables": {}}
        return json.loads(self._manifest_path(v).read_text())

    def current_round(self) -> int:
        return self.manifest()["round"]

    # ----------------------------------------------------------------- reads

    def has_table(self, table: str) -> bool:
        return table in self.manifest()["tables"]

    def read(
        self, spark: SparkSession, table: str, version: int | None = None
    ) -> DataFrame:
        """Read a table — optionally AS OF an earlier manifest version
        (snapshot time travel, the Iceberg `VERSION AS OF` analog)."""
        entry = self.manifest(version)["tables"].get(table)
        if entry is None or not entry["paths"]:
            raise KeyError(f"table {table!r} not in catalog")
        if entry.get("deletes"):
            # written by an earlier release's merge-on-read deletes
            raise ValueError(
                f"table {table!r} lists equality-delete files, which this "
                "catalog no longer applies: reading its data files alone "
                "would return the deleted rows"
            )
        return spark.read.parquet(*entry["paths"])

    # ---------------------------------------------------------------- commit

    def commit(
        self,
        round_id: int,
        writes: dict[str, tuple[DataFrame | Callable[[], DataFrame], str]],
        extra: dict | None = None,
        partition_by: dict[str, list[str]] | None = None,
        serial_first: list[str] | None = None,
    ) -> int:
        """Atomically commit ``{table: (df, OVERWRITE|APPEND)}`` as one round.

        DataFrames are materialized (parquet write = the action) before
        the manifest flips; returns the new manifest version.
        ``partition_by`` maps table → hive-partition columns (the Iceberg
        partition-spec analog): scans filtered on those columns prune
        whole directories (SURVEY §4 frontier layout).
        ``serial_first`` names tables whose plans materialize shared
        caches (e.g. the fetch stage): they write sequentially FIRST; the
        remaining writes — cheap scans over those caches — run in
        parallel threads, overlapping their per-job fixed cost.  Data
        files are still all-or-nothing: the manifest flips only after
        every write returns.  A writer that loses the manifest race gets
        :class:`CommitConflictError`; its data dirs stay unreferenced.
        The new manifest extends the one read when the commit starts, so
        a writer that commits while this one writes its data files wins
        the version and this commit is the loser.
        """
        m = self.manifest()
        version = m["version"] + 1
        # unique per-ATTEMPT data dirs (the Iceberg file-naming pattern):
        # two writers racing to commit the same version must not share
        # data paths, or the conflict loser clobbers the winner's files
        # before the manifest link detects the race.  The loser's dirs
        # become unreferenced orphans — vacuumable, never visible.
        import uuid

        attempt = uuid.uuid4().hex[:8]

        def _is_local_empty(df: DataFrame) -> bool:
            # a schema-only empty plan (LocalRelation with no rows) —
            # what ``df.limit(0)`` optimizes to, the shape run_round's
            # drained-frontier write produces.  Detected from the
            # optimized plan on the driver, no job.  (An empty
            # ``createDataFrame`` plans as a LogicalRDD, not this.)
            try:
                plan = df._jdf.queryExecution().optimizedPlan()
                return (
                    plan.getClass().getSimpleName() == "LocalRelation"
                    and plan.data().isEmpty()
                )
            except Exception:
                return False

        def write_one(table: str) -> str:
            df, _mode = writes[table]
            if callable(df):
                # lazily-built plan: resolved at write time, AFTER the
                # serial_first writes — lets a caller swap in a cheaper
                # plan based on what those writes observed (e.g. an
                # empty-frontier write when the round deferred nothing)
                df = df()
            path = str(self.root / table / f"v{version:06d}-{attempt}")
            cols = (partition_by or {}).get(table)
            if cols and _is_local_empty(df):
                # skip the dynamic-partition attempt entirely: a
                # zero-row partitioned write produces no data file and
                # the fallback below rewrites flat anyway — paying the
                # ~0.5 s fixed write-path cost twice per drained round
                df.write.mode("overwrite").parquet(path)
                return path
            writer = df.write.mode("overwrite")
            if cols:
                writer = writer.partitionBy(*cols)
            writer.parquet(path)
            if cols and not any(Path(path).rglob("*.parquet")):
                # dynamic-partition write of ZERO rows leaves no data file
                # (so no schema to read back); emit a schema-bearing empty
                # file from limit(0), which optimizes to an empty
                # LocalRelation of the schema — rewriting `df` itself would
                # re-execute its whole plan a second time (measured: the
                # drain's empty-frontier write re-ran a full-frontier
                # anti-join just to write nothing)
                df.limit(0).write.mode("overwrite").parquet(path)
            return path

        serial = [t for t in (serial_first or []) if t in writes]
        rest = [t for t in writes if t not in serial]
        paths = {t: write_one(t) for t in serial}
        if len(rest) > 1:
            # InheritableThread, not ThreadPoolExecutor: Spark local
            # properties (job group/description) are per-thread under
            # pinned-thread mode, so pool threads would launch write jobs
            # OUTSIDE the caller's `round-<id>` job group and escape the
            # per-round job accounting (ADVICE r2).  InheritableThread
            # copies the creating thread's properties at start().
            from pyspark import InheritableThread

            errors: dict[str, BaseException] = {}

            def run(table: str) -> None:
                try:
                    paths[table] = write_one(table)
                except BaseException as e:  # re-raised on the caller
                    errors[table] = e

            threads = [InheritableThread(target=run, args=(t,)) for t in rest]
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            if len(errors) == 1:
                raise next(iter(errors.values()))
            if errors:
                # every failure surfaces — raising one arbitrary
                # exception hid the other threads' root causes (ADVICE r3)
                raise ExceptionGroup(
                    "parallel table writes failed: "
                    + ", ".join(sorted(errors)),
                    list(errors.values()),
                )
        else:
            for t in rest:
                paths[t] = write_one(t)

        # built from the version read BEFORE the writes: a writer that
        # committed meanwhile took this version number, so the link below
        # raises instead of publishing a manifest merged over its commit
        tables = dict(m["tables"])
        for table, (_df, mode) in writes.items():
            if mode == APPEND and table in tables:
                # keep what an older catalog wrote beside the paths: read()
                # refuses an entry that still lists delete files
                e = dict(tables[table])
                e["paths"] = e["paths"] + [paths[table]]
                tables[table] = e
            else:
                tables[table] = {"paths": [paths[table]]}
        new_manifest = {
            "version": version,
            "round": round_id,
            "tables": tables,
            **(extra or {}),
        }
        self._link_manifest(version, new_manifest, attempt)
        return version

    def _link_manifest(
        self, version: int, manifest: dict, attempt: str
    ) -> None:
        """Atomically publish ``manifest`` as version ``version`` or
        raise :class:`CommitConflictError` if another writer got there
        first.  The temp file is per-ATTEMPT (ADVICE r4 high): a shared
        ``v<N>.json.tmp`` let writer B's ``write_text`` truncate the
        same inode between writer A's write and A's ``os.link`` — A
        "won" the link but durably published B's manifest content."""
        tmp = self.root / "_manifests" / f"v{version:06d}.json.{attempt}.tmp"
        tmp.write_text(json.dumps(manifest, indent=1, sort_keys=True))
        try:
            # link(2) fails with EEXIST if the target exists — an ATOMIC
            # create-if-absent, unlike rename(2) which silently clobbers.
            # Two writers racing to commit version N: exactly one link
            # succeeds; the loser's data dirs are unreferenced orphans.
            os.link(tmp, self._manifest_path(version))
        except FileExistsError:
            # missing_ok: with the old SHARED tmp the winner had already
            # unlinked it, so the loser's unlink raised FileNotFoundError
            # and masked the conflict; per-attempt tmps make this a
            # belt-and-braces guard only
            tmp.unlink(missing_ok=True)
            raise CommitConflictError(
                f"manifest v{version} was committed concurrently — "
                "re-read the catalog and retry the commit"
            ) from None
        tmp.unlink(missing_ok=True)

    def amend(self, version: int, extra: dict) -> None:
        """Merge audit-only keys (e.g. round stats) into an existing
        manifest, atomically.  Never used for tables/round — resume
        correctness cannot depend on amended fields."""
        import uuid

        m = self.manifest(version)
        m.update(extra)
        # per-attempt tmp for the same reason as _link_manifest: two
        # amenders sharing one tmp could publish each other's content
        tmp = self.root / "_manifests" / (
            f"v{version:06d}.json.{uuid.uuid4().hex[:8]}.tmp"
        )
        tmp.write_text(json.dumps(m, indent=1, sort_keys=True))
        os.rename(tmp, self._manifest_path(version))

    # ------------------------------------------------------------- compact

    def compact(
        self,
        spark: SparkSession,
        table: str,
        target_file_mb: int = 128,
        sort_by: list[str] | None = None,
    ) -> int:
        """Rewrite an append table's accumulated per-round files into
        few ``target_file_mb``-sized files (the Iceberg
        ``rewrite_data_files`` analog).

        A long crawl appends one parquet directory per round: after 10⁴
        rounds every scan opens 10⁴ directories of round-sized (often
        tiny) files — at 100 TB the file-open/list overhead dominates
        small reads and planning.  Compaction reads the current table,
        ``coalesce``s to ⌈bytes / target⌉ files (no shuffle — merging
        partitions, not redistributing rows), writes ONE new directory
        and commits a manifest version whose path list is just that
        directory.  Properties: atomic (manifest flip), row-identical
        (same data, new layout), time-travel intact (older manifests
        still reference the old dirs until :meth:`vacuum`), and future
        appends keep working (they append to the shortened path list).

        ``sort_by`` opts into a DATA-SKIPPING layout (the Iceberg
        ``rewrite_data_files(strategy => 'sort')`` analog): rows are
        range-partitioned and sorted on the given columns, so each
        output file covers a narrow, disjoint value range and parquet
        footer min/max stats let later filtered scans skip whole files.
        Costs one shuffle (the plain path is shuffle-free ``coalesce``)
        — pay it when the table is read selectively more than once.
        """
        m = self.manifest()
        entry = m["tables"].get(table)
        if entry is None:
            raise KeyError(f"table {table!r} not in catalog")
        n_bytes = 0
        for p in entry["paths"]:
            root = Path(p)
            if root.exists():
                n_bytes += sum(
                    f.stat().st_size for f in root.rglob("*.parquet")
                )
        n_files = max(1, -(-n_bytes // (target_file_mb * 1024 * 1024)))
        df = self.read(spark, table)
        if sort_by:
            df = df.repartitionByRange(
                int(n_files), *sort_by
            ).sortWithinPartitions(*sort_by)
        else:
            df = df.coalesce(int(n_files))
        # carry the filter sidecar references forward: compaction changes
        # layout, not keys, so the filters' superset invariant holds —
        # dropping a reference would silently cost resumes the sidecar
        # (cold rebuild fallback) and let vacuum prune a live filter
        extra = {k: m[k] for k in SIDECAR_KEYS if k in m} or None
        return self.commit(
            m["round"], {table: (df, OVERWRITE)}, extra=extra
        )

    # --------------------------------------------------------------- vacuum

    def vacuum(self, keep_versions: int = 2) -> list[str]:
        """Delete data directories unreachable from the newest
        ``keep_versions`` manifests (snapshot expiry — bounds storage at
        one-overwritten-table-version per round otherwise).  Old manifests
        themselves are kept (tiny) so lineage stays auditable; reading a
        vacuumed version raises on the missing paths.

        Returns the deleted paths.
        """
        import shutil

        current = self.current_version()
        keep = set()
        for v in range(max(1, current - keep_versions + 1), current + 1):
            for entry in self.manifest(v)["tables"].values():
                keep.update(entry["paths"])
        deleted = []
        for table_dir in self.root.iterdir():
            # "_"-prefixed dirs are catalog metadata (manifests, bloom
            # sidecars), not table data — handled separately below
            if table_dir.name.startswith("_") or not table_dir.is_dir():
                continue
            for vdir in table_dir.iterdir():
                if str(vdir) not in keep:
                    shutil.rmtree(vdir)
                    deleted.append(str(vdir))
        bloom_dir = self.root / "_bloom"
        if bloom_dir.is_dir():
            keep_sidecars = set()
            for v in range(max(1, current - keep_versions + 1), current + 1):
                m = self.manifest(v)
                keep_sidecars.update(m[k]["file"] for k in SIDECAR_KEYS
                                     if m.get(k))
            for f in bloom_dir.iterdir():
                if f.name not in keep_sidecars:
                    f.unlink()
                    deleted.append(str(f))
        return deleted
