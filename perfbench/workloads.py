"""The benchmark workloads and their oracle checks.

Each workload has a set-up step, a timed unit that the runner repeats
until the measuring time is used up, and a check that compares every
unit's output with the single-node replayer oracle
(``cex_crawler_spark.replayer``) after timing ends.

- ``drain``: one full-budget round over fresh announcements, each with
  its own payload, so the fetch memo never hits and fetch+validate is
  the largest layer.  There is no seen table yet.
- ``recrawl``: the reference's cron shape.  An aged catalog holds a seen
  table ten times larger than one listing; each tick re-lists a window
  of announcements that is mostly already seen plus a few new ones,
  commits it as the frontier and crawls it to empty.  The seen check
  filters most of each listing; fetch sees only the new URLs.

Units of ``drain`` start from a copy of a catalog bootstrapped in
set-up, so every unit of one run does the same work.
"""

from __future__ import annotations

import shutil
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cex_crawler_spark import replayer
from cex_crawler_spark.catalog import APPEND, OVERWRITE, SnapshotCatalog
from cex_crawler_spark.functions.urlnorm import with_canonical_url
from cex_crawler_spark.plans import driver as driver_mod
from cex_crawler_spark.plans import round as round_mod
from cex_crawler_spark.synth import gen_host_policy

from inputs import WATERMARK, full_budget, seeded_frontier

# older than every synthetic release time (BASE_TIME - 30 days), so no
# announcement is stale and every allowed, non-duplicate URL is fetched
FRESH_WATERMARK = "2025-08-12 00:00:00"

# one Bloom geometry for every workload: the crawl default
BLOOM_EXPECTED = 1_000_000
FETCHED_OR_STALE = ("fetched", "stale_placeholder")


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


@dataclass
class UnitResult:
    """What one unit did: URLs decided, and the catalog it left."""

    decided: int
    catalog: SnapshotCatalog


@dataclass
class CheckResult:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.problems.append(f"{what}: {n}")


def _row_key(r: dict) -> tuple:
    return (r["round"], r["host"], r["host_seq"] or -1, r["url"],
            r["url_hash"], r["status"], r["caption"] or "")


def _check_rows(res: CheckResult, rows: list[dict], oracle: list[dict]) -> None:
    """Engine result rows against the replayer's, row for row, and every
    fetched payload valid."""
    e, o = Counter(map(_row_key, rows)), Counter(map(_row_key, oracle))
    res.fail(sum(((e - o) + (o - e)).values()),
             "result rows differing from the replayer")
    res.fail(sum(1 for r in rows if r["status"] == "fetched" and not r["valid"]),
             "fetched rows that failed validation")


def _collect_dicts(df: DataFrame) -> list[dict]:
    return [r.asDict() for r in df.collect()]


class Workload:
    """Set-up, timed unit and check; subclasses fill in the shape."""

    name = ""

    def __init__(self, spark: SparkSession, seed: int, work: Path):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.units: list[UnitResult] = []

    def set_up(self) -> None:
        raise NotImplementedError

    def unit(self, i: int) -> UnitResult:
        raise NotImplementedError

    def check(self) -> CheckResult:
        raise NotImplementedError


class Drain(Workload):
    """A full-budget crawl of ``n`` fresh seeds, drained in one round."""

    name = "drain"
    n = 20_000

    def set_up(self) -> None:
        seeds = seeded_frontier(self.spark, self.n, self.seed)
        self.template = SnapshotCatalog(self.work / "template")
        driver_mod.bootstrap(self.template, seeds, FRESH_WATERMARK)
        self.policy = full_budget(gen_host_policy(self.spark), self.n)

    def unit(self, i: int) -> UnitResult:
        root = self.work / f"unit{i:03d}"
        shutil.copytree(self.template.root, root)
        cat = SnapshotCatalog(root)
        stats = driver_mod.crawl(self.spark, cat, self.policy, FRESH_WATERMARK,
                                 bloom_expected=BLOOM_EXPECTED)
        return UnitResult(self.n - stats[-1]["deferred"], cat)

    def check(self) -> CheckResult:
        res = CheckResult()
        oracle = replayer.replay_crawl(
            _collect_dicts(self.template.read(self.spark, "frontier")),
            _collect_dicts(self.policy),
            FRESH_WATERMARK,
        )
        oracle_seen = replayer.final_seen_set(oracle)
        for u in self.units:
            res.attempted += u.decided
            _check_rows(res, _collect_dicts(u.catalog.read(self.spark, "results")),
                        oracle)
            seen = {r["url_hash"] for r in
                    u.catalog.read(self.spark, "seen").select("url_hash").collect()}
            res.fail(len(seen ^ oracle_seen), "seen keys differing from the replayer")
        return res


class Recrawl(Workload):
    """Cron ticks over an aged catalog.

    Announcement ids form one sequence.  Ids below ``aged`` were crawled
    before the benchmark started: their canonical URLs (all but the
    robots-blocked ones, which never enter seen) form the aged seen
    table.  Tick ``t`` lists the ``listing`` most recent announcements,
    of which the newest ``new`` were never listed before.
    """

    name = "recrawl"
    aged = 300_000
    listing = 30_000
    new = 600
    max_ticks = 40

    def _window(self, t: int) -> tuple[int, int]:
        lo = self.aged - self.listing + self.new + t * self.new
        return lo, lo + self.listing

    def set_up(self) -> None:
        spark = self.spark
        total = self.aged + self.new * self.max_ticks
        # generated once: every tick's listing is a slice of it
        self.universe = seeded_frontier(spark, total, self.seed).persist()
        self.universe.count()
        self.policy = full_budget(gen_host_policy(spark), self.listing)
        self.catalog = SnapshotCatalog(self.work / "catalog")
        # only the URL column: the generator's ``seq`` window is pruned
        aged_seen = (
            with_canonical_url(
                seeded_frontier(spark, self.aged, self.seed).select("url")
            )
            .filter(~F.col("url").contains("/private/"))
            .select("url_hash", F.col("canonical_url").alias("url"))
            .distinct()
        )
        self.aged_version = self.catalog.commit(
            -1, {"seen": (aged_seen, APPEND)}, extra={"watermark": WATERMARK}
        )
        bloom = round_mod.build_bloom(
            self.catalog.read(spark, "seen"), "url_hash", BLOOM_EXPECTED
        )
        round_mod.save_bloom_sidecar(
            self.catalog, self.aged_version, bloom, BLOOM_EXPECTED
        )
        # per tick: (frontier version, first round, rounds, rows left)
        self.ticks: list[tuple[int, int, int, int]] = []

    def unit(self, i: int) -> UnitResult:
        if i >= self.max_ticks:
            raise RuntimeError(f"recrawl: more than {self.max_ticks} ticks")
        lo, hi = self._window(i)
        listing = self.universe.filter(
            (F.col("seed_id") >= lo) & (F.col("seed_id") < hi)
        )
        cat = self.catalog
        frontier = round_mod.with_host_bucket(round_mod.ingest_seeds(listing))
        # the listing does not change the seen table, so the manifest's
        # Bloom sidecar still covers it and is carried forward
        version = cat.commit(
            cat.current_round(),
            {"frontier": (frontier, OVERWRITE)},
            extra={"watermark": WATERMARK, "bloom": cat.manifest()["bloom"]},
            partition_by={"frontier": ["host_bucket"]},
        )
        first = cat.current_round() + 1
        stats = driver_mod.crawl(self.spark, cat, self.policy, WATERMARK,
                                 bloom_expected=BLOOM_EXPECTED)
        self.ticks.append((version, first, len(stats), stats[-1]["deferred"]))
        return UnitResult(hi - lo, cat)

    def check(self) -> CheckResult:
        spark, cat = self.spark, self.catalog
        res = CheckResult()
        policy_rows = _collect_dicts(self.policy)
        seen = set(
            cat.read(spark, "seen", version=self.aged_version).select("url_hash")
            .toPandas()["url_hash"].tolist()
        )
        results = _collect_dicts(cat.read(spark, "results"))
        for version, first, rounds, left in self.ticks:
            listed = _collect_dicts(cat.read(spark, "frontier", version=version))
            res.attempted += len(listed)
            fresh = [r for r in listed if r["url_hash"] not in seen]
            oracle = replayer.replay_crawl(fresh, policy_rows, WATERMARK)
            tick_rows = [
                {**r, "round": r["round"] - first}
                for r in results if first <= r["round"] < first + rounds
            ]
            _check_rows(res, tick_rows, oracle)
            res.fail(sum(1 for r in tick_rows
                         if r["status"] in FETCHED_OR_STALE
                         and r["url_hash"] in seen),
                     "already-seen URLs fetched again")
            res.fail(abs(len(tick_rows) - len(fresh)) + left,
                     "listed URLs not decided exactly once")
            seen |= {r["url_hash"] for r in tick_rows
                     if r["status"] in FETCHED_OR_STALE}
        final = set(cat.read(spark, "seen").select("url_hash")
                    .toPandas()["url_hash"].tolist())
        res.fail(len(final ^ seen), "seen keys differing from prior + new")
        return res


WORKLOADS = {w.name: w for w in (Drain, Recrawl)}
