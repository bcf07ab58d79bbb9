"""Per-layer tracing for ``run.py --trace 1``.

The tracer replaces the module attributes that ``crawl`` and
``run_round`` look up with wrappers that call the real function inside
a span.  Where the real function returns a lazy DataFrame, the wrapper
persists it and runs one action on it inside the span, so the span
covers that layer's execution instead of leaving it to whichever later
write happens to run it.  Each span tags its jobs with a job description
(never a job group: ``run_round`` owns ``round-<id>``).

Per span the tracer records wall time and the CPU time of the Python
workers (from ``/proc``).  Executor CPU, shuffle bytes, task counts and
GC time come from the Spark event log: a task belongs to the spans its
launch time falls in (spans run one after another on the driver thread,
so only nested spans share tasks).  Rounds and their job counts come
from ``run.RoundClock``, which reads the status tracker.

The first unit runs untraced on a cold JVM, as a timed run's only unit
does; its round is ``round.cold_s``.  Later units alternate traced and
untraced.  Layer numbers come from traced units; ``round.warm_s``,
``round.jobs`` and the tracing overhead come from the warm untraced
ones.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from workloads import dir_bytes

CLK_TCK = os.sysconf("SC_CLK_TCK")

# metric name -> unit, in the order BENCHMARK.json lists them
LAYER_METRICS = {
    "fetch.wall_s": "s", "fetch.cpu_s": "s", "fetch.urls": "count",
    "fetch.distinct_payloads": "count", "fetch.valid_frac": "frac",
    "seen.wall_s": "s", "seen.cpu_s": "s", "seen.shuffle_mb": "MB",
    "seen.probed": "count", "seen.maybe_frac": "frac", "seen.hit_frac": "frac",
    "seen.filter_update_s": "s", "seen.filter_load_s": "s",
    "seen.filter_fill": "frac",
    "politeness.wall_s": "s", "politeness.cpu_s": "s",
    "politeness.shuffle_mb": "MB", "politeness.scheduled_frac": "frac",
    "catalog.commit_s": "s", "catalog.amend_s": "s", "catalog.written_mb": "MB",
    "catalog.write_amp": "frac", "catalog.files": "count",
    "round.wall_s": "s", "round.cold_s": "s", "round.warm_s": "s",
    "round.jobs": "count", "round.tasks": "count", "round.gc_s": "s",
    "urlnorm.wall_s": "s", "urlnorm.rows": "count",
    "driver.overhead_s": "s", "session.start_s": "s",
    "trace.overhead_frac": "frac",
}


def descendants(pid: int) -> list[int]:
    """Pids of every live process below ``pid``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _cpu_s(pids: list[int]) -> float:
    """User+system CPU of ``pids`` and their reaped children."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def event_log_conf(work: Path) -> dict[str, str]:
    d = work / "events"
    d.mkdir(parents=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(d),
        # one plain JSON-lines file, readable without Spark's codecs
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(events_dir: Path) -> list[tuple[float, float, float, int]]:
    """One (launch epoch s, executor CPU s, GC s, shuffle bytes written)
    per finished task."""
    tasks = []
    for path in sorted(p for p in events_dir.rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                if ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                m = ev.get("Task Metrics") or {}
                tasks.append((
                    ev["Task Info"]["Launch Time"] / 1e3,
                    m.get("Executor CPU Time", 0) / 1e9,
                    m.get("JVM GC Time", 0) / 1e3,
                    (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                ))
    return tasks


@dataclass
class Span:
    layer: str
    tag: str
    start: float = 0.0  # epoch seconds, comparable with event-log times
    end: float = 0.0
    py_cpu_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class UnitTrace:
    traced: bool
    wall_s: float = 0.0
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    rounds: list = field(default_factory=list)  # run.Round, one per round

    def add(self, key: str, n: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    def wall(self, layer: str) -> float:
        return sum(s.wall_s for s in self.spans if s.layer == layer)

    def round_wall(self) -> float:
        return sum(r.wall_s for r in self.rounds)


class Tracer:
    def __init__(self, spark):
        from pyspark import SparkContext

        self.sc = spark.sparkContext
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.units: list[UnitTrace] = []
        # set-up work (the seed bootstrap) is traced as its own unit
        self.unit = UnitTrace(traced=True)
        self.setup = self.unit
        self.forced: list = []  # persisted layer outputs of this unit
        self.bloom = None
        self._next = 0

    # ------------------------------------------------------------ spans

    def _span(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span; returns (result, span)."""
        self._next += 1
        span = Span(layer, f"perfbench {layer} #{self._next}")
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(span.tag)
        workers = descendants(self.jvm_pid)
        cpu0 = _cpu_s(workers)
        span.start = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            span.end = time.time()
            span.py_cpu_s = _cpu_s(workers) - cpu0
            self.sc.setLocalProperty("spark.job.description", prev)
        self.unit.spans.append(span)
        return out, span

    def _side_jobs(self, fn):
        """Counting work outside every layer span (tracing overhead)."""
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription("perfbench trace-counts")
        try:
            return fn()
        finally:
            self.sc.setLocalProperty("spark.job.description", prev)

    def begin_unit(self, traced: bool) -> None:
        self.unit = UnitTrace(traced)

    def end_unit(self, unit_result, wall_s: float, rounds: list) -> None:
        u = self.unit
        u.wall_s = wall_s
        u.rounds = rounds
        self._unpersist()
        if u.traced:
            cat = unit_result.catalog
            live = 0
            for entry in cat.manifest()["tables"].values():
                live += sum(dir_bytes(Path(p)) for p in entry["paths"])
            u.counts["live_bytes"] = live
            u.counts["files"] = sum(1 for _ in cat.root.rglob("*.parquet"))
            if self.bloom is not None:
                u.counts["filter_fill"] = float(
                    np.unpackbits(self.bloom.bits).mean()
                )
        self.units.append(u)

    # ----------------------------------------------------------- install

    def install(self) -> None:
        from cex_crawler_spark import catalog as catalog_mod
        from cex_crawler_spark.operators import seen as seen_mod
        from cex_crawler_spark.plans import driver as driver_mod
        from cex_crawler_spark.plans import round as round_mod

        tr = self

        def wrap(module, name, body):
            real = getattr(module, name)

            def wrapper(*args, **kwargs):
                if not tr.unit.traced:
                    return real(*args, **kwargs)
                return body(real, *args, **kwargs)

            setattr(module, name, wrapper)

        def timed(layer):
            def body(real, *args, **kwargs):
                return tr._span(layer, real, *args, **kwargs)[0]
            return body

        def forced(layer, action):
            """Persist the lazy result and run ``action`` on it in the span."""
            def body(real, *args, **kwargs):
                def run():
                    df = real(*args, **kwargs).persist()
                    tr.forced.append(df)
                    return df, action(df)
                (df, counts), _ = tr._span(layer, run)
                for k, v in counts.items():
                    tr.unit.add(f"{layer}.{k}", v)
                return df
            return body

        def fetch_counts(df):
            r = df.agg(
                F.count(F.lit(1)).alias("urls"),
                F.countDistinct("image_id").alias("distinct_payloads"),
                F.sum(F.col("valid").cast("long")).alias("valid"),
            ).first()
            return {k: r[k] or 0 for k in ("urls", "distinct_payloads", "valid")}

        def status_counts(df):
            rows = df.groupBy("status").count().collect()
            by = {r["status"]: r["count"] for r in rows}
            return {"decided": sum(by.values()),
                    "scheduled": by.get("scheduled", 0)}

        def seen_body(real, frontier, seen, key_col="url_hash", bloom=None):
            def run():
                df = real(frontier, seen, key_col, bloom).persist()
                tr.forced.append(df)
                return df, df.count()
            (df, survivors), _ = tr._span("seen", run)

            def probe():
                keys = frontier.select(key_col).toPandas()[key_col]
                maybe = 0
                if seen is not None and bloom is not None:
                    maybe = int(bloom.might_contain(
                        keys.to_numpy(dtype=np.int64)).sum())
                return len(keys), maybe

            probed, maybe = tr._side_jobs(probe)
            tr.unit.add("seen.probed", probed)
            tr.unit.add("seen.maybe", maybe)
            tr.unit.add("seen.hit", probed - survivors)
            return df

        def filter_load(real, *args, **kwargs):
            out, _ = tr._span("seen.filter_load", real, *args, **kwargs)
            if out is not None:
                tr.bloom = out
            return out

        def filter_save(real, catalog, version, bloom, n_expected):
            tr.bloom = bloom
            return tr._span("seen.filter_update", real, catalog, version,
                            bloom, n_expected)[0]

        def commit_body(real, cat, *args, **kwargs):
            before = dir_bytes(cat.root)
            out = tr._span("catalog.commit", real, cat, *args, **kwargs)[0]
            tr.unit.add("catalog.written", dir_bytes(cat.root) - before)
            return out

        wrap(driver_mod, "crawl", timed("driver"))
        for name in ("load_bloom_sidecar", "build_bloom", "BloomFilter64"):
            wrap(driver_mod, name, filter_load)
        wrap(round_mod, "anti_join_seen", seen_body)
        wrap(round_mod, "schedule_round", forced("politeness", status_counts))
        wrap(round_mod, "fetch_and_validate", forced("fetch", fetch_counts))
        wrap(round_mod, "build_bloom", timed("seen.filter_update"))
        wrap(round_mod, "save_bloom_sidecar", filter_save)
        wrap(seen_mod.BloomFilter64, "merge", timed("seen.filter_update"))
        for mod in (round_mod, driver_mod):
            wrap(mod, "ingest_seeds",
                 forced("urlnorm", lambda df: {"rows": df.count()}))
        wrap(catalog_mod.SnapshotCatalog, "commit", commit_body)
        wrap(catalog_mod.SnapshotCatalog, "amend", timed("catalog.amend"))

    def end_setup(self) -> None:
        self._unpersist()

    def _unpersist(self) -> None:
        for df in self.forced:
            df.unpersist()
        self.forced.clear()

    # ----------------------------------------------------------- report

    def layer_metrics(self, events_dir: Path, session_start_s: float) -> dict:
        """The per-layer metrics: medians over traced units."""
        tasks = read_event_log(events_dir)
        cold, warm = self.units[0], self.units[1:]
        traced = [u for u in warm if u.traced]
        plain = [u for u in warm if not u.traced]

        def task_totals(spans: list) -> dict:
            """Tasks launched inside the spans or rounds (which never
            overlap: layers run one after another on the driver
            thread)."""
            out = {"tasks": 0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0}
            for s in spans:
                for launch, cpu_s, gc_s, shuffle in tasks:
                    if s.start <= launch <= s.end:
                        out["tasks"] += 1
                        out["cpu_s"] += cpu_s
                        out["gc_s"] += gc_s
                        out["shuffle_bytes"] += shuffle
            return out

        def layer(u: UnitTrace, name: str) -> list[Span]:
            return [s for s in u.spans if s.layer == name]

        def cpu(u: UnitTrace, name: str) -> float:
            spans = layer(u, name)
            return task_totals(spans)["cpu_s"] + sum(s.py_cpu_s for s in spans)

        def shuffle_mb(u: UnitTrace, name: str) -> float:
            return task_totals(layer(u, name))["shuffle_bytes"] / 1e6

        def ratio(a: float, b: float) -> float:
            return a / b if b else 0.0

        def per_unit(u: UnitTrace) -> dict:
            c = u.counts
            return {
                "fetch.wall_s": u.wall("fetch"),
                "fetch.cpu_s": cpu(u, "fetch"),
                "fetch.urls": c.get("fetch.urls", 0),
                "fetch.distinct_payloads": c.get("fetch.distinct_payloads", 0),
                "fetch.valid_frac": ratio(c.get("fetch.valid", 0),
                                          c.get("fetch.urls", 0)),
                "seen.wall_s": u.wall("seen"),
                "seen.cpu_s": cpu(u, "seen"),
                "seen.shuffle_mb": shuffle_mb(u, "seen"),
                "seen.probed": c.get("seen.probed", 0),
                "seen.maybe_frac": ratio(c.get("seen.maybe", 0),
                                         c.get("seen.probed", 0)),
                "seen.hit_frac": ratio(c.get("seen.hit", 0),
                                       c.get("seen.maybe", 0)),
                "seen.filter_update_s": u.wall("seen.filter_update"),
                "seen.filter_load_s": u.wall("seen.filter_load"),
                "seen.filter_fill": c.get("filter_fill", 0.0),
                "politeness.wall_s": u.wall("politeness"),
                "politeness.cpu_s": cpu(u, "politeness"),
                "politeness.shuffle_mb": shuffle_mb(u, "politeness"),
                "politeness.scheduled_frac": ratio(
                    c.get("politeness.scheduled", 0),
                    c.get("politeness.decided", 0)),
                "catalog.commit_s": u.wall("catalog.commit"),
                "catalog.amend_s": u.wall("catalog.amend"),
                "catalog.written_mb": c.get("catalog.written", 0) / 1e6,
                "catalog.write_amp": ratio(c.get("catalog.written", 0),
                                           c.get("live_bytes", 0)),
                "catalog.files": c.get("files", 0),
                "round.wall_s": u.round_wall() / max(len(u.rounds), 1),
                "driver.overhead_s": u.wall("driver") - u.round_wall(),
                "urlnorm.wall_s": u.wall("urlnorm"),
                "urlnorm.rows": c.get("urlnorm.rows", 0),
            }

        rows = [per_unit(u) for u in traced]
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        if not any(r["urlnorm.rows"] for r in rows):
            # no seed ingest in the timed units: report the set-up's
            out["urlnorm.wall_s"] = self.setup.wall("urlnorm")
            out["urlnorm.rows"] = self.setup.counts.get("urlnorm.rows", 0)
        # whole-round numbers from untraced rounds, where no forcing
        # action adds jobs
        plain_rounds = [r for u in plain for r in u.rounds]
        totals = [task_totals([r]) for r in plain_rounds]
        out["round.cold_s"] = statistics.median(r.wall_s for r in cold.rounds)
        out["round.warm_s"] = statistics.median(r.wall_s for r in plain_rounds)
        out["round.jobs"] = statistics.median(r.jobs for r in plain_rounds)
        out["round.tasks"] = statistics.median(t["tasks"] for t in totals)
        out["round.gc_s"] = statistics.median(t["gc_s"] for t in totals)
        out["session.start_s"] = session_start_s
        out["trace.overhead_frac"] = (
            statistics.median(u.wall_s for u in traced)
            / statistics.median(u.wall_s for u in plain) - 1
        )
        return {k: {"value": out[k], "unit": unit}
                for k, unit in LAYER_METRICS.items()}

