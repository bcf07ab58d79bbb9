"""Crawl-frontier benchmark: one workload in one fresh process.

    python3 perfbench/run.py --workload drain|recrawl \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The run starts a local Spark session,
sets the workload up (inputs from ``--seed``), repeats the workload's
timed unit for about ``--seconds`` seconds, checks every unit's output
against the replayer oracle, and prints one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; a unit takes longer than
10 s, so ``--seconds 10`` times exactly one, the first crawl of a fresh
JVM.  ``--trace 1`` runs that same cold unit untraced first, then
alternates traced and untraced warm units, and reports the per-layer
metrics instead (see ``tracing.py``).  All scratch state lives under
``.bench_work/`` in the checkout and is removed before the process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# local[k], fixed.  A round here is bound by per-job latency, not by
# cores: local[2] and local[4] ran the drain unit in the same time, and
# two cores leave the rest of a shared host to the JVM's own threads.
CORES = min(2, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
# the keys of workloads.WORKLOADS, here so parsing arguments needs no Spark
WORKLOAD_NAMES = ("drain", "recrawl")


def log(msg: str) -> None:
    print(f"perfbench [{process_age_s():6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf(
        "SC_CLK_TCK"
    )


def configure_env(work: Path) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    returns the Spark settings that do the same on the JVM side."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = str(tmp)
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
            "-XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM's children."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if not any(os.path.exists(f"/proc/{p}") for p in children):
            break
        time.sleep(0.1)


def measure(workload, seconds: float, clock, tracer=None) -> list[dict]:
    """Repeat the workload's unit while the median unit so far still fits
    in ``seconds``; returns one record per unit.  At least one unit runs.
    Tracing runs at least three: the cold first unit untraced, then warm
    units traced and untraced in turn."""
    from workloads import dir_bytes

    units: list[dict] = []
    start = time.perf_counter()
    while True:
        traced = tracer is not None and len(units) % 2 == 1
        clock.rounds.clear()
        if tracer is not None:
            tracer.begin_unit(traced)
        t0 = time.perf_counter()
        u = workload.unit(len(workload.units))
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.end_unit(u, wall, list(clock.rounds))
        workload.units.append(u)
        units.append({
            "wall_s": wall,
            "decided": u.decided,
            "catalog_bytes": dir_bytes(u.catalog.root),
        })
        elapsed = time.perf_counter() - start
        typical = statistics.median(x["wall_s"] for x in units)
        enough = len(units) >= (3 if tracer is not None else 1)
        if enough and elapsed + typical > seconds:
            return units


@dataclass
class Round:
    """One ``run_round`` call: epoch start and end (comparable with
    event-log times) and the jobs Spark ran in its group."""

    start: float
    end: float
    jobs: int

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class RoundClock:
    """Records each ``run_round`` call that ``crawl`` makes."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.rounds: list[Round] = []

    def install(self) -> None:
        from cex_crawler_spark.plans import driver as driver_mod

        real = driver_mod.run_round

        def timed_run_round(*args, **kwargs):
            # run_round tags its jobs with the group round-<round_id>
            round_id = args[4] if len(args) > 4 else kwargs["round_id"]
            group = f"round-{round_id}"
            before = set(self.tracker.getJobIdsForGroup(group))
            t0 = time.time()
            out = real(*args, **kwargs)
            t1 = time.time()
            jobs = set(self.tracker.getJobIdsForGroup(group)) - before
            self.rounds.append(Round(t0, t1, len(jobs)))
            return out

        driver_mod.run_round = timed_run_round


def end_to_end(units: list[dict], setup_s: float) -> dict:
    rates = [u["decided"] / u["wall_s"] for u in units]
    return {
        "urls_per_s": {"value": statistics.median(rates), "unit": "1/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "catalog_mb": {
            "value": statistics.median(u["catalog_bytes"] for u in units) / 1e6,
            "unit": "MB",
        },
        "peak_rss_mb": {
            "value": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            "unit": "MB",
        },
    }


def run(args, work: Path) -> dict:
    conf = configure_env(work)
    sys.path.insert(0, str(ROOT))
    if args.trace:
        from tracing import event_log_conf

        conf.update(event_log_conf(work))
    from cex_crawler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{CORES}]", shuffle_partitions=CORES,
                      extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    try:
        from workloads import WORKLOADS

        workload = WORKLOADS[args.workload](spark, args.seed, work)
        clock = RoundClock(spark)
        clock.install()
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        log(f"session {session_start_s:.1f}s")
        workload.set_up()
        if tracer is not None:
            tracer.end_setup()
        setup_s = process_age_s()
        log(f"set-up done: setup_s {setup_s:.1f}")
        units = measure(workload, args.seconds, clock, tracer)
        log("units: " + ", ".join(
            f"{u['wall_s']:.2f}s/{u['decided']}" for u in units))
        metrics = end_to_end(units, setup_s)
        check = workload.check()
        log("check done")
    finally:
        stop_spark(spark)
    if tracer is not None:
        metrics = tracer.layer_metrics(work / "events", session_start_s)
    for p in check.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    return {
        "correct": check.failed == 0,
        "attempted": check.attempted,
        "failed": check.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    if not (ROOT / "cex_crawler_spark" / "__init__.py").is_file():
        print(f"perfbench: no cex_crawler_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only if no other run is using it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
