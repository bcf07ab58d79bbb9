"""Round-6 optimization harness — measurement only, never the driver's metric.

``bench.py`` is frozen for measurement; everything exploratory lives here:

- ``time-query <name> [reps]``: time a headline query's ``.count()`` the
  way bench.py does, reps times, and dump ``.explain("formatted")`` to
  plans/r06/.
- ``noop-query <name> [reps]``: same but with the noop sink (guide §1.4)
  so the full result (every column) is computed.
- ``drain [n_urls]``: the crawl bench with per-phase wall timers
  (bootstrap / crawl), plus a second drain in the same session with the
  fetch stage stubbed to a constant-verdict mapInPandas — the delta
  isolates Python-side fetch+validate cost from plan/shuffle/commit cost.

Usage: python bench_extra.py time-query dedup_minhash_lsh 3
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLANS_DIR = Path(__file__).resolve().parent / "plans" / "r06"


def _spark():
    from cex_crawler_spark.session import get_spark

    return get_spark(app_name="bench-extra", master=f"local[{CPUS}]",
                     shuffle_partitions=CPUS)


def _warmup(spark):
    from pyspark.sql import functions as F

    spark.range(1_000_000).select(F.sum("id")).collect()


def time_query(name: str, reps: int = 3, noop: bool = False,
               plan_suffix: str | None = None) -> None:
    import __spark_entry__ as entry_mod

    spark = _spark()
    _warmup(spark)
    fn = entry_mod.queries()[name]
    times = []
    for i in range(reps):
        spark.sparkContext.setJobDescription(f"{name} rep{i}")
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        if noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        times.append(round(time.perf_counter() - t0, 3))
    if plan_suffix:
        PLANS_DIR.mkdir(parents=True, exist_ok=True)
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (PLANS_DIR / f"{name}_{plan_suffix}.txt").write_text(plan)
    print(json.dumps({"query": name, "noop": noop, "times": times,
                      "min": min(times)}))


def drain(n_urls: int | None = None) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cex_crawler_spark.catalog import SnapshotCatalog
    from cex_crawler_spark.plans import round as round_mod
    from cex_crawler_spark.plans.driver import bootstrap, crawl
    from cex_crawler_spark.synth import gen_frontier, gen_host_policy

    if n_urls is None:
        n_urls = 200_000
    spark = _spark()
    _warmup(spark)
    watermark = "2025-08-29 00:00:00"
    report = {}

    def one_drain(tag: str, stub_fetch: bool) -> None:
        import cex_crawler_spark.operators.fetch as fetch_mod

        seeds = gen_frontier(spark, n_urls, n_payloads=1000)
        policy = gen_host_policy(spark).withColumn(
            "budget_per_round", F.lit(n_urls)
        )
        orig = fetch_mod.fetch_and_validate
        if stub_fetch:
            from collections.abc import Iterator

            import pandas as pd

            def stub(scheduled, fault_latch=None):
                verdict = {
                    "w": 16, "h": 16, "fmt": "png", "caption": "c",
                    "fetch_ok": True, "pixels_ok": True, "caption_ok": True,
                    "psnr_db": 99.0, "valid": True,
                }
                schema = T.StructType(
                    scheduled.schema.fields
                    + fetch_mod.FETCH_VERDICT_SCHEMA.fields
                )

                def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    for pdf in it:
                        yield pdf.assign(**verdict)

                return scheduled.mapInPandas(run, schema=schema)

            round_mod.fetch_and_validate = stub
        try:
            with tempfile.TemporaryDirectory() as tmp:
                catalog = SnapshotCatalog(tmp)
                t0 = time.perf_counter()
                bootstrap(catalog, seeds, watermark)
                t1 = time.perf_counter()
                crawl(spark, catalog, policy, watermark, max_rounds=20,
                      bloom_expected=max(n_urls * 2, 100_000))
                t2 = time.perf_counter()
                n_results = catalog.read(spark, "results").count()
            report[tag] = {
                "bootstrap_s": round(t1 - t0, 3),
                "crawl_s": round(t2 - t1, 3),
                "results": n_results,
            }
        finally:
            round_mod.fetch_and_validate = orig

    one_drain("full", stub_fetch=False)
    one_drain("full_warm", stub_fetch=False)  # warm second run, real fetch
    one_drain("no_fetch", stub_fetch=True)
    print(json.dumps(report))


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "time-query":
        time_query(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 3,
                   plan_suffix=sys.argv[4] if len(sys.argv) > 4 else None)
    elif cmd == "noop-query":
        time_query(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 3,
                   noop=True,
                   plan_suffix=sys.argv[4] if len(sys.argv) > 4 else None)
    elif cmd == "drain":
        drain(int(sys.argv[2]) if len(sys.argv) > 2 else None)
    else:
        raise SystemExit(f"unknown command {cmd!r}")
