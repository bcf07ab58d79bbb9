"""SparkSession factory with engine-standard configuration.

Design notes (scale-first):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  is the backstop for hot-host skew in the frontier (one host can hold
  50%+ of URLs; the reference simply stalls on such hosts —
  /root/reference/exchange/bithumb.py:28-72 retries serially).
- Arrow on: every Python-side stage (fetch simulation, payload
  validation, extraction) moves batches, never rows.
- Session timezone pinned to UTC so results compare bit-for-bit against
  DuckDB oracles (DuckDB timestamps are UTC-naive).  The reference's
  Asia/Hong_Kong rendering (/root/reference/utils.py:13, main.py:54) is
  applied explicitly via from_utc_timestamp where its semantics are
  reproduced, never via session state.
- shuffle.partitions defaults to the local core count; on a real
  cluster this is overridden (or left to AQE's coalescing) — the code
  never assumes a specific partition count.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cex_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    in the sandbox; on a cluster, pass ``None`` after spark-submit has
    set the master, or an explicit URL.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(cpus)
        except ValueError:
            n = 32
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64 MB advisory coalesces mid-size shuffles down to a
        # handful of partitions — downstream Python stages and cache
        # builds then run nearly serial regardless of core count.  16 MB
        # keeps post-shuffle parallelism ≈ cores for the frontier sizes a
        # single node sees; on a real cluster tune upward with executor
        # count.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Binary image payloads ride Arrow batches; cap rows/batch so a
        # batch of wide rows stays well under executor memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    prewarm_python_workers(spark)
    return spark


def make_pyfiles_zip(dest: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``.

    Python workers are separate processes: driver-side ``sys.path`` edits
    don't reach them, so mapInPandas/pandas-UDF closures that import
    ``cex_crawler_spark`` fail unless the package is shipped.  This is
    the same mechanism a real cluster uses (north rule: "ships via
    spark-submit --py-files").
    """
    pkg_dir = Path(__file__).resolve().parent
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(), "cex_crawler_spark_pyfiles.zip")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
    return dest


def ship_package(spark: SparkSession) -> None:
    """Make ``cex_crawler_spark`` importable on executors (idempotent)."""
    sc = spark.sparkContext
    if getattr(sc, "_cex_pkg_shipped", False):
        return
    sc.addPyFile(make_pyfiles_zip())
    sc._cex_pkg_shipped = True


def prewarm_python_workers(spark: SparkSession) -> None:
    """Fork + initialize one reusable Python worker per core (idempotent).

    Python workers are forked lazily at the FIRST Arrow/pandas-UDF stage
    and each pays its interpreter fork + numpy/pandas import (~1.5 s per
    pool measured on 32 cores) — with ``spark.python.worker.reuse`` (the
    default) that cost belongs to session initialization, exactly like
    JVM startup, not to whichever query happens to touch Python first.
    One tiny pandas-UDF job over ``defaultParallelism`` single-row
    partitions forks the full pool up front.
    """
    sc = spark.sparkContext
    if getattr(sc, "_cex_py_prewarmed", False):
        return
    import pandas as pd  # noqa: F401  (driver-side import mirrors worker)
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s):  # type: ignore[no-untyped-def]
        import numpy  # noqa: F401 — pull the heavy imports now

        return s

    p = sc.defaultParallelism
    spark.range(0, p, 1, p).select(F.sum(_warm("id"))).collect()
    sc._cex_py_prewarmed = True
