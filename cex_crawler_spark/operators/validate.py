"""Payload validation threshold and post-round audits.

The per-row payload invariant from BASELINE input_hint — decode the
fetched bytes, compare against the reference decode (recomputed from
the image_id seed — no golden files), and require

- decoded-pixel allclose: exact for png, PSNR ≥ ``PSNR_THRESHOLD_DB``
  for lossy formats;
- caption equality vs the reference caption

— is checked inside the fused fetch stage
(:func:`operators.fetch.fetch_and_validate`), so payload bytes never
cross Arrow.  The reference has no analog — it trusts fetches blindly
(SURVEY §2.11 U5).  This module keeps the threshold plus the audits
run over an executed round: politeness compliance and allocation
fairness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PSNR_THRESHOLD_DB = 40.0


def politeness_audit(
    fetch_log: DataFrame,
    policy: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    ts_col: str = "fetch_ts_ms",
) -> DataFrame:
    """Compliance audit over an EXECUTED round's fetch log — the
    verification side of politeness (the scheduler promises delays and
    robots compliance; this proves the executor kept them, the check a
    crawl operator runs before pointing fingers at a blocked IP).

    Per host: ``n_gap_violations`` counts consecutive-fetch gaps below
    the host's ``min_delay_ms`` (gaps order by timestamp with the URL as
    a deterministic tiebreak), ``n_robots_violations`` counts fetched
    URLs whose path matches a ``robots_disallow`` prefix (the same
    scan-side ``exists`` the scheduler uses — one rule evaluation per
    row), ``min_gap_ms`` is NULL for single-fetch hosts, and
    ``compliant`` requires both counts at zero.

    The lag window partitions by host — an audit log is one ROUND's
    fetches (budget-bounded per host), not the corpus; for auditing a
    whole crawl's history at once, run per round or swap in the chunked
    rank.  All integer arithmetic; policy rides a broadcast join.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(host_col).orderBy(ts_col, url_col)
    d = (
        fetch_log.join(F.broadcast(policy), host_col, "left")
        .withColumn("__gap", F.col(ts_col) - F.lag(ts_col).over(w))
        .withColumn(
            "__path",
            F.regexp_extract(
                F.col(url_col), r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1
            ),
        )
        .withColumn(
            "__robots_bad",
            F.coalesce(
                F.exists(
                    F.col("robots_disallow"),
                    lambda p: F.startswith(F.col("__path"), p),
                ),
                F.lit(False),
            ),
        )
    )
    return (
        d.groupBy(host_col)
        .agg(
            F.count("*").alias("n_fetches"),
            F.sum(
                (
                    F.col("__gap").isNotNull()
                    & (F.col("__gap") < F.col("min_delay_ms"))
                ).cast("long")
            ).alias("n_gap_violations"),
            F.min("__gap").alias("min_gap_ms"),
            F.sum(F.col("__robots_bad").cast("long")).alias(
                "n_robots_violations"
            ),
        )
        .withColumn(
            "compliant",
            (F.col("n_gap_violations") == 0)
            & (F.col("n_robots_violations") == 0),
        )
    )


def fairness_index(
    df: DataFrame, count_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Jain's fairness index over an allocation column, on the permille
    grid: J = (Σx)² / (n·Σx²), 1000 = perfectly even, →1000/n as one
    key hogs everything.  The scheduler-audit scalar for "did this
    round starve anyone": dispatch counts, byte budgets and politeness
    makespans all feed it.  All-integer — (Σx)²·1000 div (n·Σx²) —
    so the metric is bit-identical in any engine (the usual float
    formulation isn't).  One map-combinable aggregate per group.

    Returns (group_cols..., n_keys, total, sum_sq, jain_permille).
    """
    gb = df.groupBy(*(group_cols or []))
    x = F.col(count_col)
    agg = gb.agg(
        F.count("*").alias("n_keys"),
        F.sum(x).alias("total"),
        F.sum(x * x).alias("sum_sq"),
    )
    return agg.withColumn(
        "jain_permille",
        F.when(F.col("sum_sq") == 0, F.lit(None).cast("long")).otherwise(
            F.expr("(total * total * 1000) div (n_keys * sum_sq)")
        ),
    )
