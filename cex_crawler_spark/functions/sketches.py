"""Mergeable cardinality sketches (Apache DataSketches HLL via Spark's
built-in ``hll_sketch_agg`` / ``hll_union_agg`` — JVM-side, map-side
combinable).

Why sketches and not ``COUNT(DISTINCT)``: exact distinct counting
shuffles every distinct value.  At 100 TB "distinct URLs per host over
the whole crawl" re-shuffles the full URL corpus every time someone asks.
An HLL sketch is a fixed ≤ 2^lg_k-byte summary that (a) builds in one
map-side-combinable aggregate, (b) MERGES by union — so per-round /
per-partition sketches committed to the catalog roll up later without
rescanning the data (append one sketch row per round to a catalog
table, union the rows read back over any rounds), and (c) answers
within ~1.6 % at lg_k = 12 (relative standard error ≈ 1.04 / √2^lg_k —
Heule et al., HLL++ EDBT'13).  Below a few thousand distinct values the
DataSketches implementation is still in coupon-list mode and the
estimate is EXACT — which is what makes the oracle query checkable
against ``COUNT(DISTINCT)``.

The reference never counts distinct anything at scale (its seen-set is
an in-memory Python set, /root/reference/exchange/base_scraper.py); this
is the graft's 100 TB replacement for every "how many unique X" question.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_LG_K = 14


def hll_partial_sketches(
    df: DataFrame,
    keys: list[str],
    col: str,
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """One binary HLL sketch per ``keys`` group (column ``<col>_hll``).

    The persistable partial: commit these rows per round / per shard,
    then roll ANY subset up with :func:`hll_merge_estimate` — cost of a
    later cardinality question = #sketch-rows, not #data-rows.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias(f"{col}_hll")
    )


def hll_merge_estimate(
    sketches: DataFrame,
    keys: list[str],
    sketch_col: str,
    out_col: str = "distinct_est",
) -> DataFrame:
    """Union per-group partial sketches and estimate the cardinality.

    Set-union semantics: re-merging overlapping windows never
    double-counts (the idempotence exact counting lacks — summing
    per-round exact counts over-counts URLs seen in many rounds)."""
    return sketches.groupBy(*keys).agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col(sketch_col), F.lit(True))
        ).cast("long").alias(out_col)
    )


def hll_distinct(
    df: DataFrame,
    keys: list[str],
    col: str,
    lg_k: int = DEFAULT_LG_K,
    out_col: str | None = None,
) -> DataFrame:
    """Single-shot approximate distinct per group — build + estimate in
    one aggregate (no shuffle of distinct values, unlike
    ``count_distinct``'s expand plan)."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(F.col(col), F.lit(lg_k)))
        .cast("long")
        .alias(out_col or f"{col}_distinct")
    )
