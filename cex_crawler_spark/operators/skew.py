"""Skew-safe group aggregation — salted two-phase forms of the
operators Catalyst cannot split on a hot key.

Spark already survives key skew in most places: algebraic aggregates
(`sum`/`count`/`min`…) combine map-side, and AQE splits skewed
sort-merge-join partitions at runtime.  What neither helps with is a
PER-GROUP ORDER-SENSITIVE or COLLECTION aggregate — `row_number() OVER
(PARTITION BY key)` and `collect_list/collect_set` ship EVERY row of a
key to one task, so a 50 %-skew key (one host owning half a 100 TB
crawl, one event type owning half a log) serializes into a single task
regardless of cluster size.  AQE does not split these: a hash aggregate
or window partition is semantically one unit.

The fix is the same decomposition the crawl scheduler uses for its
per-host rank (operators/politeness.py:99-148) and packing uses for its
prefix sum (operators/packing.py), generalized: SALT the group into
``salt_buckets`` deterministic sub-groups, aggregate each sub-group
(parallelism = buckets per hot key, buffer ≤ rows/buckets), then merge
the tiny per-bucket partials in a second aggregate whose input is
#groups × buckets rows — no matter how big the raw group was.  Both
phases are plain Catalyst aggregates (map-side combinable, whole-stage
codegen); salts are ``xxhash64``-derived, never random, so every run and
every retry produces identical results (SURVEY §2.10 determinism).

The reference engine never meets this problem — its per-exchange loops
are single-process (/root/reference/exchange/base_scraper.py) — but any
100 TB deployment of the graft does, the moment one host, language, or
event type dominates the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEFAULT_BUCKETS = 32


def _salt(on: Column, buckets: int) -> Column:
    # deterministic: same row → same bucket on every run and retry
    return F.pmod(F.xxhash64(on), F.lit(buckets))


def salted_topk(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    k: int,
    salt_buckets: int = _DEFAULT_BUCKETS,
) -> DataFrame:
    """Top-``k`` rows per ``keys`` group by ``order_cols`` DESCENDING
    (lexicographic), without a per-group window sort.

    Equivalent to ``row_number() OVER (PARTITION BY keys ORDER BY
    order_cols DESC) <= k`` — but that window sorts each group's entire
    row set in one task.  Here phase 1 keeps only the per-(group, salt)
    top-k (``slice(sort_array(collect_list(...), desc), 1, k)``: buffer
    ≤ group_rows/salt_buckets, parallelism = salt_buckets per hot key)
    and phase 2 merges ``buckets × k`` candidates per group — constant
    work per group however large the raw group was.  Top-k is
    "salt-algebraic": the global top-k is contained in the union of
    per-bucket top-ks, so the result is EXACT, not approximate.

    ``order_cols`` must totally order rows within a group (include a
    unique id as the last column) or the boundary rows at rank k are
    nondeterministic — same contract as the window form.

    Returns the original columns of the top-k rows plus ``rank``
    (1-based within the group).
    """
    ord_struct = F.struct(*[F.col(c).alias(c) for c in order_cols])
    row_struct = F.struct(*[F.col(c).alias(c) for c in df.columns])
    salted = df.withColumn("__salt", _salt(ord_struct, salt_buckets))
    part = salted.groupBy(*keys, "__salt").agg(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct(ord_struct.alias("o"),
                                        row_struct.alias("r"))),
                asc=False,
            ),
            1,
            k,
        ).alias("__cand")
    )
    merged = part.groupBy(*keys).agg(
        F.slice(
            F.sort_array(F.flatten(F.collect_list("__cand")), asc=False),
            1,
            k,
        ).alias("__top")
    )
    exploded = merged.select(
        *keys, F.posexplode("__top").alias("__pos", "__row")
    )
    out_cols = [c for c in df.columns if c not in keys]
    return exploded.select(
        *keys,
        *[F.col(f"__row.r.{c}").alias(c) for c in out_cols],
        (F.col("__pos") + 1).cast("long").alias("rank"),
    )


def salted_distinct_count(
    df: DataFrame,
    keys: list[str],
    col: str,
    salt_buckets: int = _DEFAULT_BUCKETS,
) -> DataFrame:
    """Exact per-group ``COUNT(DISTINCT col)`` with bounded per-task
    state: each (group, value-salt) bucket counts its OWN distinct
    values — salting ON THE VALUE puts each value in exactly one bucket,
    so the per-bucket counts are disjoint — and phase 2 sums ``buckets``
    small counts.  Both phases are algebraic aggregates; nothing is
    materialized.  Output column: ``<col>_distinct``.
    """
    salted = df.withColumn("__salt", _salt(F.col(col), salt_buckets))
    part = salted.groupBy(*keys, "__salt").agg(
        F.count_distinct(F.col(col)).alias("__d")
    )
    return part.groupBy(*keys).agg(
        F.sum("__d").cast("long").alias(f"{col}_distinct")
    )
