"""Semi-join reduction — Bloom-prefiltered shuffle joins.

The single most expensive thing a 100 TB join can do is shuffle fact
rows that can never match.  When the build side is small Catalyst
broadcasts it and the problem vanishes; when it is *medium* — too big
for `spark.sql.autoBroadcastJoinThreshold` (say 500M distinct keys,
~4 GB of hashed rows) but far smaller than the fact side — Spark falls
back to a sort-merge join that shuffles the FULL fact table, matches
included or not.  Spark's own runtime Bloom pushdown
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) covers part of this
but is bounded by `...bloomFilter.maxNumItems` (default 4M) and only
fires on selective creation-side filters it can see through.

This operator makes the reduction explicit and unbounded: build a
compact Bloom over the build side's join keys with the engine's
existing builder (`operators/seen.py:build_bloom` — driver add for
small filters, per-partition bitmaps OR-reduced on the driver for large
ones; the same filter that backs URL-seen dedup), broadcast the
~n·10-bit bitmap through the seen check's `prefilter`, and drop fact
rows scan-side BEFORE the exchange.  Bloom false positives are harmless:
the exact join that follows removes them, so the composition is
bit-identical to the plain join for `inner` / `left_semi` — the only
modes where dropping non-matching left rows early is sound (`left`
outer must keep them; use the plain join for those).

At 10^10-URL scale this is the shape of every frontier-enrichment
join whose dim side outgrows the broadcast threshold: the bitmap costs
~1.2 GB per 10^9 keys at fpp=0.01 — broadcastable when the hashed
rows themselves (≥30 GB) are not.

The reference engine joins nothing at this scale (its per-exchange
loops hold both sides in Python dicts — /root/reference/exchange/
base_scraper.py); this is the Spark-native form the graft needs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .seen import MAYBE_SEEN, BloomFilter64, build_bloom, prefilter

_JK = "__bloom_join_key"


def _with_join_key(df: DataFrame, on: Sequence[str]) -> DataFrame:
    # xxhash64 over the join columns → one int64 key the Bloom understands.
    # Seed is Spark's default (42) on both sides, so fact and build hashes
    # agree; multi-column keys hash as a tuple (order matters, as in the
    # join condition itself).
    return df.withColumn(_JK, F.xxhash64(*[F.col(c) for c in on]))


def bloom_filtered_join(
    fact: DataFrame,
    build: DataFrame,
    on: Sequence[str] | str,
    how: str = "inner",
    n_expected: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """``fact.join(build, on, how)`` with a scan-side Bloom pre-filter.

    Exactly equal to the plain join (false positives die in the exact
    join), but only fact rows whose key *might* match ever reach the
    exchange.  ``how`` must be ``inner`` or ``left_semi`` — the modes
    where a non-matching fact row contributes nothing.

    ``n_expected`` sizes the filter (distinct build keys).  When omitted
    it is counted with one cheap aggregate on the build side — pass the
    known cardinality in production to skip that job.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_filtered_join only supports inner/left_semi, got {how!r}"
        )
    on = [on] if isinstance(on, str) else list(on)
    build_keys = _with_join_key(build.select(*on).distinct(), on)
    if n_expected is None:
        n_expected = build_keys.count()
    bf: BloomFilter64 = build_bloom(build_keys, _JK, max(n_expected, 1), fpp)
    maybe_match = prefilter(_with_join_key(fact, on), _JK, bf).filter(
        F.col(MAYBE_SEEN)
    )
    return maybe_match.drop(_JK, MAYBE_SEEN).join(build, on, how)
