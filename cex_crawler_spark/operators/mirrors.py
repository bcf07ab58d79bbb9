"""Mirror-host detection — collapse sites that serve the same content.

Mirrors are DUST at host granularity: CDNs, www/apex aliases, regional
clones, and scraper proxies serve one site's pages under many
hostnames, and a frontier that treats each hostname as a fresh site
re-crawls the whole corpus once per alias (Bharat & Broder, WWW'99
studied exactly this on the early web; Heritrix ships a hand-curated
equivalent).  The detector learns mirror relations from the crawl's own
(host, content-digest) log: two hosts whose digest sets overlap almost
completely are one site.

Scale shape (the inverted-index discipline every pair operator in this
engine uses):
  1. distinct (host, digest) — one map-combinable shuffle;
  2. digest doc-frequency cap (``max_hosts_per_digest``) — the
     stop-shingle guard's twin: a blank page / error page / cookie
     banner digest shared by a million hosts would otherwise emit a
     million² pair rows.  Dropping ubiquitous digests loses no signal
     (a digest on that many hosts identifies boilerplate, not a site);
  3. digest-keyed self-join with ``host_a < host_b`` — pair fan-out
     bounded by cap² per digest, never hosts²;
  4. per-pair shared counts + per-host set sizes (dim-sized, broadcast
     back), containment = shared / min(|A|, |B|) tested by INTEGER
     cross-multiplication (``shared·100 ≥ pct·min``) so the verdict is
     bit-identical in any engine.

Containment (not Jaccard) is the right test: a small mirror of a big
site (partial clone, archive subset) still burns budget — what matters
is how much of the SMALLER host is redundant.

Clustering reuses the engine's path-halving connected components
(operators/dedup.py) — min-label over host strings gives each mirror
group a deterministic canonical host.  Feeding the clusters back into
the scheduler's priority (a broadcast join like the trap screen's,
operators/traps.py:demote_trapped) is not built.

Reference analog: none — /root/reference crawls 14 hand-picked hosts
and cannot meet a mirror; at 10^10 URLs mirrors are a double-digit
percentage of the frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cex_crawler_spark.operators.dedup import connected_components


def mirror_host_pairs(
    pages: DataFrame,
    host_col: str = "host",
    digest_col: str = "digest",
    min_shared: int = 10,
    min_containment_pct: int = 90,
    max_hosts_per_digest: int = 32,
) -> DataFrame:
    """Candidate host pairs with overlap stats and the mirror verdict.

    Returns (host_a, host_b, shared, n_a, n_b, is_mirror) for every
    host pair sharing ≥1 surviving digest; ``is_mirror`` applies the
    ``min_shared`` and containment thresholds.  ``n_a``/``n_b`` are
    set sizes over the SAME df-capped digest universe as ``shared``
    (consistent numerator/denominator — boilerplate digests count in
    neither).
    """
    hd = pages.select(
        F.col(host_col).alias("host"), F.col(digest_col).alias("digest")
    ).distinct()
    df_ok = (
        hd.groupBy("digest")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= max_hosts_per_digest)
        .select("digest")
    )
    capped = hd.join(df_ok, "digest").persist()
    sizes = capped.groupBy("host").agg(F.count("*").alias("n"))
    a = capped.select(F.col("host").alias("host_a"), "digest")
    b = capped.select(F.col("host").alias("host_b"), "digest")
    pairs = (
        a.join(b, "digest")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("shared"))
    )
    out = (
        pairs.join(
            F.broadcast(sizes.select(F.col("host").alias("host_a"), F.col("n").alias("n_a"))),
            "host_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("host").alias("host_b"), F.col("n").alias("n_b"))),
            "host_b",
        )
        .withColumn(
            "is_mirror",
            (F.col("shared") >= F.lit(min_shared))
            & (
                F.col("shared") * 100
                >= F.lit(min_containment_pct) * F.least("n_a", "n_b")
            ),
        )
        .select("host_a", "host_b", "shared", "n_a", "n_b", "is_mirror")
    )
    return out


def mirror_clusters(pairs: DataFrame) -> DataFrame:
    """(host, canonical_host) for every host in a mirror cluster.

    ``pairs``: output of :func:`mirror_host_pairs` (only ``is_mirror``
    rows form edges).  Canonical = lexicographically smallest member —
    the deterministic label min-label CC produces on strings; swap in a
    quality-ranked choice by renaming hosts to (rank, host) keys."""
    edges = pairs.filter(F.col("is_mirror")).select("host_a", "host_b")
    return connected_components(edges, "host_a", "host_b").select(
        F.col("id").alias("host"), F.col("component").alias("canonical_host")
    )
