"""Deduplication operators for training-data pipelines.

Four families, each picked for a different scale/precision trade-off:

- exact: hash-groupBy on a normalized-content key — one shuffle,
  map-side combinable; the 100 TB default.
- n-gram Jaccard (exact near-dup): explode shingles → self-join on
  shingle → per-pair intersection counts → Jaccard threshold.  Exact
  and SQL-expressible (DuckDB-oracle-checkable), but the shingle join
  explodes quadratically on common shingles — cap df per shingle.
- MinHash + LSH (approximate near-dup): per-doc signature via H
  hash-permutations (all Catalyst exprs — array_min over transform),
  banded into b×r, bucket-join on band hash, then EXACT Jaccard verify
  of candidates.  The scale path: shuffle volume is O(docs·bands),
  never O(pairs).
- SimHash: 64-bit sign-aggregated token-hash fingerprint (tokens hashed
  JVM-side via xxhash64, bit-majority in a vectorized pandas UDF),
  Hamming-distance bucketing for near-dup candidates.

The reference has no dedup beyond the URL-seen set (SURVEY §2.6 A5);
these are the corpus-level additions the target workload needs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.text import fingerprint64, normalize_text, word_shingles

# connected_components switches to a driver-side union-find below this
# doubled-edge count (collect of ~16 B/edge); see the function docstring.
_CC_DRIVER_MAX = 200_000

__all__ = [
    "cap_bucket_rows", "exact_dedup", "ngram_jaccard_pairs",
    "minhash_lsh_pairs", "duplicate_span_stats",
    "winnow_fingerprints", "connected_components",
    "dedup_cluster_representatives", "hamming_near_dup_candidates",
    "simhash_dedup_candidates", "simhash64", "py_simhash64",
]


def cap_bucket_rows(
    keyed: DataFrame, part_cols: list[str], order_col: str, cap: int | None
) -> DataFrame:
    """Keep at most ``cap`` rows per candidate bucket (deterministic —
    the ``cap`` lowest ``order_col`` values survive).

    The guard against degenerate keys: a bucket holding B rows emits
    O(B²) candidate pairs from the self-join, and at 100 TB a boilerplate
    page repeated 10⁶ times is ONE such bucket — AQE skew-split softens
    the shuffle but not the quadratic pair output (VERDICT r2).  Dedup
    semantics tolerate the sub-sample: any member of a near-dup cluster
    can represent it, so pairs lost to the cap are pairs WITHIN an
    already-saturated cluster.  The row_number window partitions on the
    same keys the self-join shuffles on, so Catalyst reuses the exchange
    (one extra sort, no extra shuffle).

    ``cap=None`` disables the guard (oracle-exact semantics).
    """
    if cap is None:
        return keyed
    w = Window.partitionBy(*part_cols).orderBy(order_col)
    return (
        keyed.withColumn("__bn", F.row_number().over(w))
        .filter(F.col("__bn") <= cap)
        .drop("__bn")
    )


def _materialize_release(result: DataFrame, cached: DataFrame) -> DataFrame:
    """Pin ``result`` (eager localCheckpoint — the pair sets these
    operators emit are orders of magnitude smaller than their cached
    inputs) and release ``cached`` so repeated calls in a long-lived
    session don't accumulate storage (ADVICE r1).  At cluster scale the
    caller would write ``result`` to a table instead; the lifecycle
    contract — the temp cache dies with the call — is the same."""
    out = result.localCheckpoint(eager=True)
    cached.unpersist()
    return out


# ----------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per normalized-content fingerprint.

    groupBy-min (map-side combinable) + self-join beats a window over
    the full corpus: no single-partition sort, and the join key is the
    8-byte fingerprint.
    """
    with_fp = df.withColumn("fp", fingerprint64(F.col(text_col)))
    keep = with_fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return with_fp.join(keep, ["fp", id_col], "left_semi").drop("fp")


# -------------------------------------------------- n-gram Jaccard (exact)

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 1,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact near-dup pairs: Jaccard(shingle-sets) ≥ threshold, id_a < id_b.

    ``max_df`` drops shingles appearing in more than that many docs
    (stop-shingles) BEFORE the self-join — the standard guard against
    quadratic blowup on common n-grams.  The drop changes Jaccard in
    BOTH directions (asserted contract, test_ngram_max_df_drop_semantics):
    a pair sharing the stop-shingle can fall below the threshold, and a
    pair where only one side has it can rise above — so max_df=None for
    oracle-exact semantics.
    """
    # spread the shingling before it happens: a single-file input scans
    # as one partition and would shingle+explode serially (guide §2.5)
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par, F.col(id_col))
    # join/aggregate on the 8-byte shingle hash, not the string — thinner
    # shuffles; the collision risk at 64 bits is negligible vs corpus sizes
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.array_distinct(word_shingles(F.col(text_col), k)),
                lambda s: F.xxhash64(s),
            )
        ).alias("sh"),
    )
    if max_df is not None:
        rare = sh.groupBy("sh").count().filter(F.col("count") <= max_df).select("sh")
        sh = sh.join(rare, "sh", "left_semi")
    # sh feeds three consumers (sizes + both join sides) — materialize once
    sh = sh.persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    result = (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _materialize_release(result, sh)


# ------------------------------------------------------------ MinHash + LSH

def _perm_consts(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """Multiply-add universal-hash constants (a odd), seeded deterministically."""
    rng = np.random.default_rng(20250912)
    a = rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64) * 2 + 1
    b = rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)
    return a, b


def _signature_udf(num_hashes: int):
    """array<long> shingle-hashes → array<long> MinHash signature.

    Shingles are string-hashed ONCE (JVM xxhash64); the H permutations
    are multiply-adds over those longs, vectorized in numpy (uint64
    wrap-around — the standard universal-hash MinHash family).  Spark's
    interpreted higher-order lambdas cost ~1 µs per element-eval; the
    numpy inner loop does the same work at C speed, ~100× faster at
    64 permutations × 100 shingles per doc.
    """
    a, b = _perm_consts(num_hashes)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(hashes: pd.Series) -> pd.Series:
        out = []
        for hs in hashes:
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            if h.size == 0:
                out.append(None)
                continue
            perms = h[:, None] * a[None, :] + b[None, :]  # wraps mod 2^64
            out.append(perms.min(axis=0).astype(np.int64))
        return pd.Series(out)

    return sig


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    bucket_cap: int | None = 100_000,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH with exact Jaccard verification.

    Candidate generation: docs sharing any of ``bands`` band-hashes
    (band = r = num_hashes/bands consecutive signature slots).  Shuffle
    is O(docs × bands).  Candidates are then verified with the exact
    shingle-set Jaccard, so precision is 1.0; recall follows the LSH
    S-curve 1-(1-t^r)^b.

    ``bucket_cap`` bounds rows per (band, bucket) — see
    :func:`cap_bucket_rows`; the default is far above any oracle corpus
    but keeps a degenerate bucket (10⁶ copies of one boilerplate page)
    from going quadratic.

    Guide §8 shape: every row that shuffles (bucket explode, self-join,
    pair dedup) carries ONLY (id, band, bucket) — 24 B.  The shingle
    sets needed for exact verification stay in a narrow (id, shingles)
    side table joined to the (much smaller) deduped candidate-pair set
    at the end.  r5 instead carried the full shingle array through the
    ×bands explode and BOTH self-join sides: a ~250× wider shuffle, and
    the measured bulk of the query's 9-13 s.  Shingles are verified as
    their 64-bit hashes (collision odds negligible vs corpus sizes —
    the same contract :func:`ngram_jaccard_pairs` documents).
    """
    r = num_hashes // bands
    # single-file inputs scan as ONE partition (maxPartitionBytes ≫ file
    # size) — the shingling + signature UDF would then run serially in
    # one task regardless of cores (guide §2.5 input skew).  Spread the
    # per-doc compute before it happens; the shuffle moves only the raw
    # narrow rows once.
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par, F.col(id_col))
    # hash shingles JVM-side ONCE; distinct-by-hash ≡ distinct-by-string
    # (first-occurrence order preserved), so the signature and the exact
    # Jaccard below are unchanged
    base = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(
                word_shingles(F.col(text_col), shingle_k),
                lambda s: F.xxhash64(s),
            )
        ).alias("sh"),
    ).filter(F.size("sh") > 0).persist()
    sig = base.withColumn("sig", _signature_udf(num_hashes)(F.col("sh")))
    # band hash over the r slot VALUES (variadic xxhash64) — the r5 form
    # hashed `slice(sig).cast("string")`, building 32 strings per row;
    # equal slices hash equal either way, so the candidate equality
    # classes (and the verified result) are unchanged
    band_cols = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.element_at("sig", b * r + i + 1) for i in range(r)],
            )
            for b in range(bands)
        ]
    )
    # buckets feeds both sides of the self-join — materialize the signature
    # computation once; 24 B/row, never the shingle arrays
    buckets = cap_bucket_rows(
        sig.select("id", F.posexplode(band_cols).alias("band", "bucket")),
        ["band", "bucket"], "id", bucket_cap,
    ).persist()
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # attach shingle sets to the deduped pairs only — two joins against
    # the narrow cached base (id, sh)
    verified = (
        cand.join(
            base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    result = (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    out = result.localCheckpoint(eager=True)
    buckets.unpersist()
    base.unpersist()
    return out


# --------------------------------------------- duplicated-span statistics

def duplicate_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Per-document cross-corpus duplicated-span statistics — the
    doc-level signal substring dedup acts on (a k-token span occurring
    in ≥ ``min_df`` documents is boilerplate/copy; cf. Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — public paper).

    Returns ``(id, n_spans, n_dup_spans, dup_ratio)`` per doc with at
    least one k-token span (shorter docs have no spans and drop out,
    matching the SQL oracle).

    This is the LINEAR-cost member of the dedup family: explode distinct
    span hashes → map-side-combinable document-frequency aggregate →
    hash join back → per-doc aggregate.  No pair join at all, so it
    scales past the point where even LSH's O(docs × bands) candidate
    generation is too much output — the 100 TB first-pass screen that
    decides which corpus slices need the pair operators.  Skewed spans
    (one boilerplate line in 10⁶ docs) are a single agg key, not a
    self-join bucket — AQE's skew handling covers the join back.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.array_distinct(word_shingles(F.col(text_col), k)),
                lambda s: F.xxhash64(s),
            )
        ).alias("sh"),
    )
    # (id, sh) pairs are distinct per doc, so count(*) = document freq
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    return (
        sh.join(dfreq, "sh")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count_if(F.col("df") >= min_df).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_ratio", F.round(F.col("n_dup_spans") / F.col("n_spans"), 6)
        )
    )


def scrub_duplicated_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    delim: str = "\n",
    max_df: int = 1,
    keep_first: bool = True,
) -> DataFrame:
    """Rebuild each document with globally-duplicated lines removed — the
    C4/CCNet line-level scrub (Raffel et al. arXiv:1910.10683 §2.2
    discard repeated boilerplate; CCNet drops duplicated paragraphs):
    nav bars, cookie banners and footers repeat across thousands of
    pages and would dominate a training corpus.

    A line is SCRUBBED when its corpus-wide document frequency exceeds
    ``max_df`` — except (``keep_first``) its single canonical first
    occurrence, the ``min(doc_id, pos)`` one, which survives so the
    corpus keeps exactly one copy of each over-represented line (set
    ``keep_first=False`` to drop boilerplate everywhere).  Returns
    ``(id, text, n_lines, n_kept)`` for EVERY input doc — a doc whose
    lines all scrub comes back with empty text, not silently dropped.

    Scale shape — linear, no pair join (same family as
    ``duplicate_span_stats``): posexplode lines → count per 8-byte
    xxhash64 line key (map-side combinable; a million-document footer
    is one agg key, AQE skew handling covers the join back) → hash
    join the verdict back → one doc-keyed aggregate rebuilds the text
    with ``sort_array`` over (pos, line) structs.  Only the rebuild
    shuffles line bytes, and it shuffles each KEPT line exactly once.
    64-bit line-hash collisions mis-merge two distinct lines with
    probability ~n²/2⁶⁵ — at 10¹⁰ lines swap in a 128-bit digest.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), F.lit(delim))).alias(
            "pos", "line"
        ),
    ).withColumn("lh", F.xxhash64("line"))
    stats = lines.groupBy("lh").agg(
        F.count("*").alias("line_df"),
        F.min(F.struct("id", "pos")).alias("first_occ"),
    )
    kept = lines.join(stats, "lh").filter(
        (F.col("line_df") <= max_df)
        | (
            F.lit(keep_first)
            & (F.col("first_occ.id") == F.col("id"))
            & (F.col("first_occ.pos") == F.col("pos"))
        )
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            delim,
        ).alias("text"),
        F.count("*").alias("n_kept"),
    )
    totals = lines.groupBy("id").agg(F.count("*").alias("n_lines"))
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("text", F.lit("")).alias("text"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


# ------------------------------------- host-scoped template detection

def host_template_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    host_col: str,
    delim: str = "\n",
    min_docs: int = 3,
    min_share_permille: int = 500,
) -> DataFrame:
    """(host, lh, line, line_docs, host_docs) — lines that are site
    TEMPLATE chrome: present in ≥ ``min_docs`` documents of one host
    AND in ≥ ``min_share_permille``‰ of that host's documents (Gibson,
    Punera & Tomkins WWW'05: templates are per-SITE structures).

    The host scope is the precision upgrade over the corpus-global C4
    scrub (``scrub_duplicated_lines``): a sentence that happens to
    recur across unrelated sites (a famous quote, a product spec) is
    NOT chrome and the global scrub over-fires on it, while a nav bar
    repeated on every page of one host but nowhere else is exactly
    chrome — the share test can only be asked per host.  Both
    thresholds must hold: ``min_docs`` keeps 2-doc hosts from turning
    any shared line into 'template'; the share test is the integer
    cross-multiply ``line_docs·1000 ≥ share·host_docs`` (no division).

    Scale shape: posexplode → per-(host, doc, line-hash) distinct (one
    shuffle, repeated lines within a doc collapse map-side) → per-
    (host, line-hash) map-combinable count against the broadcast-sized
    per-host doc totals.  A million-page host's footer is ONE agg key.
    """
    lines = df.select(
        F.col(host_col).alias("host"),
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), F.lit(delim))).alias("line"),
    ).withColumn("lh", F.xxhash64("line"))
    per_doc = lines.groupBy("host", "id", "lh").agg(F.min("line").alias("line"))
    stats = per_doc.groupBy("host", "lh").agg(
        F.count("*").alias("line_docs"), F.min("line").alias("line")
    )
    host_docs = df.groupBy(F.col(host_col).alias("host")).agg(
        F.count("*").alias("host_docs")
    )
    return (
        stats.join(host_docs, "host")
        .filter(
            (F.col("line_docs") >= min_docs)
            & (F.col("line_docs") * 1000 >= F.lit(min_share_permille) * F.col("host_docs"))
        )
        .select("host", "lh", "line", "line_docs", "host_docs")
    )


def scrub_host_templates(
    df: DataFrame,
    templates: DataFrame,
    text_col: str,
    id_col: str,
    host_col: str,
    delim: str = "\n",
) -> DataFrame:
    """(id, host, text, n_lines, n_kept, n_template) — rebuild each
    document with its OWN host's template lines removed (every
    occurrence: chrome has no canonical copy worth keeping, unlike the
    C4 scrub's ``keep_first``).  ``templates`` is the output of
    ``host_template_lines`` — learned once, applied to any doc batch
    of the same hosts, so incremental crawl rounds reuse the table.

    Scale shape: one anti-join of exploded lines against the
    dim-sized template table on (host, line-hash) — broadcastable —
    then the same kept-lines-only rebuild aggregate as
    ``scrub_duplicated_lines``.
    """
    lines = df.select(
        F.col(host_col).alias("host"),
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), F.lit(delim))).alias("pos", "line"),
    ).withColumn("lh", F.xxhash64("line"))
    kept = lines.join(
        F.broadcast(templates.select("host", "lh")), ["host", "lh"], "left_anti"
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            delim,
        ).alias("text"),
        F.count("*").alias("n_kept"),
    )
    totals = lines.groupBy("id", "host").agg(F.count("*").alias("n_lines"))
    return totals.join(rebuilt, "id", "left").select(
        "id",
        "host",
        F.coalesce("text", F.lit("")).alias("text"),
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).alias("n_template"),
    )


# -------------------------------------------- winnowing fingerprints

def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the MOSS substring-fingerprint scheme; public paper).

    Hash every character ``k``-gram of the normalized text, slide a
    ``w``-window over the hash sequence, and keep each window's MINIMUM
    hash; the selected set is the document's fingerprint.  Guarantee:
    any substring match of length ≥ ``w + k - 1`` between two documents
    yields at least one SHARED fingerprint (tested); expected density
    is 2/(w+1) of all positions, so the output is a bounded sketch, not
    the full k-gram set.

    Returns distinct ``(id, fp)`` rows (md5-hex fingerprints — chosen
    because Spark and DuckDB md5 agree byte-for-byte, making the
    operator oracle-checkable end to end).  Docs shorter than
    ``k + w − 1`` normalized chars have no complete window and drop out.

    Entirely Catalyst: k-gram transform + posexplode + min-over-window
    + distinct — zero Python in the loop.  The window partitions by
    doc, so the shuffle is one hash-repartition on ``id``; no
    cross-doc operation at all (the cross-doc step — join docs sharing
    a fingerprint — is the same explode-join shape as
    :func:`duplicate_span_stats`).
    """
    # spread the normalize + k-gram md5 explode before it happens: a
    # single-file corpus scans as ONE task and serialized ~9 s of the
    # sf0.1 pair query there (guide §2.5)
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par, F.col(id_col))
    base = df.select(
        F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("__n")
    ).filter(F.length("__n") >= k + w - 1)
    exploded = base.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(__n) - {k - 1}), "
                f"i -> md5(substring(__n, i, {k})))"
            )
        ).alias("pos0", "fp"),
    )
    per_doc = Window.partitionBy("id")
    wspec = Window.partitionBy("id").orderBy("pos0").rowsBetween(0, w - 1)
    return (
        exploded.withColumn("__wmin", F.min("fp").over(wspec))
        .withColumn("__npos", F.max("pos0").over(per_doc))
        .filter(F.col("pos0") <= F.col("__npos") - (w - 1))
        .select("id", F.col("__wmin").alias("fp"))
        .distinct()
    )


def winnow_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    min_containment: float = 0.0,
    bucket_cap: int | None = 100_000,
) -> DataFrame:
    """Cross-document near-dup pairs from winnowing fingerprints
    (VERDICT r4 item 6 — the composition :func:`winnow_fingerprints`
    only described): documents sharing ≥ ``min_shared`` fingerprints,
    with the shared count and a containment score
    ``n_shared / min(|fp_a|, |fp_b|)``.

    Shape is the scale-safe inverted-index join (same as
    :func:`duplicate_span_stats` / the LSH band join): explode per-doc
    fingerprints, equi-join on the fingerprint, aggregate per pair —
    never an all-pairs comparison.  ``bucket_cap`` bounds rows per
    fingerprint against degenerate boilerplate fingerprints shared by
    the whole corpus (:func:`cap_bucket_rows`); the winnowing guarantee
    means any pair sharing a substring of length ≥ w+k−1 chars shares a
    fingerprint, so recall follows the sketch density 2/(w+1).
    """
    # fps feeds three consumers (sizes + both self-join sides) — without
    # the persist the whole scan→normalize→md5-explode→window chain ran
    # once per consumer (r6 profile: two duplicate single-task stages)
    fps = winnow_fingerprints(df, text_col, id_col, k, w).persist()
    sizes = fps.groupBy("id").agg(F.count("*").alias("n_fp"))
    # join on the 8-byte hash of the 32-char md5 fingerprint (the same
    # 64-bit-collision contract as ngram_jaccard_pairs), and pin the
    # exchange to full width: AQE sizes post-shuffle partitions by INPUT
    # bytes, but this join's output is quadratic per bucket — at sf0.1
    # the coalesced 7-partition exchange ran the 87 CPU-s pair expansion
    # nearly serial (18.8 s wall, r6 profile)
    par = df.sparkSession.sparkContext.defaultParallelism
    keyed = cap_bucket_rows(
        fps.withColumn("fph", F.xxhash64("fp")).repartition(par, F.col("fph")),
        ["fph"], "id", bucket_cap,
    )
    # (an 8-way salt of this self-join was tried and REVERTED: the
    # replicated side's 8× shuffle and the lost in-join id_a<id_b
    # pruning cost more than the hot-bucket skew it cured — 15 → 19 s
    # warm at sf0.1.  The 95M-pair expansion from boilerplate
    # fingerprints is the op's intrinsic cost; the containment gate is
    # what keeps it from reaching the output.)
    pairs = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a.fph") == F.col("b.fph"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(
        F.col("id").alias("id_a"), F.col("n_fp").alias("n_fp_a")
    )
    sb = sizes.select(
        F.col("id").alias("id_b"), F.col("n_fp").alias("n_fp_b")
    )
    result = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least("n_fp_a", "n_fp_b"), 6
            ).alias("containment"),
        )
        # containment gate: corpora with shared boilerplate templates
        # make n_shared alone meaningless (measured: 108k pairs over 500
        # synthetic docs at min_shared=2, but only dozens at
        # containment ≥ 0.5)
        .filter(F.col("containment") >= min_containment)
    )
    return _materialize_release(result, fps)


# ------------------------------------------------- cluster assignment

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    driver_max: int | None = None,
) -> DataFrame:
    """(id, component) for every id appearing in ``pairs`` — component =
    the smallest id transitively reachable (deterministic labels).

    Near-dup PAIRS are not CLUSTERS: a training-data dedup keeps one
    representative per connected component of the pair graph (a~b~c must
    collapse to one doc even if (a,c) was never emitted).  This is the
    step between the pair operators above and "drop the duplicates".
    A pair with a NULL on either side names no edge and is dropped
    before anything else, so a NULL never appears as an id or a
    component, and an id seen only beside a NULL is absent from the
    output.

    Algorithm: distributed min-label propagation with PATH HALVING —
    each iteration min-merges two legs, (a) labels pushed one hop along
    edges and (b) each node adopting its label's label (one join of the
    checkpointed label table with itself — pointer jumping over the
    label forest).  Leg (a) alone converges in O(diameter) iterations
    (the r3 shape; VERDICT r3 flagged a 10⁴-node chain paying 10⁴
    sequential driver actions); leg (b) halves the label-pointer depth
    every iteration, so convergence is O(log diameter) — ``max_iters``
    = 25 covers diameters past 2²⁰ (chain-graph tested).  The label
    invariant (label(u) is always a reachable node ≤ u) holds under
    both legs, so labels still converge exactly to the component min.
    Each iteration is 2 joins + one map-side-combinable min-aggregate,
    localCheckpointed (lineage stays O(1)); the loop exits early at
    fixpoint, detected from the SAME aggregate that builds the next
    labels (no extra comparison join).

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iters`` — silently returning split components would hand the
    caller wrong cluster labels (ADVICE r3).
    """
    edges_fwd = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    edges = (
        edges_fwd.unionByName(
            edges_fwd.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .persist()
    )
    # Scale-adaptive small-graph path (same spirit as AQE's runtime
    # broadcast decision): below the threshold the doubled edge list is
    # a few MB, and a driver-side union-find replaces the whole
    # iteration — every distributed round costs a driver-synchronized
    # checkpoint job, so a 3-round convergence on a 10k-edge graph spent
    # seconds of pure job latency.  Labels are identical (component =
    # min reachable id, resolved exactly below).  Above the threshold
    # (``_CC_DRIVER_MAX`` = 200k edges ≈ 3 MB of longs) the O(log d)
    # distributed loop is unchanged.
    if driver_max is None:
        driver_max = _CC_DRIVER_MAX
    n_edges = edges.count()
    if n_edges <= driver_max:
        rows = edges.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for s, d in rows:
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rs] = rd
        comp_min: dict = {}
        for node in parent:
            r = find(node)
            m = comp_min.get(r)
            if m is None or node < m:
                comp_min[r] = node
        id_type = edges.schema["src"].dataType
        out_schema = T.StructType(
            [
                T.StructField("id", id_type),
                T.StructField("component", id_type),
            ]
        )
        out = pairs.sparkSession.createDataFrame(
            [(node, comp_min[find(node)]) for node in parent], out_schema
        )
        edges.unpersist()
        return out
    # init: every node labels itself with min(self, smallest neighbor)
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("nmin")).alias("component"),
        )
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iters):
        pushed = (
            edges.join(labels, edges["src"] == labels["id"])
            .select(F.col("dst").alias("id"), F.col("component"))
        )
        # path halving: label(u) ← label(label(u)).  The parent lookup
        # joins the PREVIOUS (checkpointed) labels with itself, so no
        # recompute; every label is itself a node id, hence present.
        parent = labels.select(
            F.col("id").alias("__pid"), F.col("component").alias("__pcomp")
        )
        hopped = labels.join(
            parent, labels["component"] == parent["__pid"]
        ).select("id", F.col("__pcomp").alias("component"))
        merged = (
            labels.unionByName(pushed)
            .unionByName(hopped)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # fixpoint check folded into the checkpoint itself: the count of
        # ids whose label shrank rides the materialization as an
        # observe() metric — ONE action per iteration (the r5 shape ran
        # a second limit(1).count() job per round)
        from pyspark.sql import Observation

        old = labels.select(
            F.col("id").alias("oid"), F.col("component").alias("old_component")
        )
        obs = Observation()
        merged = (
            merged.join(old, merged["id"] == old["oid"], "left")
            .select("id", "component", "old_component")
            .observe(
                obs,
                F.count_if(
                    F.col("component") < F.col("old_component")
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = int(obs.get["changed"])
        labels = merged.select("id", "component")
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            "iterations — labels would be split; raise max_iters "
            "(O(log diameter) iterations suffice with path halving)"
        )
    return labels


def dedup_cluster_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """``df`` with ``component`` (cluster id; singletons label
    themselves) and ``is_representative`` (True for the smallest id per
    component — the row a dedup pipeline keeps)."""
    comp = connected_components(pairs, id_a, id_b).withColumnRenamed(
        "id", "__cid"
    )
    out = (
        df.join(comp, df[id_col] == comp["__cid"], "left")
        .drop("__cid")
        .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    )
    return out.withColumn(
        "is_representative", F.col(id_col) == F.col("component")
    )


# ----------------------------------------------------------------- SimHash

@F.pandas_udf(T.LongType())
def _simhash_majority64(token_hashes: pd.Series) -> pd.Series:
    """array<long> token hashes → 64-bit SimHash (per-bit sign majority).

    Pure numpy over pre-hashed longs: the tokenize+hash stage runs
    JVM-side (whole-stage codegen xxhash64 — the same split MinHash uses,
    :func:`minhash_lsh_pairs`), so no interpreted-Python per-token work
    remains (VERDICT r3 item 1; the r2 version called the from-spec
    pure-Python XXH64 once per token inside the batch loop).
    """
    shifts = np.arange(64, dtype=np.uint64)
    out = np.empty(len(token_hashes), dtype=np.int64)
    for i, hs in enumerate(token_hashes):
        if hs is None or len(hs) == 0:
            out[i] = 0
            continue
        h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
        ones = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
        maj = (2 * ones) > h.size
        out[i] = (maj.astype(np.uint64) << shifts).sum(dtype=np.uint64).astype(np.int64)
    return pd.Series(out)


def simhash64(text) -> F.Column:
    """64-bit SimHash of a text column over lowercase whitespace tokens.

    Token hashing is Spark's JVM ``xxhash64`` (seed 42) — identical to
    the pure-Python twin ``hashing.xxh64_str``, so the single-node
    replayer can reproduce hashes bit-for-bit (tested).

    The split pattern is ``(?U)\\s+`` (UNICODE_CHARACTER_CLASS): Java's
    bare ``\\s`` is ASCII-only while the Python twin's ``str.split()``
    breaks on Unicode whitespace (NBSP, U+2028, …), so a bare ``\\s``
    silently diverged on non-ASCII whitespace (ADVICE r4).
    """
    toks = F.filter(
        F.split(F.lower(text), r"(?U)\s+"), lambda t: t != F.lit("")
    )
    return _simhash_majority64(F.transform(toks, lambda t: F.xxhash64(t)))


def py_simhash64(text: str) -> int:
    """Single-node twin of :func:`simhash64` (signed int64)."""
    from ..functions.hashing import xxh64_str

    toks = (text or "").lower().split()
    if not toks:
        return 0
    hs = np.array(
        [xxh64_str(t) & 0xFFFFFFFFFFFFFFFF for t in toks], dtype=np.uint64
    )
    shifts = np.arange(64, dtype=np.uint64)
    ones = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
    maj = (2 * ones) > hs.size
    return int(
        (maj.astype(np.uint64) << shifts).sum(dtype=np.uint64).astype(np.int64)
    )


def hamming_near_dup_candidates(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    n_blocks: int = 4,
    bucket_cap: int | None = 100_000,
) -> DataFrame:
    """Near-dup candidate pairs over ANY 64-bit fingerprint column via
    the classic multi-block scheme: split the hash into ``n_blocks``
    equal blocks and emit every pair equal in ANY block (union via
    explode + equi-join on (block_no, block), deduped).

    Works for text SimHash (:func:`simhash_dedup_candidates`), image
    perceptual hashes (the payload table's ``phash``), or any other
    64-bit locality-preserving fingerprint.

    Pigeonhole guarantee: any pair with Hamming distance ≤ n_blocks − 1
    has at least one untouched block → is ALWAYS a candidate (with the
    default 4×16-bit split, all pairs at Hamming ≤ 3).  Emits the full
    64-bit Hamming distance so callers pick their radius.  Shuffle is
    O(rows × n_blocks) on a ≤16-bit key — never all-pairs.

    ``bucket_cap`` bounds rows per (block_no, block) against degenerate
    keys (identical fingerprints share all four blocks) — see
    :func:`cap_bucket_rows`.  Note the cap weakens the pigeonhole
    guarantee only WITHIN capped buckets, i.e. inside clusters that
    already have ``cap`` representatives.
    """
    bw = 64 // n_blocks
    mask = (1 << bw) - 1
    h = df.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("__fp")
    )
    blocks = F.array(
        *[
            F.shiftrightunsigned("__fp", b * bw).bitwiseAND(F.lit(mask))
            for b in range(n_blocks)
        ]
    )
    keyed = cap_bucket_rows(
        h.select(
            "id", "__fp", F.posexplode(blocks).alias("block_no", "block")
        ),
        ["block_no", "block"], "id", bucket_cap,
    )
    return (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a.block_no") == F.col("b.block_no"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def hamming_decontamination_matches(
    corpus: DataFrame,
    eval_set: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    eval_id_col: str | None = None,
) -> DataFrame:
    """Fingerprint decontamination — the IMAGE twin of the k-gram text
    screen: corpus rows whose 64-bit perceptual hash is within
    ``max_hamming`` of ANY eval-set fingerprint (an eval image leaking
    into training data — possibly re-encoded/resized, which phash
    survives — inflates benchmark scores).

    Returns (id, n_eval_matches, best_hamming) for CONTAMINATED corpus
    rows only; callers anti-join the corpus against it.

    Scale shape — DIRECTED, never corpus²: the eval side is small by
    definition, so its (block_no, block) keys BROADCAST; the corpus is
    touched by one scan-side explode (``max_hamming + 1`` blocks per
    row — pigeonhole: a pair within radius has ≥ 1 equal block) + a
    map-side join, then the exact ``bit_count(xor)`` filter; only the
    matching rows — rare by assumption — reach the per-id aggregate.
    """
    n_blocks = max_hamming + 1
    bw = 64 // n_blocks
    mask = (1 << bw) - 1

    def blocked(d: DataFrame, src_id: str, out_id: str) -> DataFrame:
        blocks = F.array(
            *[
                F.shiftrightunsigned("__fp", b * bw).bitwiseAND(F.lit(mask))
                for b in range(n_blocks)
            ]
        )
        return d.select(
            F.col(src_id).alias(out_id), F.col(hash_col).alias("__fp")
        ).select(
            out_id,
            F.col("__fp").alias(f"__fp_{out_id}"),
            F.posexplode(blocks).alias("block_no", "block"),
        )

    c = blocked(corpus, id_col, "id")
    ev = blocked(eval_set, eval_id_col or id_col, "eval_id")
    return (
        c.join(F.broadcast(ev), ["block_no", "block"])
        .withColumn(
            "__ham",
            F.bit_count(F.col("__fp_id").bitwiseXOR(F.col("__fp_eval_id"))),
        )
        .filter(F.col("__ham") <= max_hamming)
        .groupBy("id")
        .agg(
            F.countDistinct("eval_id").alias("n_eval_matches"),
            F.min("__ham").alias("best_hamming"),
        )
    )


def simhash_dedup_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_blocks: int = 4,
    bucket_cap: int | None = 100_000,
) -> DataFrame:
    """Text near-dup candidates: 64-bit SimHash fingerprint →
    :func:`hamming_near_dup_candidates` multi-block bucketing."""
    h = df.select(
        F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("simhash")
    )
    return hamming_near_dup_candidates(h, "simhash", "id", n_blocks, bucket_cap)


# ------------------------------------------------- decontamination

def decontamination_matches(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Benchmark decontamination: training docs sharing ≥ 1 verbatim
    k-gram with an eval/benchmark set — the standard pretraining hygiene
    screen (eval answers leaking into training data inflate scores).

    Returns (doc_id, n_shared_grams, n_eval_docs) for CONTAMINATED
    training docs only; callers anti-join the full corpus against it.

    Scale shape: the eval side is small by definition (benchmarks), so
    its distinct k-gram hashes BROADCAST — the training corpus is
    touched by exactly one scan-side explode + map-side hash join, no
    shuffle of the corpus itself; the per-doc aggregation shuffles only
    the matching (doc, gram) rows, which decontamination assumes are
    rare.  Grams join on their xxhash64 (8 B vs ~50 B strings); a
    collision could at worst over-count one shared gram — the flag
    itself (≥ 1 match) is unaffected unless the colliding gram is the
    only match (~2⁻⁶⁴ per pair).
    """
    from ..functions.text import word_shingles

    def grams(d: DataFrame, out_id: str) -> DataFrame:
        return d.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array_distinct(word_shingles(F.col(text_col), k))
            ).alias("__g"),
        ).withColumn("__gh", F.xxhash64("__g")).drop("__g")

    tr = grams(docs, "doc_id")
    ev = grams(eval_docs, "eval_id")
    return (
        tr.join(F.broadcast(ev), "__gh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("__gh").alias("n_shared_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


def incremental_jaccard_matches(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 1,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Incremental dedup: which NEW docs near-duplicate the EXISTING
    corpus?  (batch_id, corpus_id, jaccard) for every batch doc whose
    shingle-set Jaccard vs some corpus doc ≥ ``threshold``.

    A continuously-fed training pipeline never re-deduplicates the
    whole corpus per ingest — it screens the day's batch against what
    it already holds (the crawl twin: a recrawled page vs the stored
    copy).  Same exact inverted-index shape as ``ngram_jaccard_pairs``
    but DIRECTED: the join is batch-shingles × corpus-shingles, so cost
    is O(batch × matching-corpus-postings), never corpus².  ``max_df``
    prunes stop-shingle postings on the CORPUS side (the side that has
    meaningful document frequency); exact semantics need max_df=None.

    Scale shape: one scan of each side, join + aggregate on the 8-byte
    shingle hash; the batch side is small by definition and its shingle
    set broadcast-eligible — AQE picks that up from size stats, no hint
    needed here.
    """
    from ..functions.text import word_shingles

    def shingled(d: DataFrame, out_id: str) -> DataFrame:
        return d.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.transform(
                    F.array_distinct(word_shingles(F.col(text_col), k)),
                    lambda s: F.xxhash64(s),
                )
            ).alias("sh"),
        )

    cs = shingled(corpus, "corpus_id")
    if max_df is not None:
        rare = cs.groupBy("sh").count().filter(F.col("count") <= max_df).select("sh")
        cs = cs.join(rare, "sh", "left_semi")
    cs = cs.persist()
    bs = shingled(batch, "batch_id").persist()
    c_sizes = cs.groupBy("corpus_id").agg(F.count("*").alias("nc"))
    b_sizes = bs.groupBy("batch_id").agg(F.count("*").alias("nb"))
    inter = (
        bs.join(cs, "sh")
        .groupBy("batch_id", "corpus_id")
        .agg(F.count("*").alias("inter"))
    )
    result = (
        inter.join(b_sizes, "batch_id")
        .join(c_sizes, "corpus_id")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("nb") + F.col("nc") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )
    result = _materialize_release(result, cs)
    bs.unpersist()
    return result


def incremental_components(
    old_labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Fold a NEW batch of near-dup pairs into standing cluster labels
    without re-walking the pair history — the daily-ingest form of
    :func:`connected_components`: at 100 TB the accumulated pair log
    dwarfs the label table, and recomputing closure over all pairs every
    ingest is the cost this avoids.

    Correctness: a label table is itself a spanning star of each
    component (every non-root member has the edge ``id — component``,
    and the component id IS a member), so CC over ``label-edges ∪
    new_pairs`` reaches exactly the closure of ``old-pairs ∪ new_pairs``
    — work is O(labeled nodes + new pairs), independent of how many
    historical pairs produced the labels.  New pairs may merge standing
    clusters (the smaller min wins, labels stay the component min) or
    introduce brand-new nodes; untouched singletons keep their labels
    via one anti-join.

    Same audited machinery underneath (path halving, localCheckpointed
    lineage, loud non-convergence).
    """
    label_edges = old_labels.filter(
        F.col("id") != F.col("component")
    ).select(F.col("id").alias(id_a), F.col("component").alias(id_b))
    edges = label_edges.unionByName(
        new_pairs.select(F.col(id_a), F.col(id_b))
    )
    fresh = connected_components(edges, id_a, id_b, max_iters=max_iters)
    untouched = old_labels.join(
        fresh.select(F.col("id").alias("__fid")),
        old_labels["id"] == F.col("__fid"),
        "left_anti",
    )
    return fresh.unionByName(untouched.select("id", "component"))
