"""Multimodal column operators — binary payloads with typed metadata.

Images ride through the engine as opaque ``binary`` columns plus typed
metadata (w, h, fmt), exactly like the crawl payload table (BASELINE
input_hint).  The Spark-side plumbing here is real and tested — schemas,
Arrow batching, mapInPandas signatures, partition behavior; the codecs
are the engine's own PNG / fake-lossy pair (functions/imaging.py).

Production swap: replace the codec calls with Pillow / libjpeg inside
the same batch functions — no plan changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("brightness", T.DoubleType()),
        T.StructField("phash", T.LongType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def extract_image_features(payloads: DataFrame) -> DataFrame:
    """Decode + per-channel stats + phash over Arrow batches.

    Expects (image_id, bytes, fmt) columns; one mapInPandas stage, batch
    size bounded by spark.sql.execution.arrow.maxRecordsPerBatch.
    """
    src = payloads.select("image_id", "bytes", "fmt")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.imaging import decode_image, phash64

        for pdf in it:
            rows = []
            for iid, b, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                try:
                    arr = decode_image(bytes(b), fmt)
                    m = arr.reshape(-1, 3).mean(axis=0)
                    rows.append(
                        (iid, arr.shape[1], arr.shape[0], fmt,
                         float(m[0]), float(m[1]), float(m[2]),
                         float(m.mean()), phash64(arr), True)
                    )
                except Exception:
                    rows.append((iid, None, None, fmt, None, None, None,
                                 None, None, False))
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA]
            )

    return src.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


def jitter_images(payloads: DataFrame, amplitude: int = 8) -> DataFrame:
    """Deterministic ±``amplitude`` checkerboard pixel jitter, re-encoded
    as PNG — emulates lossy re-encode noise (the small pixel-level edits
    perceptual-hash dedup exists to see through; the checkerboard is
    zero-mean per phash cell, so the 8×8 average-hash moves ≤ a few
    bits — measured 0-3 over the synthetic corpus).

    Returns (image_id, bytes, fmt).
    """
    src = payloads.select("image_id", "bytes", "fmt")
    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("fmt", T.StringType()),
        ]
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.imaging import decode_image, png_encode

        for pdf in it:
            rows = []
            for iid, b, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                arr = decode_image(bytes(b), fmt).astype(np.int16)
                h, w, _ = arr.shape
                cb = ((np.add.outer(np.arange(h), np.arange(w)) % 2) * 2 - 1)[
                    ..., None
                ]
                jit = np.clip(arr + amplitude * cb, 0, 255).astype(np.uint8)
                rows.append((iid, png_encode(jit), "png"))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "fmt"])

    return src.mapInPandas(run, schema=schema)


# ----------------------------------------- aspect-ratio batch shaping

# width:height (w_num, h_den) candidates, ascending by ratio — the
# bucket grid vision trainers batch by (portrait … square … landscape).
DEFAULT_ASPECT_RATIOS: tuple[tuple[int, int], ...] = (
    (1, 2), (3, 4), (1, 1), (4, 3), (2, 1),
)


def aspect_bucket(
    width, height, ratios: tuple[tuple[int, int], ...] = DEFAULT_ASPECT_RATIOS
):
    """Column: index into ``ratios`` of the bucket nearest to w/h.

    Nearest in LOG space — |ln(w/h) − ln(p/q)| — which is symmetric
    for portrait/landscape (2:1 and 1:2 are equally far from square).
    Computed WITHOUT ln: minimizing |ln x| over candidates x = (w·q)/(h·p)
    is minimizing max(x, 1/x), and each candidate distance is one IEEE
    division of two exact integers — bit-identical across engines,
    unlike transcendental ln whose last-ulp differences could flip a
    near-tie bucket.  Ties break to the lowest index (array_min over
    (d, idx) structs — lexicographic struct order).  Pure scan-side
    codegen: no shuffle, no UDF.
    """
    w = F.col(width) if isinstance(width, str) else width
    h = F.col(height) if isinstance(height, str) else height
    cands = F.array(
        *[
            F.struct(
                (
                    F.greatest(w * F.lit(q), h * F.lit(p))
                    / F.least(w * F.lit(q), h * F.lit(p))
                ).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, (p, q) in enumerate(ratios)
        ]
    )
    return F.array_min(cands)["i"]


def pack_images(
    images: DataFrame,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
    budget_px: int = 2_000_000,
    ratios: tuple[tuple[int, int], ...] = DEFAULT_ASPECT_RATIOS,
) -> DataFrame:
    """Aspect-bucketed pixel-budget batch packing — the image twin of
    sequence packing: trainers batch images of LIKE aspect ratio
    (resize within a bucket distorts least) under a per-batch pixel
    budget.  Adds (ar_bucket, n_px, pack_id); the batch key is
    (ar_bucket, pack_id) since packing restarts per bucket.

    Same contiguous-packing scale shape as ``pack_documents`` (chunked
    prefix sums, no global window); bucket assignment is scan-side.
    """
    from .packing import pack_documents

    bucketed = images.withColumn(
        "ar_bucket", aspect_bucket(w_col, h_col, ratios).cast("long")
    )
    out = pack_documents(
        bucketed,
        order_col=id_col,
        length_col=(F.col(w_col) * F.col(h_col)).cast("long"),
        budget=budget_px,
        partition_by=["ar_bucket"],
    )
    return out.withColumnRenamed("n_tokens", "n_px")


def image_quality_gates(
    images: DataFrame,
    min_side: int = 64,
    max_aspect: float = 3.0,
    allowed_fmts: tuple[str, ...] = ("jpeg", "png", "webp"),
    min_caption_tokens: int = 2,
    max_caption_tokens: int = 77,
    id_col: str = "image_id",
) -> DataFrame:
    """LAION-style metadata gates for an image+caption corpus: minimum
    short side, aspect-ratio ceiling, format allowlist, and a caption
    token-count window (the CLIP text-encoder budget is 77 tokens —
    captions past it silently truncate, captions of one token carry no
    supervision).  Returns ``(id, w, h, fmt, n_caption_tokens, keep,
    reasons)`` with ``reasons`` the sorted list of failed gates, so the
    drop LOG is as queryable as the survivors (what a curation run must
    report at 100 TB).

    Pure scan-side Catalyst — zero shuffles, composes under any
    downstream groupBy; the aspect test is an integer-cross-product
    comparison (``max(w,h) > max_aspect·min(w,h)`` — one IEEE multiply,
    bit-identical across engines, no division).  Token counting splits
    on an EXPLICIT whitespace class (Java's ``\\s`` is ASCII-only while
    Python/DuckDB split Unicode — the SimHash parity lesson).
    """
    w, h = F.col("w"), F.col("h")
    n_tok = F.when(F.trim(F.col("caption")) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("caption")), "[ \\t\\n\\r]+"))
    )
    fails = [
        ("too_small", F.least(w, h) < min_side),
        ("extreme_aspect", F.greatest(w, h) > F.lit(max_aspect) * F.least(w, h)),
        ("bad_format", ~F.col("fmt").isin(*allowed_fmts)),
        ("caption_short", F.col("n_caption_tokens") < min_caption_tokens),
        ("caption_long", F.col("n_caption_tokens") > max_caption_tokens),
    ]
    out = images.withColumn("n_caption_tokens", n_tok).withColumn(
        "reasons",
        F.array_sort(
            F.flatten(
                F.array(
                    *[
                        F.when(cond, F.array(F.lit(name))).otherwise(
                            F.array().cast("array<string>")
                        )
                        for name, cond in fails
                    ]
                )
            )
        ),
    )
    return out.select(
        id_col,
        "w",
        "h",
        "fmt",
        "n_caption_tokens",
        (F.size("reasons") == 0).alias("keep"),
        "reasons",
    )


def caption_screen(
    images: DataFrame,
    spam_min_images: int = 8,
    id_col: str = "image_id",
    caption_col: str = "caption",
) -> DataFrame:
    """Caption-keyed dedup + alt-text-spam screen (the text half of
    LAION curation): captions are normalized (lower, whitespace
    collapse), then each distinct caption keeps ONE canonical image
    (min id — a scraped page re-hosting the same captioned image under
    N URLs is one training pair), and captions shared by ≥
    ``spam_min_images`` DISTINCT images are dropped entirely — boiler
    alt-text ("stock photo") attached to unrelated images teaches the
    model nothing and poisons contrastive batches.

    Returns the survivor rows of ``images`` plus ``(n_caption_images,
    caption_deduped)``.  Scale shape = ``dedup_exact``: the group key
    is the 8-byte ``xxhash64`` of the normalized caption (never the
    string itself — a million-image spam caption is ONE agg key), the
    canonical pick is a map-combinable ``min(struct(id))``, survivors
    come back via one hash semi-join on id.  One narrow shuffle total.
    """
    norm = F.lower(
        F.trim(F.regexp_replace(F.col(caption_col), "[ \\t\\n\\r]+", " "))
    )
    keyed = images.withColumn("_ckey", F.xxhash64(norm))
    per_caption = keyed.groupBy("_ckey").agg(
        F.count("*").alias("n_caption_images"),
        F.min(F.struct(F.col(id_col))).alias("_canon"),
    )
    winners = per_caption.filter(
        F.col("n_caption_images") < spam_min_images
    ).select(
        F.col("_canon")[id_col].alias(id_col),
        "n_caption_images",
    )
    return (
        keyed.join(winners, id_col, "inner")
        .withColumn("caption_deduped", F.col("n_caption_images") > 1)
        .drop("_ckey")
    )


def augmentation_manifest(
    images: DataFrame,
    id_col: str = "image_id",
    n_epochs: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-(image, epoch) augmentation parameters — the
    reproducibility contract for a vision-training export: every
    augmentation decision derives from ``md5(seed:epoch:id)``, so a
    re-derived manifest is bit-identical (resume mid-epoch, audit a
    training run, or A/B a data change with augmentations held fixed)
    and NO RNG state ever ships with the data (SURVEY §2.10
    determinism — the same reason crawl delays became budgets).

    Emitted grid (integers only): ``flip`` (horizontal, 1-in-2),
    ``rot90`` (0-3 quarter turns), ``crop_permille`` (800-999 of the
    short side), ``brightness_permille`` (900-1099).  Byte k of the hex
    digest feeds parameter k, so parameters are independent across both
    epochs and images.  Scan-side expression over an epoch explode —
    fan-out = n_epochs, no shuffle, no UDF; the actual pixel work stays
    in the decode stage (functions/imaging.py), this is the PLAN.
    """
    if n_epochs < 1:
        raise ValueError(f"n_epochs must be ≥ 1, got {n_epochs}")
    d = images.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(0), F.lit(int(n_epochs) - 1))
        ).alias("epoch"),
    )
    h = F.md5(
        F.concat(
            F.lit(f"{seed}:"),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col(id_col).cast("string"),
        )
    )
    def _byte(k: int) -> Column:
        return F.conv(F.substring(h, 1 + 2 * k, 2), 16, 10).cast("long")

    return d.select(
        id_col,
        F.col("epoch").cast("long").alias("epoch"),
        (_byte(0) % 2).alias("flip"),
        (_byte(1) % 4).alias("rot90"),
        (800 + (_byte(2) * 256 + _byte(3)) % 200).alias("crop_permille"),
        (900 + (_byte(4) * 256 + _byte(5)) % 200).alias(
            "brightness_permille"
        ),
    )


def image_distribution_drift(
    reference: DataFrame,
    current: DataFrame,
    fmt_col: str = "fmt",
    w_col: str = "w",
    h_col: str = "h",
    tier_pixels: int = 65536,
) -> DataFrame:
    """Dataset-shift screen for a continuous image-ingest pipeline:
    compare the CURRENT round's (format × resolution-tier) histogram
    against the standing corpus — a crawl that drifts toward thumbnails,
    a single format, or one mega-host's shape silently changes what a
    model trains on, and the time to notice is at ingest, not after a
    training run.

    Buckets: (fmt, pixel-count div ``tier_pixels``).  Shares are integer
    permille per side (``1000·n div total``), the per-bucket drift is
    ``|cur − ref|`` permille, and Σdelta over buckets is (twice) the L1
    distance — all integer, engine-exact; the caller thresholds the sum
    (a drift TEST on raw counts would be a chi-square — this is the
    monitoring screen, deliberately distribution-free).  Buckets missing
    on one side count the other side's full share.  Two map-combinable
    histograms + one-row broadcast totals + a full-outer bucket join
    (bucket table is tiny by construction).
    """

    def _hist(df: DataFrame, side: str) -> DataFrame:
        b = df.select(
            F.col(fmt_col).alias("fmt"),
            F.expr(f"({w_col} * {h_col}) div {int(tier_pixels)}").alias(
                "res_tier"
            ),
        )
        h = b.groupBy("fmt", "res_tier").agg(F.count("*").alias("__n"))
        total = h.agg(F.sum("__n").alias("__total"))
        return h.crossJoin(F.broadcast(total)).select(
            "fmt",
            "res_tier",
            F.expr("(1000 * __n) div __total").alias(f"{side}_permille"),
        )
    ref = _hist(reference, "ref")
    cur = _hist(current, "cur")
    j = ref.join(cur, ["fmt", "res_tier"], "full_outer").select(
        "fmt",
        "res_tier",
        F.coalesce("ref_permille", F.lit(0)).alias("ref_permille"),
        F.coalesce("cur_permille", F.lit(0)).alias("cur_permille"),
    )
    return j.withColumn(
        "delta_permille",
        F.abs(F.col("cur_permille") - F.col("ref_permille")),
    )


def caption_alignment_gate(
    pairs: DataFrame,
    img_vec_col: str = "img_embedding",
    txt_vec_col: str = "txt_embedding",
    min_cos_permille: int = 280,
) -> DataFrame:
    """Embedding-similarity gate between an image and ITS OWN caption —
    the CLIP-score filter (LAION's primary gate: pairs whose image and
    text embeddings disagree are mislabeled alt-text, watermark
    boilerplate, or scraper noise, and they poison contrastive
    training).  The metadata gates (image_quality_gates) check each
    side alone; this checks the PAIRING.

    Pure row-local arithmetic: one zip_with/aggregate cosine per row
    (operators/similarity.py's expression — no UDF), thresholded on a
    permille grid (``round(cos·1000)``) so the verdict is engine-exact.
    The embedding columns are whatever encoder the pipeline ran
    upstream (the encoder call itself is the same strategy seam as the
    LLM extractor, functions/analyzer.py — model inference stays out
    of a no-network sandbox; the gate's plumbing is what's tested).
    LAION used CLIP cos ≥ 0.28 — the default threshold mirrors it.
    """
    from cex_crawler_spark.operators.similarity import cosine

    cos = cosine(F.col(img_vec_col), F.col(txt_vec_col))
    permille = F.round(cos * 1000).cast("long")
    return pairs.withColumn("align_permille", permille).withColumn(
        "aligned", F.col("align_permille") >= F.lit(min_cos_permille)
    )
