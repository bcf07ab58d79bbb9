"""Deterministic synthetic data generators (crawl-shaped fixtures).

Everything is a pure function of a row id — generated distributively via
``spark.range(n)`` + Catalyst column expressions (payload image bytes via
one ``mapInPandas`` stage), so the same code generates 10^3 rows for
tests and 10^10 rows on a cluster with no driver-side loop and no RNG /
wall-clock in the data path (unlike the reference, which bakes ``now()``
into its freshness filter — /root/reference/exchange/binance.py:240).

Schemas follow FIXTURES.md; hosts are named after the reference's 14
exchanges (/root/reference/main.py:159-174).  Host ``binance`` holds
~50% of frontier URLs to exercise hot-host skew handling; hosts
``weex``/``bitunix``/``blofin`` model the reference's post-fetch
release-time discovery (/root/reference/exchange/weex.py:156-164).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

HOSTS = [
    "binance", "bybit", "okx", "gate", "mexc", "coinex", "bitget",
    "bithumb", "lbank", "upbit", "btcc", "weex", "bitunix", "blofin",
]
# reference analog: release time only known after the detail fetch
POST_FETCH_TIME_HOSTS = ["weex", "bitunix", "blofin"]
SECTIONS = ["spot_listing", "futures_listing", "delisting"]

# Fixed "now" for the freshness watermark — an explicit parameter, never
# wall-clock (determinism; cf. SURVEY §4 determinism risk).
BASE_TIME = "2025-09-12 00:00:00"

_ACTIONS = ["Listing", "Delisting", "上架", "下架", "removal", "上线"]


def _hash(tag: str, col):
    return F.xxhash64(F.lit(tag), col)


def gen_frontier(spark: SparkSession, n: int, n_payloads: int = 1000) -> DataFrame:
    """Seed frontier of ``n`` URLs (FIXTURES.md §2).

    Columns: url, host, section, seq, title, release_time, image_id,
    time_known_prefetch, duplicate_of.  ~6% of rows are duplicate URLs
    of the previous id under different surface noise (trailing slash,
    case, fragment, tracking param) to exercise canonicalization+dedup.
    """
    df = spark.range(n)
    is_dup = (F.pmod(_hash("dup", F.col("id")), F.lit(17)) == 0) & (F.col("id") > 0)
    target = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id"))

    host_idx = F.pmod(_hash("host", target), F.lit(26))
    # 13/26 of ids land on host 0 (binance) → deliberate hot-host skew
    host_idx = F.when(host_idx < 13, F.lit(0)).otherwise(host_idx - 12)
    host = F.element_at(F.array(*[F.lit(h) for h in HOSTS]), (host_idx + 1).cast("int"))

    robots_hit = F.pmod(_hash("robots", target), F.lit(13)) == 0
    path = F.when(
        robots_hit, F.format_string("/private/a/%d", target)
    ).otherwise(F.format_string("/a/%d", target))

    noise = F.pmod(_hash("noise", F.col("id")), F.lit(5))
    raw_host = F.when(noise == 2, F.upper(host)).otherwise(host)
    suffix = (
        F.when(noise == 1, F.lit("/"))
        .when(noise == 3, F.lit("#frag"))
        .when(noise == 4, F.lit("?utm_source=x"))
        .otherwise(F.lit(""))
    )
    url = F.concat(F.lit("https://"), raw_host, F.lit(".example.com"), path, suffix)

    section = F.element_at(
        F.array(*[F.lit(s) for s in SECTIONS]),
        (F.pmod(_hash("sec", target), F.lit(3)) + 1).cast("int"),
    )
    age_days = F.pmod(_hash("age", target), F.lit(30))
    age_hours = F.pmod(_hash("ageh", target), F.lit(24))
    release_time = (
        F.to_timestamp(F.lit(BASE_TIME))
        - F.make_interval(days=age_days, hours=age_hours)
    )
    action = F.element_at(
        F.array(*[F.lit(a) for a in _ACTIONS]),
        (F.pmod(_hash("act", target), F.lit(len(_ACTIONS))) + 1).cast("int"),
    )
    symbol = F.format_string("SYM%d/USDT", F.pmod(_hash("sym", target), F.lit(500)))
    title = F.format_string(
        "%s of %s (%s)", action, symbol,
        F.date_format(release_time, "yyyy-MM-dd"),
    )
    image_id = F.format_string(
        "img%010d", F.pmod(_hash("img", target), F.lit(n_payloads))
    )

    out = df.select(
        url.alias("url"),
        host.alias("host"),
        section.alias("section"),
        # explicit frontier priority (SURVEY §1.1 schema): LOWER value =
        # crawled sooner, ahead of section order.  Seeds default to one
        # level (0) so the reference replay — where sections ARE the
        # priority — is unchanged; callers set real levels per row
        # (crawl order becomes (priority, section_rank, seq, url_hash))
        F.lit(0).cast("long").alias("priority"),
        F.col("id").alias("seed_id"),
        title.alias("title"),
        release_time.alias("release_time"),
        image_id.alias("image_id"),
        (~host.isin(POST_FETCH_TIME_HOSTS)).alias("time_known_prefetch"),
        F.when(is_dup, F.format_string("seed:%d", target)).otherwise(F.lit(None)).alias(
            "duplicate_of"
        ),
    )
    # seq = position within the host's section list — the reference crawl
    # order (`for i, announcement in enumerate`, exchange/binance.py:233)
    from pyspark.sql.window import Window

    w = Window.partitionBy("host", "section").orderBy("seed_id")
    return out.withColumn("seq", F.row_number().over(w).cast("long"))


_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)


def gen_payloads(spark: SparkSession, n: int) -> DataFrame:
    """Image+caption payload table (BASELINE input_hint shape).

    One mapInPandas stage over ``spark.range`` calling the pure
    ``payload.payload_for`` — the page the fetch simulator's
    ``payload.page_for`` returns plus its ``phash``, so every consumer
    sees byte-identical payloads.
    """
    df = spark.range(n).select(
        F.format_string("img%010d", F.col("id")).alias("image_id")
    )

    def encode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .payload import payload_for

        for pdf in it:
            rows = [payload_for(i) for i in pdf["image_id"]]
            yield pd.DataFrame(rows).astype({"phash": "int64", "w": "int32", "h": "int32"})

    return df.mapInPandas(encode_batches, schema=_PAYLOAD_SCHEMA)


def gen_host_policy(spark: SparkSession) -> DataFrame:
    """Politeness/robots dim table (FIXTURES.md §3) — 14 rows, broadcast-side."""
    rows = [
        (
            h,
            3 + (i % 5),             # budget_per_round (token-bucket capacity)
            2000 + 250 * i,          # min_delay_ms — recorded, not slept
            ["/private"],            # robots disallow prefixes
            8 + (i % 13),            # list_page_size (cf. bybit.py:28, upbit.py:27)
        )
        for i, h in enumerate(HOSTS)
    ]
    schema = T.StructType(
        [
            T.StructField("host", T.StringType()),
            T.StructField("budget_per_round", T.IntegerType()),
            T.StructField("min_delay_ms", T.LongType()),
            T.StructField("robots_disallow", T.ArrayType(T.StringType())),
            T.StructField("list_page_size", T.IntegerType()),
        ]
    )
    return spark.createDataFrame(rows, schema)
