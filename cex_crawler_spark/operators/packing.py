"""Sequence packing — bin documents into fixed token-budget packs.

The pretraining-data step after curation: training consumes
fixed-length sequences, so documents are assigned to "packs" of
``budget`` tokens each.  This operator implements deterministic
CONTIGUOUS packing: documents in ``order_col`` order fill pack 0 until
the running token total passes the budget, then pack 1, and so on —
``pack_id = floor((cumsum - n_tokens) / budget)`` (a document belongs
to the pack its FIRST token lands in, so packs may overflow by at most
``max(n_tokens) - 1``; the greedy reset-accumulator variant that never
overflows is a sequential recurrence no engine parallelizes, and the
contiguous form is what makes the assignment both scale-out and
SQL-oracle-checkable).

Scale shape: the naive plan is ``sum() OVER (ORDER BY order_col)`` —
a GLOBAL window that sorts the corpus into ONE task.  Instead the
running sum uses the same chunked decomposition as the scheduler's
per-host rank (operators/politeness.py): local cumsum within
order-aligned chunks (one shuffle, parallelism = corpus/chunk_width)
plus broadcast per-chunk prefix offsets — a 10^10-doc corpus packs
with 10^10/W parallel tasks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_CHUNK_WIDTH = 8192


def chunked_running_sum(
    df: DataFrame,
    order_col: str,
    val_col: str,
    chunk_width: int = _CHUNK_WIDTH,
    partition_by: list[str] | None = None,
    out_col: str = "__csum",
) -> DataFrame:
    """``df`` + ``out_col`` = running sum of ``val_col`` in ``order_col``
    order — WITHOUT the global single-task window ``sum() OVER (ORDER BY
    order_col)`` would cost.

    ``order_col`` must be a unique numeric ordering key; chunks are
    keyed ``order_col div chunk_width`` (order-aligned by construction —
    the key need not be dense, empty chunks simply don't exist as
    groups).  Local cumsum within chunks (parallelism = rows/chunk
    width) + broadcast per-chunk prefix offsets; the only unpartitioned
    window runs over the tiny chunk-totals table.  This is the shared
    spine of sequence packing (below) and the bandwidth-budget prefix
    take (operators/allocation.py).
    """
    part = list(partition_by or [])
    d = df.withColumn("__chunk", F.floor(F.col(order_col) / F.lit(chunk_width)))
    local = d.withColumn(
        out_col,
        F.sum(val_col).over(
            Window.partitionBy(*part, "__chunk")
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # per-chunk totals derive from the PRE-window frame: hanging them off
    # `local` duplicates the window subtree in the physical plan
    # (Catalyst doesn't prune the unused Window).
    counts = d.groupBy(*part, "__chunk").agg(F.sum(val_col).alias("__cnt"))
    w_off = (
        Window.partitionBy(*part).orderBy("__chunk")
        if part
        else Window.orderBy("__chunk")
    ).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
    ).select(*part, "__chunk", "__off")
    return (
        local.join(F.broadcast(offsets), [*part, "__chunk"])
        .withColumn(out_col, F.col(out_col) + F.col("__off"))
        .drop("__chunk", "__off")
    )


def pack_documents(
    df: DataFrame,
    order_col: str,
    length_col: Column,
    budget: int,
    chunk_width: int = _CHUNK_WIDTH,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """``df`` + (n_tokens, pack_id) under contiguous token packing.

    ``order_col``: unique numeric ordering key (the pack order —
    typically the doc id of an already-shuffled corpus).  ``length_col``:
    token-count expression.  Chunks are keyed by ``order_col div
    chunk_width`` — order-aligned by construction, so no range-sampling
    pass is needed, exactly as in the scheduler's chunked rank.

    ``partition_by``: optional grouping columns; the running sum (and so
    ``pack_id``) restarts per group — e.g. pack each aspect-ratio bucket
    of an image corpus separately.  The output pack key is then
    (*partition_by, pack_id).  Chunk offsets stay one broadcast-sized
    table of groups × corpus/chunk_width rows.
    """
    part = list(partition_by or [])
    d = df.withColumn("n_tokens", length_col)
    summed = chunked_running_sum(
        d, order_col, "n_tokens", chunk_width, part, out_col="__csum"
    )
    return summed.withColumn(
        "pack_id",
        F.floor((F.col("__csum") - F.col("n_tokens")) / F.lit(budget)),
    ).drop("__csum")


def sliding_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Split each document's token stream into fixed-size overlapping
    windows — the long-document half of sequence shaping (a doc longer
    than the trainer's context is chunked with ``chunk_tokens − stride``
    tokens of overlap BEFORE packing; stride == chunk_tokens gives
    disjoint chunks).

    Pure Catalyst and scan-side: split → `sequence` of chunk starts →
    `posexplode` → `slice`; no shuffle, no UDF, fan-out bounded by
    ceil(n_tokens / stride) per document.  Emits (id, chunk_idx,
    n_tokens, chunk_text) with chunk_idx 0-based in document order.
    """
    if not (0 < stride <= chunk_tokens):
        raise ValueError(f"need 0 < stride <= chunk_tokens, got {stride}")
    from ..functions.text import tokens

    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    return (
        df.select(
            F.col(id_col),
            toks.alias("__toks"),
            F.posexplode(starts).alias("chunk_idx", "__start"),
        )
        .withColumn(
            "__chunk",
            F.slice(F.col("__toks"), F.col("__start") + 1, F.lit(chunk_tokens)),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size("__chunk").cast("long").alias("n_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


def assign_shards(
    df: DataFrame,
    id_col: str,
    samples_per_shard: int,
    seed: int = 42,
) -> DataFrame:
    """WebDataset-style shard assignment with a deterministic global
    shuffle — the export step that turns a curated image+caption corpus
    into trainer-shaped tar shards: every sample gets ``(shard_id,
    idx_in_shard)`` under a pseudo-random but REPRODUCIBLE global order
    (``md5(seed:id)`` — samples land shuffled across shards, so a
    sequential shard reader sees an unbiased stream, and the same seed
    re-derives the exact layout for resume/audit).  Fixed-count shards
    (`samples_per_shard`), the WebDataset convention; byte-budget
    shards are :func:`pack_documents` with a byte length.

    Scale shape: the naive plan is ``row_number() OVER (ORDER BY
    key)`` — a global sort into ONE task.  Instead the rank uses the
    scheduler's chunked decomposition keyed on the md5 PREFIX (first 3
    hex chars = top 12 bits, order-aligned with the full key by
    construction — fixed-width hex compares lexicographically as its
    numeric value): local row_number within each of the 4096 uniform
    chunks + broadcast per-chunk count offsets.  md5 rather than
    xxhash64 solely so the order is re-derivable in ANY engine (the
    audit/oracle property); both are JVM codegen here.
    """
    if samples_per_shard < 1:
        raise ValueError(f"samples_per_shard must be ≥ 1, got {samples_per_shard}")
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    d = df.withColumn("__key", key).withColumn(
        "__chunk", F.substring("__key", 1, 3)
    )
    local = d.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__chunk").orderBy("__key", id_col)
        ),
    )
    counts = d.groupBy("__chunk").agg(F.count("*").alias("__cnt"))
    offsets = counts.withColumn(
        "__off",
        F.coalesce(
            F.sum("__cnt").over(
                Window.orderBy("__chunk").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("__chunk", "__off")
    ranked = local.join(F.broadcast(offsets), "__chunk").withColumn(
        "__rank", F.col("__rn") + F.col("__off") - 1
    )
    return (
        ranked.withColumn(
            "shard_id", F.floor(F.col("__rank") / F.lit(samples_per_shard))
        )
        .withColumn(
            "idx_in_shard",
            (F.col("__rank") % F.lit(samples_per_shard)).cast("long"),
        )
        .drop("__key", "__chunk", "__rn", "__off", "__rank")
    )


def curriculum_order(
    df: DataFrame,
    id_col: str,
    difficulty_col: str,
    n_phases: int,
    seed: int = 42,
    prefix_hex: int = 2,
) -> DataFrame:
    """Curriculum export ordering: exact global rank by (difficulty ASC,
    deterministic shuffle) plus equal-size phase assignment — the
    easy→hard sample stream a curriculum-trained run consumes (Bengio et
    al., ICML'09), with samples of EQUAL difficulty shuffled (md5(seed:
    id)) so no source/id ordering leaks into a phase.

    ``difficulty_col`` must be an integer GRID (token count, quality
    permille, resolution tier …) — the rank decomposition chunks on
    (difficulty, md5 prefix), and the broadcast offsets table is
    |grid| × 16^prefix_hex rows, so bucket real-valued scores first.

    Scale shape: same as assign_shards — local row_number per
    order-aligned chunk + broadcast count offsets; the only
    unpartitioned window runs over the counts table, and the corpus
    total arrives via a one-row broadcast cross join (no driver
    action).  ``phase = (rank · n_phases) div total`` — all-integer, so
    phases differ in size by at most one.
    """
    if n_phases < 1:
        raise ValueError(f"n_phases must be ≥ 1, got {n_phases}")
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    d = df.withColumn("__key", key).withColumn(
        "__chunk", F.substring("__key", 1, prefix_hex)
    )
    local = d.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy(difficulty_col, "__chunk").orderBy(
                "__key", id_col
            )
        ),
    )
    counts = d.groupBy(difficulty_col, "__chunk").agg(
        F.count("*").alias("__cnt")
    )
    offsets = counts.withColumn(
        "__off",
        F.coalesce(
            F.sum("__cnt").over(
                Window.orderBy(difficulty_col, "__chunk").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select(difficulty_col, "__chunk", "__off")
    total = counts.agg(F.sum("__cnt").alias("__total"))
    ranked = (
        local.join(F.broadcast(offsets), [difficulty_col, "__chunk"])
        .crossJoin(F.broadcast(total))
        .withColumn("curriculum_rank", F.col("__rn") + F.col("__off") - 1)
    )
    return ranked.withColumn(
        "phase",
        F.expr(f"(curriculum_rank * {int(n_phases)}) div __total"),
    ).drop("__key", "__chunk", "__rn", "__off", "__total")


def shard_manifest(
    sharded: DataFrame,
    id_col: str,
    bytes_col: str | None = None,
) -> DataFrame:
    """Per-shard integrity manifest over :func:`assign_shards` output:
    (shard_id, n_samples, total_bytes, manifest_md5) where
    ``manifest_md5`` digests the newline-joined sample ids in
    ``idx_in_shard`` order — the receipt a trainer-side loader verifies
    before consuming a shard, and the audit row that makes a re-derived
    export provably identical to the shipped one (the same property the
    WARC/CDX tier gives archives).

    The per-shard collect is BOUNDED by ``samples_per_shard`` (that is
    what makes a collect_list acceptable here — it is never
    corpus-sized); ordering rides an array_sort over (idx, id) structs,
    so no window at all.  ``bytes_col`` optional (0 when absent).
    """
    size = F.col(bytes_col) if bytes_col else F.lit(0)
    g = sharded.groupBy("shard_id").agg(
        F.count("*").alias("n_samples"),
        F.sum(size).cast("long").alias("total_bytes"),
        F.array_sort(
            F.collect_list(
                F.struct(F.col("idx_in_shard").alias("i"), F.col(id_col).alias("v"))
            )
        ).alias("__entries"),
    )
    return g.withColumn(
        "manifest_md5",
        F.md5(
            F.array_join(
                F.transform(F.col("__entries"), lambda s: s["v"]), "\n"
            )
        ),
    ).drop("__entries")
