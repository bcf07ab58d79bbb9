"""Reader for the reference's shipped announcement corpus
(``output/*/*.json`` — the per-article JSON sink K1, written by e.g.
/root/reference/exchange/binance.py:274-280, consumed by
/root/reference/main.py:44-52).

Files are either a top-level array of records or a single record object
(main.py:49-50 wraps dicts in a list); Spark's multiLine JSON reader
handles both with one explicit schema.  A ``file`` column carrying the
repo-relative source path reproduces main.py:51's ``{"file": file}``
tag.  The 200 weex stale-placeholder files carry ``text`` instead of
``content`` and no symbol/action — the explicit schema nulls those
fields, exactly as ``pd.DataFrame(...)`` unions them in the reference.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REFERENCE_ROOT = "/root/reference"

# announcement-record fields (main.py:65 column list, all strings)
CORPUS_SCHEMA = (
    "symbol string, action string, type string, time string, "
    "title string, exchange string, url string, release_time string, "
    "content string"
)


def read_announcement_corpus(
    spark: SparkSession, root: str = REFERENCE_ROOT
) -> DataFrame:
    """All announcement records under ``root/output/*/*.json`` with a
    repo-relative ``file`` column.  Raises ``FileNotFoundError`` naming
    ``root/output`` when the snapshot is not there."""
    output = Path(root) / "output"
    if not output.is_dir():
        raise FileNotFoundError(f"reference snapshot not found: {output}")
    df = (
        spark.read.schema(CORPUS_SCHEMA)
        .option("multiLine", "true")
        # recursive + glob-filter instead of a path glob: Hadoop's
        # globStatus rejects patterns on this local FS setup
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .json(f"{root}/output")
    )
    rel = F.regexp_replace(F.input_file_name(), f"^file:/*{root.lstrip('/')}/", "")
    return df.withColumn("file", rel)
