"""Sort-aware compaction: disjoint per-file ranges, verified against the
actual parquet footer min/max stats scans use."""

from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cex_crawler_spark.catalog import APPEND, SnapshotCatalog


def _file_stats(paths, cols):
    """Per parquet file: {col: (min, max)} from the footer row groups."""
    out = []
    for p in paths:
        md = pq.ParquetFile(p).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        stats = {}
        for c in cols:
            j = names.index(c)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(j).statistics
                mins.append(s.min)
                maxs.append(s.max)
            stats[c] = (min(mins), max(maxs))
        out.append(stats)
    return out


def _data_files(cat, table):
    paths = cat.manifest()["tables"][table]["paths"]
    return [f for p in paths for f in Path(p).rglob("*.parquet")
            if f.stat().st_size > 0]


@pytest.fixture(scope="module")
def grid_cat(spark, tmp_path_factory):
    """1.2M (x, y) points, hash-scattered so parquet can't compress
    them away — appended unsorted (worst-case layout for selective
    reads); big enough that target_file_mb=1 yields 10+ files."""
    cat = SnapshotCatalog(tmp_path_factory.mktemp("zcat"))
    pts = spark.range(1_200_000).select(
        F.pmod(F.xxhash64("id"), F.lit(1024)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1024)).alias("y"),
        F.xxhash64("id", F.lit(13)).alias("payload"),
    )
    cat.commit(0, {"pts": (pts, APPEND)})
    return cat


def test_compact_sort_by_gives_disjoint_ranges(spark, grid_cat):
    before = spark.createDataFrame(
        sorted(map(tuple, grid_cat.read(spark, "pts").collect())),
        "x long, y long, payload long",
    )
    grid_cat.compact(spark, "pts", target_file_mb=1, sort_by=["x"])
    files = _data_files(grid_cat, "pts")
    assert len(files) >= 8  # multiple files or the test proves nothing
    stats = sorted(s["x"] for s in _file_stats(files, ["x"]))
    for (lo1, hi1), (lo2, hi2) in zip(stats, stats[1:]):
        assert hi1 <= lo2  # ranges disjoint -> point filter hits 1 file
    # row-identical after rewrite
    after = spark.createDataFrame(
        sorted(map(tuple, grid_cat.read(spark, "pts").collect())),
        "x long, y long, payload long",
    )
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0
