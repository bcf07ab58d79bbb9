"""Golden validation against the reference's SHIPPED corpus — the only
machine-checkable ground truth in the reference repo (SURVEY §5):
674 JSON records under /root/reference/output/ consolidated into
announcements.csv (473 rows) and the spot/futures pivot CSVs by
/root/reference/main.py:42-95.

The engine's consolidate/pivot layer must reproduce those exact files,
modulo two documented representation differences:
- row order in announcements.csv (the reference inherits glob order
  inside sort ties) — compared as a row multiset;
- concat order inside a pivot cell (the reference inherits pandas group
  order; the engine sorts on (release_time, symbol, description)) —
  cells compared as line multisets, plus an exact-cell check where the
  orderings coincide.
"""

import pandas as pd
import pytest

from cex_crawler_spark.operators.aggregate import (
    FUTURES_CEX,
    SPOT_CEX,
    consolidate_announcements,
    filter_recent,
    pivot_by_exchange,
    reference_column_order,
)
from cex_crawler_spark.sources.corpus import read_announcement_corpus

pytestmark = pytest.mark.reference_snapshot

# the run date of the shipped CSVs, recovered from the data itself: every
# 待确定 row in announcements.csv carries time == 2025-09-02 (main.py:54-60
# stamps "today" into null/short times)
RUN_DATE = "2025-09-02"

REF = "/root/reference"


@pytest.fixture(scope="module")
def consolidated(spark):
    corpus = read_announcement_corpus(spark)
    return consolidate_announcements(corpus, RUN_DATE)


def _rows_multiset(pdf: pd.DataFrame):
    return sorted(
        pdf.fillna("").astype(str).itertuples(index=False, name=None)
    )


def test_consolidated_matches_shipped_announcements_csv(consolidated):
    got = consolidated.toPandas()
    ref = pd.read_csv(f"{REF}/announcements.csv", dtype=str).rename(
        # pandas mangles the duplicated 'content' header on read
        columns={"content.1": "content_dup"}
    )
    assert list(got.columns) == list(ref.columns)
    assert len(got) == len(ref) == 473
    assert _rows_multiset(got) == _rows_multiset(ref)


def _cell_lines(cell) -> list[str]:
    return sorted(x.strip() for x in str(cell).split("\n") if x.strip())


def _compare_pivot(got: pd.DataFrame, ref_csv: str, roster: list[str]):
    ref = pd.read_csv(ref_csv, dtype=str).fillna("")
    got = got.fillna("")
    assert set(got.columns) == set(ref.columns) == set(["time"] + roster)
    assert sorted(got["time"].astype(str)) == sorted(ref["time"])
    ref = ref.sort_values("time").reset_index(drop=True)
    got = got.sort_values("time").reset_index(drop=True)
    for col in roster:
        for i in range(len(ref)):
            r, g = ref.loc[i, col], str(got.loc[i, col])
            # multi-entry cells: the reference's concat order is glob
            # (filesystem) order — nondeterministic; the engine sorts on
            # (release_time, symbol, description).  Line-multiset compare.
            assert _cell_lines(r) == _cell_lines(g), (
                f"{col} @ {ref.loc[i, 'time']}: {r!r} vs {g!r}"
            )
            # single-entry cells have no ordering freedom → byte-equal
            if len(_cell_lines(r)) <= 1:
                assert r == g, f"{col} @ {ref.loc[i, 'time']}: {r!r} vs {g!r}"
    return ref


def test_spot_pivot_matches_shipped_csv(consolidated):
    recent = filter_recent(consolidated, RUN_DATE)
    piv = pivot_by_exchange(recent, "现货", SPOT_CEX)
    ref = _compare_pivot(piv.toPandas(), f"{REF}/announcements_spot.csv", SPOT_CEX)
    # exact export column order: present alphabetically, absent appended
    assert reference_column_order(piv, SPOT_CEX) == list(ref.columns)


def test_futures_pivot_matches_shipped_csv(consolidated):
    recent = filter_recent(consolidated, RUN_DATE)
    piv = pivot_by_exchange(recent, "合约", FUTURES_CEX)
    ref = _compare_pivot(
        piv.toPandas(), f"{REF}/announcements_futures.csv", FUTURES_CEX
    )
    assert reference_column_order(piv, FUTURES_CEX) == list(ref.columns)


def test_export_csv_roundtrip_real_corpus(spark, tmp_path, consolidated):
    """S10/K4 on the real corpus: export_csv writes the consolidated view
    and a Spark CSV scan reads it back losslessly (embedded newlines,
    quotes and CJK content survive the round trip)."""
    from pyspark.sql import functions as F

    from cex_crawler_spark.operators.aggregate import export_csv

    path = str(tmp_path / "announcements_csv")
    export_csv(consolidated, path)
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(path)
    )
    assert back.count() == 473
    key = ["release_time", "exchange", "symbol", "action", "time", "url"]
    a = sorted(map(tuple, consolidated.select(*key).collect()))
    b = sorted(map(tuple, back.select(*key).collect()))
    assert a == b
    # content column (newline-heavy) survives byte-for-byte
    orig = {
        r["url"]: r["content"]
        for r in consolidated.select("url", "content").dropDuplicates(["url"]).collect()
    }
    got = {
        r["url"]: r["content"]
        for r in back.select("url", "content").dropDuplicates(["url"]).collect()
    }
    assert orig == got
