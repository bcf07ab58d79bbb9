"""K6 static dashboard over the real consolidated corpus."""

import re

import pytest

from cex_crawler_spark.operators.aggregate import consolidate_announcements
from cex_crawler_spark.operators.dashboard import render_dashboard_html
from cex_crawler_spark.sources.corpus import read_announcement_corpus


@pytest.mark.reference_snapshot
def test_dashboard_renders_consolidated_corpus(spark, tmp_path):
    cons = consolidate_announcements(
        read_announcement_corpus(spark), "2025-09-02"
    )
    out = tmp_path / "announcements.html"
    n = render_dashboard_html(cons, "2025-09-02", out)
    assert n == 473  # every consolidated record is embedded
    text = out.read_text(encoding="utf-8")
    assert text.startswith("<!DOCTYPE html>")
    assert text.count('"exchange":') == 473
    assert "WBTC/USDT" in text          # a known shipped record
    assert "datefilter" in text          # F5 date filter present
    # XSS hygiene: raw angle brackets from titles can't reach the DOM
    assert "<script>alert" not in text


def test_corpus_reader_names_missing_snapshot(spark, tmp_path):
    with pytest.raises(FileNotFoundError,
                       match=re.escape(str(tmp_path / "output"))):
        read_announcement_corpus(spark, str(tmp_path))
