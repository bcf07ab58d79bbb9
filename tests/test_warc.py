"""WARC render/parse (sources/warc.py) — framing, strictness, offsets."""

import pytest
from pyspark.sql import functions as F

from cex_crawler_spark.sources.warc import (
    parse_warc,
    render_warc_files,
    warc_record,
)

FAKE = (
    "before\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n"
    "Content-Length: 3\r\n\r\nxyz\r\n\r\nafter"
)


def _files(spark, rows):
    return render_warc_files(
        spark.createDataFrame(
            rows, "file_id long, uri string, date string, payload string"
        )
    )


class TestWarcRoundtrip:
    def test_payloads_survive_exactly(self, spark):
        rows = [
            (0, "http://a/1", "2025-08-01T00:00:00Z", "plain text"),
            (0, "http://a/2", "2025-08-02T00:00:00Z", "caption: caña é 中"),
            (0, "http://a/3", "2025-08-03T00:00:00Z", FAKE),
            (1, "http://b/1", "2025-08-04T00:00:00Z", ""),
        ]
        got = {
            r["target_uri"]: r
            for r in parse_warc(_files(spark, rows)).collect()
        }
        assert len(got) == 4  # sentinel did NOT become a 5th record
        for fid, uri, date, payload in rows:
            r = got[uri]
            assert r["payload"] == payload
            assert r["warc_date"] == date
            assert r["file_id"] == fid
            assert r["content_length"] == len(payload.encode("utf-8"))
            assert r["warc_type"] == "response"

    def test_offsets_are_byte_accurate(self, spark):
        rows = [
            (0, "http://a/1", "2025-08-01T00:00:00Z", "first é"),
            (0, "http://a/2", "2025-08-02T00:00:00Z", "second"),
        ]
        blob = _files(spark, rows).first()["warc"]
        rec1 = (
            spark.range(1)
            .select(
                warc_record(
                    F.lit("http://a/1"),
                    F.lit("2025-08-01T00:00:00Z"),
                    F.lit("first é"),
                )
            )
            .first()[0]
        )
        offs = {
            r["target_uri"]: r["rec_offset"]
            for r in parse_warc(_files(spark, rows)).collect()
        }
        assert offs["http://a/1"] == 0
        assert offs["http://a/2"] == len(rec1.encode("utf-8"))
        assert blob.startswith(rec1)

    def test_malformed_archive_raises(self, spark):
        # truncated payload: Content-Length points past the terminator
        bad = (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: http://a/1\r\nWARC-Date: d\r\n"
            "Content-Length: 999\r\n\r\nshort\r\n\r\n"
        )
        df = spark.createDataFrame(
            [(0, bad)], "file_id long, warc string"
        )
        with pytest.raises(Exception, match="not terminated|no record magic"):
            parse_warc(df).collect()

    def test_cdx_pointers_slice_the_archive(self, spark):
        """The CDX contract: blob[offset:offset+length] decoded is the
        exact record, and urlkey reverses host labels."""
        import hashlib

        from cex_crawler_spark.sources.warc import cdx_index

        rows = [
            (0, "http://news.site.com/a/1", "2025-08-01T00:00:00Z", "x é"),
            (0, "http://news.site.com/a/2", "2025-08-02T00:00:00Z", FAKE),
            (0, "http://other.org/b", "2025-08-03T00:00:00Z", "y"),
        ]
        files = _files(spark, rows)
        blob = files.first()["warc"].encode("utf-8")
        idx = {
            r["original"]: r
            for r in cdx_index(parse_warc(files)).collect()
        }
        assert idx["http://news.site.com/a/1"]["urlkey"] == "com,site,news)/a/1"
        assert idx["http://other.org/b"]["urlkey"] == "org,other)/b"
        assert idx["http://news.site.com/a/2"]["cdx_ts"] == "20250802000000"
        for fid, uri, date, payload in rows:
            r = idx[uri]
            sliced = blob[r["rec_offset"]: r["rec_offset"] + r["rec_length"]]
            assert sliced.startswith(b"WARC/1.0\r\n")
            assert sliced.endswith(
                payload.encode("utf-8") + b"\r\n\r\n"
            )
            assert r["digest"] == hashlib.md5(payload.encode()).hexdigest()
        # offsets tile the file exactly: sorted offsets + lengths chain
        recs = sorted(
            (r["rec_offset"], r["rec_length"]) for r in idx.values()
        )
        pos = 0
        for off, ln in recs:
            assert off == pos
            pos += ln
        assert pos == len(blob)

    def test_revisit_dedup_stores_payload_once(self, spark):
        from cex_crawler_spark.sources.warc import (
            render_warc_files_deduped,
        )

        rows = [
            (0, "http://a/2", "2025-08-02T00:00:00Z", "same bytes é"),
            (0, "http://a/1", "2025-08-01T00:00:00Z", "same bytes é"),
            (0, "http://a/3", "2025-08-03T00:00:00Z", "unique"),
        ]
        files = render_warc_files_deduped(
            spark.createDataFrame(
                rows,
                "file_id long, uri string, date string, payload string",
            )
        )
        blob = files.first()["warc"]
        assert blob.count("same bytes é") == 1  # bytes stored ONCE
        got = {r["target_uri"]: r for r in parse_warc(files).collect()}
        assert got["http://a/1"]["warc_type"] == "response"
        assert got["http://a/1"]["payload"] == "same bytes é"
        assert got["http://a/1"]["refers_to"] is None
        assert got["http://a/2"]["warc_type"] == "revisit"
        assert got["http://a/2"]["refers_to"] == "http://a/1"
        assert got["http://a/2"]["content_length"] == 0
        assert got["http://a/2"]["payload"] == ""
        assert got["http://a/3"]["warc_type"] == "response"

    def test_gz_members_support_ranged_reads(self, spark):
        """The .warc.gz contract: blob[off:off+len] is ONE complete
        gzip member that inflates to exactly that record — no prefix
        decompression needed."""
        import gzip

        from cex_crawler_spark.sources.warc import (
            parse_warc_gz,
            render_warc_gz_files,
        )

        rows = [
            (0, "http://a/1", "2025-08-01T00:00:00Z", "first é"),
            (0, "http://a/2", "2025-08-02T00:00:00Z", FAKE),
            (0, "http://a/3", "2025-08-03T00:00:00Z", "third"),
        ]
        files = render_warc_gz_files(
            spark.createDataFrame(
                rows,
                "file_id long, uri string, date string, payload string",
            )
        )
        blob = bytes(files.first()["warc_gz"])
        recs = {
            r["target_uri"]: r for r in parse_warc_gz(files).collect()
        }
        assert len(recs) == 3
        pos = 0
        for fid, uri, date, payload in rows:
            r = recs[uri]
            assert r["payload"] == payload
            member = blob[r["rec_offset"]: r["rec_offset"] + r["rec_length"]]
            text = gzip.decompress(member).decode("utf-8")
            assert f"WARC-Target-URI: {uri}\r\n" in text
            assert text.endswith(payload + "\r\n\r\n")
            assert r["rec_offset"] == pos  # members tile the file
            pos += r["rec_length"]
        assert pos == len(blob)

    def test_gz_truncated_member_raises(self, spark):
        from cex_crawler_spark.sources.warc import (
            parse_warc_gz,
            render_warc_gz_files,
        )

        files = render_warc_gz_files(
            spark.createDataFrame(
                [(0, "http://a/1", "2025-08-01T00:00:00Z", "x" * 500)],
                "file_id long, uri string, date string, payload string",
            )
        )
        blob = bytes(files.first()["warc_gz"])
        cut = spark.createDataFrame(
            [(0, bytearray(blob[: len(blob) - 7]))],
            "file_id long, warc_gz binary",
        )
        import pytest as _pytest

        with _pytest.raises(Exception, match="truncated|bad gzip"):
            parse_warc_gz(cut).collect()

    def test_crawl_results_export_roundtrip(self, spark, tmp_path):
        """End-to-end interchange: run a real crawl, export its fetched
        rows as .warc.gz blobs committed ATOMICALLY to the same
        catalog, read the table back and re-parse — every fetched
        (url, caption) survives, nothing extra appears.  This is the
        path that hands a crawl to external archive tooling."""
        from pyspark.sql import functions as F

        from cex_crawler_spark.catalog import APPEND, SnapshotCatalog
        from cex_crawler_spark.plans.driver import bootstrap, crawl
        from cex_crawler_spark.sources.warc import (
            parse_warc_gz,
            render_warc_gz_files,
        )
        from cex_crawler_spark.synth import gen_frontier, gen_host_policy

        cat = SnapshotCatalog(str(tmp_path / "cat"))
        bootstrap(
            cat, gen_frontier(spark, 200, n_payloads=40),
            "2025-08-29 00:00:00",
        )
        crawl(
            spark, cat, gen_host_policy(spark), "2025-08-29 00:00:00",
            max_rounds=2,
        )
        fetched = cat.read(spark, "results").filter(
            F.col("status") == "fetched"
        )
        n_fetched = fetched.count()
        assert n_fetched > 0
        recs = fetched.select(
            F.pmod(F.col("url_hash"), F.lit(8)).alias("file_id"),
            F.col("url").alias("uri"),
            F.format_string(
                "2025-08-29T00:00:0%dZ", F.col("round")
            ).alias("date"),
            F.col("caption").alias("payload"),
        )
        v = cat.commit(
            99, {"warc": (render_warc_gz_files(recs), APPEND)}
        )
        assert v > 0
        back = parse_warc_gz(
            cat.read(spark, "warc"), warc_col="warc_gz"
        ).select(
            F.col("target_uri").alias("url"),
            F.col("payload").alias("caption"),
        )
        want = sorted(
            (r["url"], r["caption"]) for r in fetched.collect()
        )
        got = sorted((r["url"], r["caption"]) for r in back.collect())
        assert got == want

    def test_adversarial_payload_corpus(self, spark):
        """120 seeded-random payloads stuffed with framing hazards —
        CRLF runs, record magic at every offset, empty strings, header
        look-alikes, multi-byte unicode — must survive both plain and
        gzip round-trips byte-for-byte."""
        import random

        from cex_crawler_spark.sources.warc import (
            parse_warc_gz,
            render_warc_gz_files,
        )

        rng = random.Random(42)
        hazards = [
            "", "\r\n", "\r\n\r\n", "WARC/1.0", "\r\n\r\nWARC/1.0\r\n",
            "Content-Length: 0\r\n\r\n", FAKE, "é中🙂", "\r", "\n",
            "WARC-Type: response", "x" * 300,
        ]
        rows = []
        for i in range(120):
            payload = "".join(
                rng.choice(hazards) for _ in range(rng.randrange(6))
            )
            rows.append(
                (i % 5, f"http://h/{i}", "2025-08-01T00:00:00Z", payload)
            )
        for rt in (
            lambda df: parse_warc(render_warc_files(df)),
            lambda df: parse_warc_gz(render_warc_gz_files(df)),
        ):
            df = spark.createDataFrame(
                rows,
                "file_id long, uri string, date string, payload string",
            )
            got = {r["target_uri"]: r["payload"] for r in rt(df).collect()}
            assert len(got) == 120
            for _, uri, _, payload in rows:
                assert got[uri] == payload

    def test_render_is_deterministic_and_sorted(self, spark):
        rows = [
            (0, "http://a/2", "2025-08-02T00:00:00Z", "b"),
            (0, "http://a/1", "2025-08-01T00:00:00Z", "a"),
        ]
        b1 = _files(spark, rows).first()["warc"]
        b2 = _files(spark, list(reversed(rows))).first()["warc"]
        assert b1 == b2  # input order can't leak into the artifact
        assert b1.index("http://a/1") < b1.index("http://a/2")


class TestWetExtract:
    def test_wet_converts_responses_and_drops_revisits(self, spark):
        """render_wet_files: HTML responses become `conversion` records
        whose payload is the visible text with its OWN byte-accurate
        Content-Length; revisit records (no convertible payload) are
        dropped, per the WET convention."""
        from cex_crawler_spark.sources.warc import (
            render_warc_files_deduped,
            render_wet_files,
        )

        rows = [
            (0, "http://a/1", "2025-08-01T00:00:00Z",
             "<html><script>x()</script><body><p>Hello &amp; bye é</p>"
             "</body></html>"),
            (0, "http://a/2", "2025-08-02T00:00:00Z",
             "<html><body><p>Hello &amp; bye é</p></body></html>"),
            # byte-identical payload to /1 → revisit under dedup render
            (0, "http://a/3", "2025-08-03T00:00:00Z",
             "<html><script>x()</script><body><p>Hello &amp; bye é</p>"
             "</body></html>"),
        ]
        df = spark.createDataFrame(
            rows, "file_id long, uri string, date string, payload string"
        )
        archive = render_warc_files_deduped(df)
        parsed = parse_warc(archive)
        types = {r["target_uri"]: r["warc_type"] for r in parsed.collect()}
        assert types == {
            "http://a/1": "response",
            "http://a/2": "response",
            "http://a/3": "revisit",
        }
        wet = {
            r["target_uri"]: r
            for r in parse_warc(render_wet_files(parsed)).collect()
        }
        # the revisit never reaches the WET sidecar
        assert set(wet) == {"http://a/1", "http://a/2"}
        for r in wet.values():
            assert r["warc_type"] == "conversion"
            assert r["payload"] == "Hello & bye é"
            # é is 2 UTF-8 bytes: Content-Length counts octets, not chars
            assert r["content_length"] == len("Hello & bye é".encode())


def test_cross_host_sitemap_screen(spark):
    from cex_crawler_spark.sources.sitemap import cross_host_sitemap_screen

    rows = [
        ("www.ex.co.uk", "https://www.ex.co.uk/sm.xml"),       # same host
        ("www.ex.co.uk", "https://cdn.ex.co.uk/sm.xml"),       # sibling ok
        ("www.ex.co.uk", "https://evil.com/sm.xml"),           # poison
        ("www.ex.co.uk", "https://other.co.uk/sm.xml"),        # other site
        ("www.ex.co.uk", "HTTPS://CDN.EX.CO.UK:8443/sm.xml"),  # port+case
        ("www.ex.co.uk", "not a url"),                         # malformed
    ]
    df = spark.createDataFrame(rows, ["host", "sitemap_url"])
    got = {r["sitemap_url"]: r["accepted"]
           for r in cross_host_sitemap_screen(df).collect()}
    assert got["https://www.ex.co.uk/sm.xml"]
    assert got["https://cdn.ex.co.uk/sm.xml"]
    assert got["HTTPS://CDN.EX.CO.UK:8443/sm.xml"]
    assert not got["https://evil.com/sm.xml"]
    assert not got["https://other.co.uk/sm.xml"]
    assert not got["not a url"]


def test_robots_render_parse_roundtrip(spark):
    from cex_crawler_spark.functions.robots import (
        parse_robots_crawl_delay, parse_robots_disallow,
        parse_robots_sitemaps, render_robots_txt,
    )

    df = spark.createDataFrame(
        [
            (["/a", "/b/c"], 3, ["https://h/sm.xml"]),
            (["/only"], None, []),
        ],
        "dis array<string>, cd int, sms array<string>",
    )
    txt = render_robots_txt(F.col("dis"), F.col("cd"), F.col("sms"))
    out = df.select(
        parse_robots_disallow(txt).alias("dis2"),
        parse_robots_crawl_delay(txt).alias("cd2"),
        parse_robots_sitemaps(txt).alias("sms2"),
        F.col("dis"), F.col("cd"), F.col("sms"),
    ).collect()
    for r in out:
        assert r["dis2"] == r["dis"]
        assert (r["cd2"] is None) == (r["cd"] is None)
        if r["cd"] is not None:
            assert int(r["cd2"]) == r["cd"]
        assert r["sms2"] == r["sms"]
