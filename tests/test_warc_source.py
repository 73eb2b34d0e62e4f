"""WARC source/sink (sources/warc.py): the Common-Crawl container
format upstream of the input_hint pages table. Pinned here: record
grammar roundtrips (plain + member-gzip), Content-Length framing
safety on hostile payloads, and the full pages→WARC→pages cycle over
the deterministic crawl generator."""

from __future__ import annotations

import zlib

from pyspark.sql import functions as F

from rdf_diff_store_spark.sources.warc import (
    parse_warc_bytes,
    parse_warc_column,
    warc_record_str,
)


def write_warc_file(records, path, gzip_members=True):
    """Driver-side fixture writer: one gzip member per record (the
    Common-Crawl layout) or plain concatenation."""
    with open(path, "wb") as f:
        for rec in records:
            raw = rec.encode("utf-8") if isinstance(rec, str) else rec
            if gzip_members:
                co = zlib.compressobj(9, zlib.DEFLATED, 31)
                f.write(co.compress(raw))
                f.write(co.flush())
            else:
                f.write(raw)


def read_warc(spark, path):
    """The .warc.gz files under `path`: a binaryFile scan (one row
    per file) parsed by `parse_warc_column`."""
    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.warc*").load(path)
    return parse_warc_column(files, "content")


def _encode_df(df):
    return df.select(
        warc_record_str(F.col("url"), F.col("warc_ts"), F.col("html")).alias("rec")
    )


class TestRecordGrammar:
    def test_single_record_roundtrip(self, spark):
        df = spark.createDataFrame(
            [("https://a.example/x", "2024-03-05 06:07:08", b"<p>hi</p>")],
            "url string, warc_ts string, html binary",
        ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp_ntz"))
        rec = _encode_df(df).first().rec
        got = list(parse_warc_bytes(rec.encode()))
        assert len(got) == 1
        r = got[0]
        assert r["url"] == "https://a.example/x"
        assert r["html"] == b"<p>hi</p>"
        assert r["rec_type"] == "response"
        assert r["warc_ts"].isoformat() == "2024-03-05T06:07:08"

    def test_content_length_framing_on_hostile_payload(self):
        # payload contains a fake record boundary + fake WARC header;
        # Content-Length framing must carry the parser straight past it
        evil = b"x\r\n\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\nz"
        http = b"HTTP/1.1 200 OK\r\n\r\n" + evil
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: u\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n"
        )
        got = list(parse_warc_bytes(rec * 3))
        assert [g["html"] for g in got] == [evil] * 3

    def test_non_warc_input_raises(self):
        try:
            list(parse_warc_bytes(b"HTTP/1.1 200 OK\r\n\r\nbody"))
            raise AssertionError("should have raised")
        except ValueError as e:
            assert "not a WARC record" in str(e)

    def test_gzip_member_per_record(self, tmp_path):
        recs = []
        for i in range(5):
            http = f"HTTP/1.1 200 OK\r\n\r\n<p>{i}</p>".encode()
            recs.append(
                b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u"
                + str(i).encode()
                + b"\r\nWARC-Date: 2024-01-01T00:00:0"
                + str(i).encode()
                + b"Z\r\nContent-Length: "
                + str(len(http)).encode()
                + b"\r\n\r\n"
                + http
                + b"\r\n\r\n"
            )
        p = str(tmp_path / "f.warc.gz")
        write_warc_file(recs, p, gzip_members=True)
        raw = open(p, "rb").read()
        assert raw[:2] == b"\x1f\x8b"
        # really multiple members: inflating member 0 leaves unused data
        d = zlib.decompressobj(wbits=31)
        d.decompress(raw)
        d.flush()
        assert d.unused_data
        got = list(parse_warc_bytes(raw))
        assert [g["url"] for g in got] == [f"u{i}" for i in range(5)]
        assert [g["html"] for g in got] == [f"<p>{i}</p>".encode() for i in range(5)]


class TestDistributedRead:
    def test_pages_to_warc_files_and_back(self, spark, tmp_path):
        """generate_pages → encode → .warc.gz files (member-per-record)
        → read_warc ≡ the original (url, warc_ts, html) multiset."""
        from rdf_diff_store_spark.sources.pages import generate_pages

        pages = generate_pages(spark, n_urls=40, n_crawls=2).select(
            "url", "warc_ts", "html"
        )
        recs = _encode_df(
            pages.withColumn("warc_ts", F.col("warc_ts").cast("timestamp_ntz"))
        ).collect()
        # two files, interleaved assignment — reader must union files
        for fid in range(2):
            write_warc_file(
                [r.rec for i, r in enumerate(recs) if i % 2 == fid],
                str(tmp_path / f"part{fid}.warc.gz"),
            )
        got = read_warc(spark, str(tmp_path))
        assert got.count() == pages.count()
        orig = {
            (r.url, r.warc_ts.isoformat(), bytes(r.html)) for r in pages.collect()
        }
        back = {
            (r.url, r.warc_ts.isoformat(), bytes(r.html)) for r in got.collect()
        }
        assert back == orig

    def test_parse_column_multi_record_blob(self, spark):
        """One binary blob holding many records parses to one row per
        record — the shape the roundtrip query exercises."""
        df = spark.createDataFrame(
            [(i, f"https://d/{i}", "2024-01-01 00:00:00", f"<p>{i}</p>".encode())
             for i in range(7)],
            "i long, url string, warc_ts string, html binary",
        ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp_ntz"))
        blob = df.select(
            (F.col("i") % 2).alias("g"),
            warc_record_str(F.col("url"), F.col("warc_ts"), F.col("html")).alias("rec"),
        ).groupBy("g").agg(F.concat_ws("", F.collect_list("rec")).alias("buf"))
        out = parse_warc_column(
            blob.select(F.col("buf").cast("binary").alias("content")), "content"
        )
        assert sorted(r.url for r in out.collect()) == sorted(
            f"https://d/{i}" for i in range(7)
        )


class TestWarcToKg:
    def test_kg_pipeline_from_warc_equals_direct(self, spark, tmp_path):
        """North-star end-to-end: the crawl's WARC files → read_warc →
        build_kg emits the IDENTICAL changelog as feeding the pages
        frame directly — the container layer is lossless for the
        pipeline (text is re-extracted from html either way, so only
        (url, warc_ts, html) must survive)."""
        from rdf_diff_store_spark.pipeline.kg import build_kg
        from rdf_diff_store_spark.sources.pages import generate_pages

        pages = generate_pages(spark, n_urls=30, n_crawls=2)
        recs = pages.select(
            warc_record_str(
                F.col("url"),
                F.col("warc_ts").cast("timestamp_ntz"),
                F.col("html"),
                F.col("lang"),  # WARC-Identified-Content-Language
            ).alias("rec")
        ).collect()
        write_warc_file([r.rec for r in recs], str(tmp_path / "crawl.warc.gz"))
        from_warc = read_warc(spark, str(tmp_path)).select(
            "url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "html", "lang"
        )
        direct, _ = build_kg(spark, pages.select("url", "warc_ts", "html", "lang"))
        via_warc, _ = build_kg(spark, from_warc)
        cols = [c for c in direct.columns]
        a = {tuple(r) for r in direct.select(cols).collect()}
        b = {tuple(r) for r in via_warc.select(cols).collect()}
        assert a == b and len(a) > 0


class TestLinkExtraction:
    def test_extract_links_quoting_and_url_host(self, spark):
        from rdf_diff_store_spark.functions.text import extract_links, url_host

        html = (
            '<a href="https://A.example/x">1</a>'
            "<a class='z' href='http://b.example:8080/y?q=1#f'>2</a>"
            '<img src="https://c.example/i.png"/>'
            '<a href="/relative">3</a>'
        )
        df = spark.createDataFrame([(html.encode(),)], "html binary")
        row = df.select(
            extract_links(F.col("html")).alias("links")
        ).first()
        assert sorted(row.links) == [
            "/relative",
            "http://b.example:8080/y?q=1#f",
            "https://A.example/x",
        ]
        hosts = df.select(
            F.transform(
                extract_links(F.col("html")), lambda u: url_host(u)
            ).alias("h")
        ).first().h
        assert sorted(hosts) == ["", "a.example", "b.example:8080"]

    def test_img_src_not_extracted_and_empty(self, spark):
        from rdf_diff_store_spark.functions.text import extract_links

        df = spark.createDataFrame(
            [(b"<p>no links</p>",), (b"",)], "html binary"
        )
        rows = df.select(extract_links(F.col("html")).alias("l")).collect()
        assert rows[0].l == [] and rows[1].l == []


def test_fractional_warc_date_parses():
    """WARC 1.1 fractional-second dates (real crawls emit them)."""
    http = b"HTTP/1.1 200 OK\r\n\r\nx"
    rec = (
        b"WARC/1.1\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n"
        b"WARC-Date: 2024-01-01T00:00:01.250000Z\r\nContent-Length: "
        + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n"
    )
    got = list(parse_warc_bytes(rec))
    assert got[0]["warc_ts"].microsecond == 250000
