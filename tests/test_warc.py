"""WARC source (sources/warc.py): record splitting honors
Content-Length (not delimiter search), responses split their HTTP
envelope, the writer/parser round-trip is identity, and WARC-derived
pages feed the extract pipeline byte-identically to the native pages
table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_scrapper_spark.sources import synthetic_web as sw
from go_scrapper_spark.sources import warc as w


def test_split_records_content_length_governs():
    body = b"<html>a\r\n\r\nblank line inside</html>"
    blob = w.build_warc([
        {
            "headers": {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://h/x",
                "WARC-Date": "2024-01-01T00:00:00Z",
                "WARC-Record-ID": "<urn:1>",
            },
            "payload": w.http_response(body),
        },
        {
            "headers": {"WARC-Type": "request",
                        "WARC-Target-URI": "https://h/x"},
            "payload": b"GET /x HTTP/1.1\r\n\r\n",
        },
    ])
    recs = w.split_warc_records(blob)
    assert len(recs) == 2  # the in-body blank line must NOT split
    assert recs[0]["warc_type"] == "response"
    assert recs[0]["http_status"] == 200
    assert recs[0]["http_content_type"] == "text/html"
    assert recs[0]["body"] == body
    assert recs[1]["warc_type"] == "request"
    # no HTTP envelope on non-response records: payload IS the body
    assert recs[1]["body"] == b"GET /x HTTP/1.1\r\n\r\n"


def test_roundtrip_identity():
    specs = [
        (f"https://h/{i}", f"<urn:{i}>", f"<html>page {i}</html>".encode())
        for i in range(5)
    ]
    blob = w.build_warc([
        {
            "headers": {
                "WARC-Type": "response",
                "WARC-Target-URI": uri,
                "WARC-Date": "2024-01-01T00:00:00Z",
                "WARC-Record-ID": rid,
            },
            "payload": w.http_response(body),
        }
        for uri, rid, body in specs
    ])
    recs = w.split_warc_records(blob)
    assert [(r["target_uri"], r["record_id"], r["body"]) for r in recs] == specs


def test_warc_to_pages_feeds_extract_identically(spark):
    """Pages loaded through WARC must drive the extraction pipeline to
    the exact same rows as the native pages table — WARC is a drop-in
    input format for the engine."""
    from go_scrapper_spark.functions.extract import extract_pages

    cfg = sw.WebConfig(n_biz=3)
    native_rows = []
    warc_records = []
    for biz in range(cfg.n_biz):
        for url, ts, body, _t, _l in sw.pages_for_biz(cfg, biz):
            native_rows.append((url, bytearray(body)))
            warc_records.append({
                "headers": {
                    "WARC-Type": "response",
                    "WARC-Target-URI": url,
                    "WARC-Date": "2024-01-01T00:00:00Z",
                    "WARC-Record-ID": f"<urn:{len(warc_records)}>",
                },
                "payload": w.http_response(body),
            })
    # two WARC files, records split across them
    half = len(warc_records) // 2
    files = spark.createDataFrame(
        [(0, bytearray(w.build_warc(warc_records[:half]))),
         (1, bytearray(w.build_warc(warc_records[half:])))],
        "file_id long, warc binary",
    )
    pages = w.warc_to_pages(files)
    assert pages.filter(F.col("warc_ts").isNull()).count() == 0

    def extract_rows(pages_df):
        fetched = pages_df.select(
            "url", "html", F.lit(0).alias("depth"),
            F.lit(0).cast("long").alias("seq"), F.lit(0).alias("fpo"),
        )
        return sorted(
            (r["url"], r["kind"], r["text"] or "", r["review_hash"] or "")
            for r in extract_pages(fetched).collect()
        )

    native = spark.createDataFrame(native_rows, "url string, html binary")
    assert extract_rows(pages) == extract_rows(native)


def _rec(uri: str, body: bytes = b"<html>x</html>", status: int = 200) -> dict:
    return {
        "headers": {
            "WARC-Type": "response",
            "WARC-Target-URI": uri,
            "WARC-Date": "2024-01-01T00:00:00Z",
        },
        "payload": w.http_response(body, status=status),
    }


def test_malformed_content_length_drops_tail_not_job():
    """Round-5 ADVICE: a corrupt Content-Length makes the payload
    extent unknowable — the splitter must stop at that record (drop it
    and the unreachable tail) instead of raising ValueError and killing
    the mapInPandas job."""
    good = w.build_warc([_rec("https://a/1")])
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://a/2\r\nContent-Length: banana\r\n\r\n"
        b"junk\r\n\r\n"
    )
    tail = w.build_warc([_rec("https://a/3")])
    recs = w.split_warc_records(good + bad + tail)
    # the good head parses; the corrupt record and its tail are dropped
    assert [r["target_uri"] for r in recs] == ["https://a/1"]


def test_malformed_http_status_nulls_field_keeps_record():
    """A non-numeric HTTP status line nulls http_status (the record
    survives, later records still parse) — one bad origin server in a
    100 TB corpus is a dropped row, not a failed job."""
    bad_status = {
        "headers": {
            "WARC-Type": "response",
            "WARC-Target-URI": "https://a/weird",
            "WARC-Date": "2024-01-01T00:00:00Z",
        },
        "payload": b"HTTP/1.1 TEAPOT nope\r\nContent-Type: text/html\r\n\r\n<x>",
    }
    blob = w.build_warc([bad_status, _rec("https://a/after")])
    recs = w.split_warc_records(blob)
    assert [r["target_uri"] for r in recs] == ["https://a/weird", "https://a/after"]
    assert recs[0]["http_status"] is None
    assert recs[1]["http_status"] == 200


def test_pages_to_warc_roundtrip_distributed(spark):
    """pages → distributed WARC sink → parser → identical pages:
    url, second-precision warc_ts, and every body byte (incl. the
    \r\n\r\n-inside-body hazard and non-ASCII) survive the cycle."""
    rows = [
        (f"https://site{i % 3}.example.com/p/{i}",
         f"2024-03-0{1 + i % 9}T0{i % 10}:0{i % 6}:0{i % 6}",
         (f"<html>π-{i}\r\n\r\ntail</html>").encode())
        for i in range(40)
    ]
    pages = spark.createDataFrame(
        [(u, t, bytearray(b)) for u, t, b in rows],
        "url string, ts string, html binary",
    ).select(
        "url", F.to_timestamp("ts").alias("warc_ts"), "html"
    ).repartition(7)

    files = w.pages_to_warc(pages, n_files=4)
    got = {
        r["url"]: (r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%S"), bytes(r["html"]))
        for r in w.warc_to_pages(files).collect()
    }
    assert len(got) == 40
    for u, t, b in rows:
        assert got[u] == (t, b)


def test_pages_to_warc_deterministic_bytes(spark):
    """Same input (any partitioning) → byte-identical WARC files:
    content-addressed file assignment + in-file url sort + derived
    record IDs leave nothing run-dependent."""
    rows = [(f"https://h/{i}", "2024-01-01T00:00:00",
             f"<html>{i}</html>".encode()) for i in range(20)]

    def build(npart):
        df = spark.createDataFrame(
            [(u, t, bytearray(b)) for u, t, b in rows],
            "url string, ts string, html binary",
        ).select("url", F.to_timestamp("ts").alias("warc_ts"), "html") \
         .repartition(npart)
        return {r["file_id"]: bytes(r["warc"])
                for r in w.pages_to_warc(df, n_files=3).collect()}

    a, b = build(2), build(11)
    assert a == b
    assert len(a) >= 2  # actually spread across files


def test_cdx_index_shape(spark):
    recs = [
        {"headers": {"WARC-Type": "response",
                     "WARC-Target-URI": "https://www.News.Example.org/a/b?q=1",
                     "WARC-Date": "2024-05-06T07:08:09Z",
                     "WARC-Record-ID": "<urn:1>"},
         "payload": w.http_response(b"<html>x</html>")},
        {"headers": {"WARC-Type": "response",
                     "WARC-Target-URI": "https://example.org",
                     "WARC-Date": "2024-05-06T07:08:10Z",
                     "WARC-Record-ID": "<urn:2>"},
         "payload": w.http_response(b"", status=404,
                                    content_type="text/plain; charset=utf-8")},
        {"headers": {"WARC-Type": "request",
                     "WARC-Target-URI": "https://example.org",
                     "WARC-Date": "2024-05-06T07:08:10Z"},
         "payload": b"GET / HTTP/1.1\r\n\r\n"},
    ]
    df = spark.createDataFrame(
        [(0, bytearray(w.build_warc(recs)))], "file_id long, warc binary"
    )
    rows = {r["url"]: r for r in w.cdx_index(w.parse_warc(df)).collect()}
    assert len(rows) == 2  # request records are not captures
    a = rows["https://www.News.Example.org/a/b?q=1"]
    assert a["surt_key"] == "org,example,news)/a/b?q=1"  # www. dropped, host reversed
    assert a["ts14"] == "20240506070809"
    assert a["mime"] == "text/html"
    assert a["status"] == 200
    b = rows["https://example.org"]
    assert b["surt_key"] == "org,example)/"  # empty path → '/'
    assert b["mime"] == "text/plain"  # charset parameter stripped
    assert b["status"] == 404
    import hashlib
    assert b["digest"] == hashlib.md5(b"").hexdigest()


def test_archive_sinks_degrade_on_malformed_rows(spark):
    """A null url (unarchivable) drops; a null warc_ts stamps the
    epoch — one bad row must never abort a 100 TB export."""
    pages = spark.createDataFrame(
        [("https://h/ok", "2024-01-01T00:00:00", bytearray(b"<html>x</html>")),
         (None, "2024-01-01T00:00:00", bytearray(b"<html>dropme</html>")),
         ("https://h/nots", None, bytearray(b"<html>y</html>"))],
        "url string, ts string, html binary",
    ).select("url", F.to_timestamp("ts").alias("warc_ts"), "html")
    back = {r["url"]: r for r in
            w.warc_to_pages(w.pages_to_warc(pages, n_files=2)).collect()}
    assert set(back) == {"https://h/ok", "https://h/nots"}
    assert back["https://h/nots"]["warc_ts"].year == 1970

    wet = w.pages_to_wet(
        pages.select("url", "warc_ts",
                     F.decode("html", "UTF-8").alias("text")), n_files=2)
    got = {r["url"] for r in w.wet_to_docs(wet).collect()}
    assert got == {"https://h/ok", "https://h/nots"}
