"""WARC source (sources/warc): synthetic WARC files — plain and
multi-member gzip — through the Spark binaryFile + Arrow parse, plus
composition into the HTML extraction lane."""

from __future__ import annotations

import gzip

from market_insights_app_spark.sources.warc import parse_warc_bytes, read_warc

_HTML = (b"<html><body><p>A real paragraph of article text that is "
         b"long enough to survive extraction thresholds.</p></body></html>")


def _record(rtype: str, uri: str, body: bytes, ctype: str) -> bytes:
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: 2026-08-15T00:00:00Z\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return head + body + b"\r\n\r\n"


def _http_response(body: bytes, status: int = 200) -> bytes:
    return (
        f"HTTP/1.1 {status} OK\r\nContent-Type: text/html; "
        f"charset=utf-8\r\nContent-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _warc_bytes() -> bytes:
    return (
        _record("warcinfo", "", b"software: test\r\n",
                "application/warc-fields")
        + _record("request", "http://ex.com/a",
                  b"GET /a HTTP/1.1\r\nHost: ex.com\r\n\r\n",
                  "application/http; msgtype=request")
        + _record("response", "http://ex.com/a", _http_response(_HTML),
                  "application/http; msgtype=response")
        + _record("response", "http://ex.com/404",
                  _http_response(b"gone", 404),
                  "application/http; msgtype=response")
        + _record("resource", "http://ex.com/r.txt", b"raw resource",
                  "text/plain")
    )


def test_parse_warc_bytes_pure():
    recs = parse_warc_bytes(_warc_bytes(), "f")
    assert [r["record_type"] for r in recs] == [
        "warcinfo", "request", "response", "response", "resource"]
    ok = recs[2]
    assert ok["target_uri"] == "http://ex.com/a"
    assert ok["http_status"] == 200
    assert ok["payload"] == _HTML
    assert ok["content_type"].startswith("text/html")
    assert recs[3]["http_status"] == 404
    assert recs[4]["http_status"] is None
    assert recs[4]["payload"] == b"raw resource"


def test_parse_warc_gzip_members_and_truncation():
    # Common Crawl layout: one gzip member per record
    plain = _warc_bytes()
    recs_plain = parse_warc_bytes(plain)
    # per-record member stream rebuilt from individual records
    parts = []
    for rec in (
        _record("warcinfo", "", b"software: test\r\n",
                "application/warc-fields"),
        _record("response", "http://ex.com/a", _http_response(_HTML),
                "application/http; msgtype=response"),
    ):
        parts.append(gzip.compress(rec))
    recs = parse_warc_bytes(b"".join(parts))
    assert [r["record_type"] for r in recs] == ["warcinfo", "response"]
    assert recs[1]["payload"] == _HTML
    # truncated tail loses only the trailing record
    cut = plain[: len(plain) - len(_record(
        "resource", "http://ex.com/r.txt", b"raw resource", "text/plain"))
        - 2]
    assert len(parse_warc_bytes(cut + b"WARC/garbage")) >= 3
    assert len(recs_plain) == 5


def test_parse_warc_short_body_drops_the_record():
    """A record whose body is shorter than its Content-Length (a crawl
    cut mid-record) is dropped, never emitted as half a page with
    status 200 — in the plain form and as a truncated gzip member,
    which decompresses to the same short body.  A negative
    Content-Length is dropped the same way."""
    info = _record("warcinfo", "", b"software: test\r\n",
                   "application/warc-fields")
    resp = _record("response", "http://ex.com/a", _http_response(_HTML),
                   "application/http; msgtype=response")
    cut = resp[:-40]  # 4 trailing CRLF bytes + 36 bytes of the body
    assert [r["record_type"] for r in parse_warc_bytes(info + cut)] == [
        "warcinfo"]
    gz = gzip.compress(info) + gzip.compress(resp)[:-30]
    assert [r["record_type"] for r in parse_warc_bytes(gz)] == ["warcinfo"]
    # the complete forms still parse both records
    assert len(parse_warc_bytes(info + resp)) == 2
    assert len(parse_warc_bytes(gzip.compress(info) + gzip.compress(resp))) == 2
    neg = resp.replace(
        f"Content-Length: {len(_http_response(_HTML))}".encode(),
        b"Content-Length: -5",
    )
    assert [r["record_type"] for r in parse_warc_bytes(info + neg)] == [
        "warcinfo"]


def test_parse_warc_corrupt_gzip_member_contained():
    """A corrupt (not merely truncated) gzip member must lose only the
    records from that member on — never raise out of the task."""
    good = gzip.compress(_record(
        "response", "http://ex.com/a", _http_response(_HTML),
        "application/http; msgtype=response"))
    tail = gzip.compress(_record(
        "resource", "http://ex.com/r.txt", b"raw resource", "text/plain"))
    # flip bytes inside the second member's deflate stream AND its CRC
    bad = bytearray(tail)
    for i in range(12, min(len(bad) - 4, 40)):
        bad[i] ^= 0xFF
    recs = parse_warc_bytes(good + bytes(bad) + good)
    assert [r["record_type"] for r in recs] == ["response"]
    assert recs[0]["payload"] == _HTML
    # corrupt FIRST member: zero records, still no exception
    assert parse_warc_bytes(bytes(bad) + good) == []


def test_read_warc_spark_and_compose(spark, tmp_path):
    (tmp_path / "a.warc").write_bytes(_warc_bytes())
    (tmp_path / "b.warc.gz").write_bytes(gzip.compress(_warc_bytes()))
    df = read_warc(spark, str(tmp_path / "*.warc*"))
    rows = df.collect()
    # responses only, from both files
    assert len(rows) == 4 and {r.record_type for r in rows} == {"response"}
    ok = [r for r in rows if r.http_status == 200]
    assert len(ok) == 2 and all(bytes(r.payload) == _HTML for r in ok)
    # compose: WARC -> html extraction -> text
    from pyspark.sql import functions as F

    from market_insights_app_spark.functions.html import extract_main_text

    pages = (
        df.filter((F.col("http_status") == 200)
                  & F.col("content_type").startswith("text/html"))
        .select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.col("payload").cast("string").alias("html"),
        )
    )
    out = extract_main_text(pages).collect()
    assert len(out) == 2
    assert all("real paragraph" in r.text for r in out)


def test_read_warc_keep_all_types(spark, tmp_path):
    (tmp_path / "a.warc").write_bytes(_warc_bytes())
    df = read_warc(spark, str(tmp_path / "a.warc"), record_types=())
    assert df.count() == 5
