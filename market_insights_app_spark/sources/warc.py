"""WARC (Web ARChive, ISO 28500 / WARC/1.x) source — the container
Common Crawl ships, parsed on the stdlib only: this is the front door
of the crawl pipeline (WARC → :mod:`functions.html` extraction →
quality/dedup/tokenization).

Shape: ``spark.read.format("binaryFile")`` lists and reads whole WARC
files (one file = one task — crawl WARCs are ~1 GB, the natural work
unit); an Arrow ``mapInPandas`` pass splits each file into records,
peels HTTP response headers, and emits one row per record.  Both the
plain and the gzipped form (concatenated gzip members, one per record
— the Common Crawl layout) are handled; member boundaries come from
``zlib.decompressobj``'s ``unused_data``, no external libs.

At 100 TB this parallelizes per file; nothing is ever collected and
each task holds one file's bytes — exactly how a distributed WARC
ingest is expected to behave.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_SCHEMA = (
    "warc_file string, record_type string, target_uri string, "
    "warc_date string, content_type string, http_status int, "
    "payload binary"
)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members into one byte stream.

    A corrupt member (bad CRC, garbled deflate stream — not merely a
    truncated tail) keeps the bytes decompressed so far and stops the
    scan, matching the record loop's desync containment: one bad
    member loses the records from that point on, never the whole
    Spark task."""
    import zlib

    out = bytearray()
    rest = data
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(rest)
            out += d.flush()
        except zlib.error:
            break
        rest = d.unused_data
    return bytes(out)


def parse_warc_bytes(data: bytes, warc_file: str = "") -> list[dict]:
    """Split one WARC file's bytes into record dicts (pure function —
    unit-testable without Spark).  Unknown/malformed trailing bytes
    stop the scan rather than raising: a truncated tail loses that
    record only — a record whose body is shorter than its
    Content-Length is dropped, never emitted as a partial document
    (a cut gzip member decompresses to exactly such a short body)."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    records: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not data[pos : pos + 5] == b"WARC/":
            break  # desync: stop scanning, keep what parsed
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        for line in data[pos:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().decode("latin-1").lower()] = (
                v.strip().decode("latin-1")
            )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        body_start = hdr_end + 4
        if length < 0 or body_start + length > n:
            break  # truncated (or nonsensical) body: drop the record
        body = data[body_start : body_start + length]
        pos = body_start + length
        rtype = headers.get("warc-type", "")
        ctype = headers.get("content-type", "")
        status = None
        payload = body
        if ctype.startswith("application/http"):
            # peel the HTTP message: status line + headers, then entity
            he = body.find(b"\r\n\r\n")
            if he >= 0:
                http_head = body[:he].split(b"\r\n")
                payload = body[he + 4 :]
                first = http_head[0].split()
                if len(first) >= 2 and first[0][:5] == b"HTTP/":
                    try:
                        status = int(first[1])
                    except ValueError:
                        status = None
                for line in http_head[1:]:
                    k, _, v = line.partition(b":")
                    if k.strip().lower() == b"content-type":
                        ctype = v.strip().decode("latin-1")
        records.append(
            {
                "warc_file": warc_file,
                "record_type": rtype,
                "target_uri": headers.get("warc-target-uri", ""),
                "warc_date": headers.get("warc-date", ""),
                "content_type": ctype,
                "http_status": status,
                "payload": payload,
            }
        )
    return records


def _record_mapper(keep: tuple[str, ...], parse_counter=None):
    """mapInPandas batch function shared by the batch and streaming
    readers: (path, content) binaryFile rows → one row per record.

    ``parse_counter`` (a Spark accumulator) counts one per FILE
    parsed — the input-split accounting that lets tests pin a
    composition's parse multiplicity (e.g. the single-parse law of
    pipelines/crawl_corpus.warc_to_documents_with_rank).

    Retry caveat (r11 ADVICE): accumulator updates inside
    TRANSFORMATIONS are at-least-once — a retried or speculatively
    re-executed task fires ``add()`` again, so the counter can only
    OVER-report.  It is test instrumentation, exact only where tasks
    run once (the local[32] suite runs with speculation off and
    asserts that premise, tests/test_crawl_pipeline.py); production
    parse-multiplicity accounting should read per-stage input metrics
    (bytes/records read per scan stage in the Spark UI / listener),
    which are retry-deduplicated by the scheduler."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                if parse_counter is not None:
                    parse_counter.add(1)
                for rec in parse_warc_bytes(bytes(blob), warc_file=fpath):
                    if keep and rec["record_type"] not in keep:
                        continue
                    rows.append(rec)
            yield pd.DataFrame(
                rows,
                columns=[
                    "warc_file", "record_type", "target_uri", "warc_date",
                    "content_type", "http_status", "payload",
                ],
            )

    return run


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] = ("response",),
    parse_counter=None,
) -> DataFrame:
    """Read WARC files (plain or .gz) into one row per record.

    Output: (warc_file, record_type, target_uri, warc_date,
    content_type, http_status, payload binary) — for HTTP response
    records the payload is the entity body with the HTTP headers
    peeled, http_status carries the response code, and content_type
    is the HTTP one (the WARC envelope's otherwise).
    ``record_types`` filters early (responses by default — request /
    metadata / warcinfo records are ingest noise for a text corpus);
    pass ``()`` to keep everything."""
    files = spark.read.format("binaryFile").load(path)
    return files.select("path", "content").mapInPandas(
        _record_mapper(tuple(record_types), parse_counter), schema=_SCHEMA
    )


def read_warc_stream(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] = ("response",),
    max_files_per_trigger: int = 1,
    parse_counter=None,
) -> DataFrame:
    """Streaming twin of :func:`read_warc`: the WARC directory as a
    file-stream source (continuous crawl ingestion — new archives
    appear, each micro-batch parses the newly-arrived files; the
    parse itself is the SAME stateless Arrow mapper as the batch
    lane, so stream output == batch output over the same files).
    Drain with availableNow for on-demand catch-up, or a processing-
    time trigger for a live crawl tail."""
    files = (
        spark.readStream.format("binaryFile")
        # streaming file sources demand an explicit schema; binaryFile's
        # is fixed by the format
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )
    return files.select("path", "content").mapInPandas(
        _record_mapper(tuple(record_types), parse_counter), schema=_SCHEMA
    )
