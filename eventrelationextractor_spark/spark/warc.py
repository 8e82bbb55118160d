"""WARC ingestion source: Common-Crawl archives -> the pages schema
(url, warc_ts, html, ...) that every downstream operator consumes
(BASELINE.json input_hint). Closes the crawl story end to end:
WARC file -> response records -> html binary -> ops.htmltext.html_to_text
-> extraction.

Format (ISO 28500, the subset Common Crawl emits): a WARC file is a
concatenation of records, each

    WARC/1.0\r\n
    <Name>: <value>\r\n ...          (WARC headers)
    \r\n
    <Content-Length bytes of block>
    \r\n\r\n                         (record separator)

For ``WARC-Type: response`` the block is an HTTP response; the page
payload starts after the HTTP header terminator ``\\r\\n\\r\\n``.
warcinfo/request/metadata records are skipped. Parsing is driven by
Content-Length (never by scanning for the next magic, which can occur
inside payloads).

Distributed shape: ``spark.read.format('binaryFile')`` -> one Arrow
``mapInPandas`` pass splitting records per file. Spark does not split
binary files, so the parallel unit is the WARC file - exactly how
Common Crawl ships (~1 GB segment files, tens of thousands per crawl),
and the standard shape of every WARC processing stack. gzip members
(.warc.gz per-record compression) are NOT handled here - decompression
needs the per-record gzip-member framing; point the reader at
uncompressed segments or decompress upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _iter_records(data: bytes):
    """Yield (fields_lowercased, block_bytes) per WARC record - the
    Content-Length-driven framing shared by .warc (response records)
    and .wet (conversion records)."""
    pos = 0
    n = len(data)
    while pos < n:
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            break
        head = data[pos:head_end].decode("utf-8", "replace")
        lines = head.split("\r\n")
        if not lines or not lines[0].startswith("WARC/"):
            break
        fields = {}
        for ln in lines[1:]:
            if ":" in ln:
                k, v = ln.split(":", 1)
                fields[k.strip().lower()] = v.strip()
        try:
            length = int(fields.get("content-length", "0"))
        except ValueError:
            length = 0
        block = data[head_end + 4:head_end + 4 + length]
        pos = head_end + 4 + length
        # consume the record separator (tolerate a missing trailing one)
        while data[pos:pos + 2] == b"\r\n":
            pos += 2
        yield fields, block


def parse_warc_bytes(data: bytes):
    """Yield (url, warc_date_iso, payload_bytes) per response record.
    Pure function of the file bytes (testable without Spark)."""
    for fields, block in _iter_records(data):
        if fields.get("warc-type") == "response":
            url = fields.get("warc-target-uri", "")
            ts = fields.get("warc-date", "")
            http_end = block.find(b"\r\n\r\n")
            payload = block[http_end + 4:] if http_end >= 0 else block
            yield url, ts, payload


def parse_wet_bytes(data: bytes):
    """Yield (url, warc_date_iso, text) per ``WARC-Type: conversion``
    record - the WET (text-extract) sibling of ``parse_warc_bytes``.
    WET blocks are plain UTF-8 text with NO HTTP envelope (Common
    Crawl's wet.paths segments), so the block is the payload."""
    for fields, block in _iter_records(data):
        if fields.get("warc-type") == "conversion":
            yield (fields.get("warc-target-uri", ""),
                   fields.get("warc-date", ""),
                   block.decode("utf-8", "replace"))


def _read_records(spark: SparkSession, path: str, parse,
                  payload: str) -> DataFrame:
    """-> (url string, warc_ts timestamp, <payload>) from the files at
    ``path`` (glob ok): one ``mapInPandas`` pass over ``binaryFile``
    rows, ``parse(file_bytes)`` yielding (url, warc_date_iso, payload)
    per record. ``payload`` is the DDL of the third column."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")
    name = payload.split(" ")[0]

    def gen(batches):
        for pdf in batches:
            for content in pdf["content"]:
                rows = list(parse(bytes(content)))
                if rows:
                    yield pd.DataFrame(
                        {"url": [r[0] for r in rows],
                         "warc_ts": pd.to_datetime(
                             [r[1] for r in rows], utc=True, format="ISO8601"
                         ).tz_localize(None),
                         name: [r[2] for r in rows]})

    return files.mapInPandas(
        gen, f"url string, warc_ts timestamp, {payload}")


def _record(rtype: str, headers: dict, block: bytes) -> bytes:
    """One WARC record as ``_iter_records`` frames it: version line,
    headers, Content-Length, block, record separator."""
    h = [b"WARC/1.0", f"WARC-Type: {rtype}".encode()]
    for k, v in headers.items():
        h.append(f"{k}: {v}".encode())
    h.append(b"Content-Length: " + str(len(block)).encode())
    return b"\r\n".join(h) + b"\r\n\r\n" + block + b"\r\n\r\n"


_WARCINFO = b"software: eventrelationextractor_spark test\r\n"


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """-> (url string, warc_ts timestamp, html binary) from the WARC
    file(s) at ``path`` (glob ok)."""
    return _read_records(spark, path, parse_warc_bytes, "html binary")


def write_warc_bytes(pages) -> bytes:
    """Serialize (url, warc_ts_iso, html_bytes) rows into a minimal WARC
    file (warcinfo record + one response record per page) - the test
    fixture generator, NOT a production sink."""
    out = [_record("warcinfo", {"WARC-Filename": "test.warc"}, _WARCINFO)]
    for url, ts, html in pages:
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + html)
        out.append(_record("response",
                           {"WARC-Target-URI": url, "WARC-Date": ts},
                           http))
    return b"".join(out)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """-> (url string, warc_ts timestamp, text string) from the WET
    file(s) at ``path`` (glob ok). Same distributed shape as
    ``read_warc``: Spark does not split binary files, so the parallel
    unit is the WET segment file - exactly how Common Crawl ships them
    (one ~150 MB WET per WARC, tens of thousands per crawl). WET skips
    the html->text stage entirely: the conversion block IS the page
    text, so this source feeds the text operators (quality, dedup,
    lang-id) directly."""
    return _read_records(spark, path, parse_wet_bytes, "text string")


def write_wet_bytes(pages) -> bytes:
    """Serialize (url, warc_ts_iso, text) rows into a minimal WET file
    (warcinfo + one conversion record per page) - the test fixture
    generator, NOT a production sink."""
    out = [_record("warcinfo", {"WARC-Filename": "test.warc.wet"},
                   _WARCINFO)]
    for url, ts, text in pages:
        out.append(_record("conversion",
                           {"WARC-Target-URI": url, "WARC-Date": ts,
                            "Content-Type": "text/plain"},
                           text.encode("utf-8")))
    return b"".join(out)
