"""CDX(J) index ingestion: the step a real Common-Crawl pipeline runs
BEFORE touching any WARC byte - the CDX index (one line per capture:
``<urlkey> <timestamp> <json>``) is scanned to pick WHICH captures to
fetch, so a 100-TB crawl read starts as a cheap text-index query that
prunes the fetch list by status/mime/dedup instead of streaming
petabytes of archive.

Shapes: parsing is pure per-line codegen (split + get_json_object - no
Python); capture selection is one window per urlkey (latest capture
wins) plus one content-digest dedup window - the same two
single-Exchange shapes as dedup_keep. Bad lines route to a telemetry
frame instead of vanishing (the WARC/JSONL corrupt-record discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CDX_FIELDS = ("url", "status", "mime", "digest", "length", "filename",
              "offset")


def parse_cdx(lines: DataFrame):
    """lines(line) -> (good, bad). ``good`` = (urlkey, capture_ts,
    url, status, mime, digest, length, filename, offset); ``bad`` =
    raw lines that don't match ``urlkey timestamp {json}`` or whose
    json lacks a url. All columns stay strings except capture_ts /
    length / offset (long) - CDX writes everything as json strings."""
    l = F.col("line")
    parsed = lines.select(
        l.alias("raw"),
        F.regexp_extract(l, r"^(\S+) (\d{14}) (\{.*\})$", 1)
        .alias("urlkey"),
        F.regexp_extract(l, r"^(\S+) (\d{14}) (\{.*\})$", 2)
        .alias("ts_s"),
        F.regexp_extract(l, r"^(\S+) (\d{14}) (\{.*\})$", 3)
        .alias("js"))
    cols = {f: F.get_json_object(F.col("js"), f"$.{f}") for f in CDX_FIELDS}
    full = parsed.select(
        "raw", "urlkey",
        F.col("ts_s").cast("long").alias("capture_ts"),
        cols["url"].alias("url"), cols["status"].alias("status"),
        cols["mime"].alias("mime"), cols["digest"].alias("digest"),
        cols["length"].cast("long").alias("length"),
        cols["filename"].alias("filename"),
        cols["offset"].cast("long").alias("offset"))
    ok = (F.col("urlkey") != "") & F.col("url").isNotNull()
    good = full.filter(ok).drop("raw")
    bad = full.filter(~ok).select(F.col("raw").alias("raw_line"))
    return good, bad


def select_captures(cdx: DataFrame) -> DataFrame:
    """Fetch-list selection over parsed CDX rows: keep the LATEST
    capture per urlkey (ties: max offset - a re-crawl appended later in
    the same second wins), restricted to status 200 text/html, then drop
    exact content duplicates by digest (lowest urlkey keeps - the
    CC-Net-style index-level dedup that avoids fetching identical
    bodies twice). -> input columns + is_canonical (False = digest
    duplicate of a kept row).

    Two windows, each a single hash Exchange on a bounded key (urlkey,
    digest); filters push into the scan before either."""
    wanted = cdx.filter((F.col("status") == "200")
                        & (F.col("mime") == "text/html"))
    per_url = Window.partitionBy("urlkey").orderBy(
        F.col("capture_ts").desc(), F.col("offset").desc())
    latest = (wanted
              .withColumn("_rn", F.row_number().over(per_url))
              .filter(F.col("_rn") == 1).drop("_rn"))
    per_digest = Window.partitionBy("digest")
    return (latest
            .withColumn("is_canonical",
                        F.col("urlkey") == F.min("urlkey").over(per_digest)))
