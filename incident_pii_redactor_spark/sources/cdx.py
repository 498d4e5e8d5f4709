"""Common-Crawl CDXJ index ingestion + pre-fetch selection.

A crawl snapshot ships a ~200 GB CDX(J) index alongside its WARCs: one
text line per capture, ``<searchable-url> <timestamp14> <json>``, where
the JSON carries the original url, the SHA-1 content digest, mime,
HTTP status, and the (filename, offset, length) of the capture's WARC
record. Production pipelines select on the INDEX first — status/mime/
URL-shape filters and cross-snapshot digest dedup run over cheap text
lines, and only the surviving records' WARC byte ranges are fetched.
That ordering is the single biggest cost lever at crawl scale (drop
30-50% of captures before touching a single WARC byte), so this module
implements it as first-class engine surface.

Scale notes: unlike WARC (unsplittable, one task per file —
``sources/warc.py``), a CDX shard is plain text: uncompressed it
splits on newlines into ``maxPartitionBytes`` tasks for free, gzipped
it parallelizes per-file across the snapshot's 300 shards. Parsing is
pure Catalyst (``split`` + ``from_json`` + ``to_timestamp``) — no
Python in the hot path; filters and the digest dedup are plain
DataFrame ops that AQE plans (the digest key is a SHA-1: uniform, no
skew)."""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# JSON payload schema (public CDXJ fields; extras are ignored)
CDXJ_JSON_SCHEMA = ("url string, digest string, mime string, "
                    "status string, filename string, offset string, "
                    "length string")


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDXJ text shards -> typed capture table. Lines that don't parse
    (corrupt JSON, short lines) land with NULL url and are dropped —
    at crawl scale some index lines WILL be garbage and one bad line
    must not kill a 300-shard scan."""
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), " ", 3)
    j = F.from_json(parts.getItem(2), CDXJ_JSON_SCHEMA)
    # try_* everywhere: Spark 4 ANSI is ON in this engine's sessions, so
    # a plain to_timestamp/cast would ABORT the whole 300-shard scan on
    # one malformed timestamp or a classic '-' status (revisit records)
    # — exactly what this reader promises not to do (review round 5)
    out = lines.select(
        j.getField("url").alias("url"),
        F.try_to_timestamp(
            parts.getItem(1), F.lit("yyyyMMddHHmmss")).alias("warc_ts"),
        j.getField("digest").alias("digest"),
        j.getField("mime").alias("mime"),
        j.getField("status").try_cast("int").alias("status"),
        j.getField("filename").alias("warc_file"),
        j.getField("offset").try_cast("bigint").alias("warc_offset"),
        j.getField("length").try_cast("bigint").alias("warc_length"),
    )
    return out.filter(F.col("url").isNotNull())


def cdx_prefetch_select(cdx: DataFrame,
                        mimes: tuple = ("text/html",),
                        drop_junk_urls: bool = True) -> DataFrame:
    """The pre-fetch selection a Common-Crawl pipeline runs on the
    index BEFORE any WARC byte is read:

    1. keep successful captures (status 200) of wanted mimes;
    2. drop junk URL shapes (``functions/text.url_is_junk`` — admin,
       cart, search/tag indexes, feeds, assets);
    3. exact-content dedup by SHA-1 digest, keeping the EARLIEST
       capture (min (warc_ts, url) — total order, so re-crawls of
       byte-identical pages fetch once).

    Returns one row per surviving capture with its WARC byte range —
    the fetch work-list. One shuffle (the digest groupBy; uniform
    SHA-1 keys, map-side combined)."""
    from incident_pii_redactor_spark.functions.text import url_is_junk

    kept = cdx.filter((F.col("status") == 200)
                      & F.col("mime").isin(*mimes)
                      & F.col("digest").isNotNull())
    if drop_junk_urls:
        kept = kept.filter(~url_is_junk(F.col("url")))
    # earliest capture per digest via min_by on the (ts, url) struct:
    # ONE map-side-combined aggregate, no window over a hot key
    winner = F.struct("warc_ts", "url", "mime", "status",
                      "warc_file", "warc_offset", "warc_length")
    first = (kept.groupBy("digest")
             .agg(F.min_by(winner, F.struct("warc_ts", "url"))
                  .alias("w")))
    return first.select(
        F.col("w.url").alias("url"),
        F.col("w.warc_ts").alias("warc_ts"),
        "digest",
        F.col("w.mime").alias("mime"),
        F.col("w.status").alias("status"),
        F.col("w.warc_file").alias("warc_file"),
        F.col("w.warc_offset").alias("warc_offset"),
        F.col("w.warc_length").alias("warc_length"),
    )


def write_cdxj(path: str, rows: "list[dict] | pd.DataFrame") -> str:
    """Deterministic CDXJ writer (tests/examples — BASELINE.json: no
    external data). ``rows`` need (url, warc_ts, digest, mime, status,
    warc_file, warc_offset, warc_length)."""
    if isinstance(rows, pd.DataFrame):
        rows = rows.to_dict("records")
    with open(path, "w") as f:
        for r in rows:
            ts = pd.Timestamp(r["warc_ts"]).strftime("%Y%m%d%H%M%S")
            surt = _searchable(r["url"])
            payload = {
                "url": r["url"], "digest": r["digest"],
                "mime": r["mime"], "status": str(r["status"]),
                "filename": r["warc_file"],
                "offset": str(r["warc_offset"]),
                "length": str(r["warc_length"]),
            }
            f.write(f"{surt} {ts} {json.dumps(payload, sort_keys=True)}\n")
    return path


def _searchable(url: str) -> str:
    """SURT-ish searchable key (host reversed, scheme dropped) — the
    CDX sort key. The reader never relies on it (the JSON carries the
    original url); emitted for format fidelity."""
    rest = url.split("://", 1)[-1]
    host, _, path = rest.partition("/")
    host = host.split("@")[-1].split(":")[0]
    return ",".join(reversed(host.split("."))) + ")/" + path
