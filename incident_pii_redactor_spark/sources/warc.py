"""WARC / WET ingestion for Common-Crawl-style corpora.

The engine's authoritative input is a table of pages
``(url, warc_ts, html, text, lang)`` — but a real Common-Crawl pass
starts one step earlier, at the crawl's WARC files (reference scope
analogue: the JSONL incident reader in ``sources/incidents.py`` is the
reference's ingestion edge; WARC is the web corpus's). This module
closes that gap with a distributed reader that lands exactly the
``pages`` shape, so everything downstream (``--from-html`` extraction,
quality_scrub, dedup) is unchanged.

Scale model — why per-FILE parallelism is the right unit:
a Common-Crawl snapshot ships ~72k WARC files of ~1 GB each. A WARC
file is NOT splittable: in the CC layout every record is its own gzip
member, back to back, with no record index, so a reader cannot seek to
a mid-file record boundary. Every production CC reader therefore
streams whole files, and so does this one:
``spark.read.format("binaryFile")`` assigns one file per task (the
format never splits files) and record parsing runs in ``mapInPandas``
over the file bytes — Arrow-batched rows out, no per-row Python
round-trips. At 1000 executors that is ~72 task waves per snapshot.

Memory bounds: ``binaryFile`` materializes one file's raw bytes per
task (~1 GB for CC). Parsing walks that buffer one gzip member /
record at a time and yields output in bounded pandas batches, so the
additional working set is one decompressed record, not the
decompressed file. Records whose payload exceeds ``max_record_bytes``
(default 64 MB) are skipped, not inflated — a crafted multi-GB
record cannot OOM an executor.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import zlib
from typing import Iterable, Iterator

import pandas as pd

from incident_pii_redactor_spark.sources.catalog import PAGES_SCHEMA

_GZIP_MAGIC = b"\x1f\x8b"
_CRLF2 = b"\r\n\r\n"

# WARC-Types we land as pages: 'response' carries the raw HTTP capture
# (html:binary), 'conversion' is the WET extracted-text record
# (text:string). Everything else (warcinfo, request, metadata, ...) is
# crawl bookkeeping, not page content.
_PAGE_TYPES = ("response", "conversion")


def _parse_header_block(block: bytes) -> dict:
    """Parse a WARC (or HTTP) header block into a lower-cased dict.
    Continuation lines (leading whitespace) fold into the previous
    value per RFC 822."""
    headers: dict[str, str] = {}
    last = None
    for raw in block.splitlines():
        if not raw:
            continue
        if raw[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + raw.strip().decode("latin-1")
            continue
        if b":" not in raw:
            continue
        k, v = raw.split(b":", 1)
        last = k.strip().decode("latin-1").lower()
        headers[last] = v.strip().decode("latin-1")
    return headers


_DISCARD_CHUNK = 1 << 20


def _stream_records(fh, max_record_bytes: int
                    ) -> Iterator[tuple[dict, bytes]]:
    """Walk a decompressed WARC byte stream record by record: header
    block (lines to the first blank line), ``Content-Length`` payload
    bytes, CRLF CRLF separator, repeat. Memory is bounded by ONE
    record's payload; oversized payloads are discarded in 1 MB chunks
    without ever materializing (the zip-bomb guard)."""
    while True:
        # sync to the next record's version line
        line = fh.readline()
        if not line:
            return
        if not line.startswith(b"WARC/"):
            continue
        hdr = bytearray()
        while True:
            line = fh.readline()
            if not line:
                return  # truncated header: stream over
            if line in (b"\r\n", b"\n"):
                break
            hdr += line
        headers = _parse_header_block(bytes(hdr))
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            return  # cannot locate the payload end: stop cleanly
        if clen < 0:
            # crafted negative length would turn fh.read(clen) into a
            # read-to-EOF, bypassing the bomb guard (review round 5)
            return
        if clen > max_record_bytes:
            left = clen
            while left > 0:
                got = fh.read(min(left, _DISCARD_CHUNK))
                if not got:
                    return
                left -= len(got)
            continue
        payload = fh.read(clen)
        if len(payload) < clen:
            return  # truncated payload
        yield headers, payload


def parse_warc_records(data: bytes,
                       max_record_bytes: int = 64 * 1024 * 1024,
                       ) -> Iterator[tuple[dict, bytes]]:
    """Yield ``(warc_headers, payload_bytes)`` per record from raw WARC
    file bytes — plain or gzipped (auto-detected; ``gzip.GzipFile``
    reads the CC one-member-per-record concatenation transparently and
    decompresses incrementally, so the working set stays one record
    regardless of file size). Pure function (no Spark) so it is
    unit-testable and reusable by single-node oracle tooling. Corrupt
    trailing bytes end the stream cleanly instead of raising — a web
    crawl always contains a few truncated files."""
    if data[:2] == _GZIP_MAGIC:
        fh = gzip.GzipFile(fileobj=io.BytesIO(data))
    else:
        fh = io.BytesIO(data)
    gen = _stream_records(fh, max_record_bytes)
    while True:
        try:
            item = next(gen)
        except StopIteration:
            return
        except (OSError, EOFError, zlib.error):
            return  # mid-stream corruption: keep what parsed so far
        yield item


def _http_body(payload: bytes) -> bytes:
    """Strip the HTTP response header block from a WARC response
    payload. Tolerates bare-LF header separators (seen in old crawls)."""
    if not payload.startswith(b"HTTP/"):
        return payload
    end = payload.find(_CRLF2)
    end_lf = payload.find(b"\n\n")
    if end < 0 or (0 <= end_lf < end):
        if end_lf >= 0:
            return payload[end_lf + 2:]
        return b""
    return payload[end + 4:]


def _warc_date_to_ts(value: str):
    """WARC-Date (ISO-8601, UTC 'Z') -> pandas UTC Timestamp, NaT when
    malformed."""
    ts = pd.to_datetime(value, utc=True, errors="coerce", format="ISO8601")
    return ts


def records_to_page_rows(data: bytes,
                         max_record_bytes: int = 64 * 1024 * 1024,
                         ) -> Iterator[dict]:
    """Raw WARC bytes -> dict rows in the ``pages`` shape. 'response'
    records land html (text NULL — ``extract_text`` fills it
    downstream); 'conversion' (WET) records land text (html NULL).
    ``lang`` comes from WET's ``WARC-Identified-Content-Language``
    (first tag) when present, else NULL."""
    for headers, payload in parse_warc_records(data, max_record_bytes):
        rtype = headers.get("warc-type", "")
        if rtype not in _PAGE_TYPES:
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        ts = _warc_date_to_ts(headers.get("warc-date", ""))
        lang = headers.get("warc-identified-content-language")
        if lang:
            lang = lang.split(",")[0].strip() or None
        if rtype == "response":
            yield {"url": url, "warc_ts": ts,
                   "html": _http_body(payload), "text": None, "lang": lang}
        else:
            yield {"url": url, "warc_ts": ts, "html": None,
                   "text": payload.decode("utf-8", errors="replace"),
                   "lang": lang}


def read_warc(spark, path, max_record_bytes: int = 64 * 1024 * 1024,
              batch_rows: int = 1024):
    """Distributed WARC/WET -> pages DataFrame.

    ``path`` accepts the same globs as ``binaryFile`` (e.g.
    ``s3://commoncrawl/.../segments/*/warc/*.warc.gz``). One task per
    file (WARC files are unsplittable — module docstring); output rows
    stream out in ``batch_rows``-sized Arrow batches so a million-record
    file never materializes as one pandas frame.
    """
    from pyspark.sql import functions as F

    files = (spark.read.format("binaryFile").load(path)
             .select("path", "content"))

    cols = ["url", "warc_ts", "html", "text", "lang"]

    def parse(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                rows = []
                for row in records_to_page_rows(bytes(blob),
                                                max_record_bytes):
                    rows.append(row)
                    if len(rows) >= batch_rows:
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    out = files.mapInPandas(parse, PAGES_SCHEMA)
    # binaryFile emits no row for an empty glob only at action time;
    # keep the column order contract explicit regardless
    return out.select("url", F.col("warc_ts"), "html", "text", "lang")


def read_warc_selected(spark, warc_dir: str, worklist,
                       max_record_bytes: int = 64 * 1024 * 1024):
    """Selective WARC fetch driven by a CDX pre-fetch work-list
    (``sources/cdx.py:cdx_prefetch_select``): reads ONLY the byte
    ranges of surviving captures instead of streaming whole files —
    the scale move that makes index-first selection pay off (the
    work-list is typically 50-70% of captures and ranges are seeked,
    not scanned).

    ``worklist`` needs (warc_file, warc_offset, warc_length). Ranges
    are grouped per file (one shuffle on the file name — one task per
    WARC file, mirroring the full reader's parallelism unit), each
    task opens its file once and ``seek()``s each range — on object
    stores this maps to ranged GETs. Each range holds one (usually
    gzipped) WARC record; parsing reuses the streaming parser."""
    from pyspark.sql import functions as F

    grouped = (worklist
               .select("warc_file", "warc_offset", "warc_length")
               .groupBy("warc_file")
               .agg(F.sort_array(F.collect_list(
                   F.struct("warc_offset", "warc_length"))).alias("ranges")))

    cols = ["url", "warc_ts", "html", "text", "lang"]

    def fetch(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        for pdf in batches:
            for fname, ranges in zip(pdf["warc_file"], pdf["ranges"]):
                fpath = os.path.join(warc_dir, fname)
                rows = []
                with open(fpath, "rb") as fh:
                    for r in ranges:
                        off = r["warc_offset"]
                        ln = r["warc_length"]
                        if ln <= 0 or ln > max_record_bytes:
                            continue
                        fh.seek(off)
                        rows.extend(records_to_page_rows(
                            fh.read(ln), max_record_bytes))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return grouped.mapInPandas(fetch, PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# Deterministic writer (tests / examples / round-trip evidence). A real
# deployment reads crawler-produced WARCs; this writer exists so the
# reader can be verified byte-for-byte against a known corpus with no
# external data (BASELINE.json: synthesise deterministically).
# ---------------------------------------------------------------------------

def _record_id(url: str, ts: str) -> str:
    h = hashlib.md5(f"{url}|{ts}".encode()).hexdigest()
    return (f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-"
            f"{h[20:32]}>")


def _warc_record(rtype: str, url: str, ts: str, payload: bytes,
                 extra: tuple[tuple[str, str], ...] = ()) -> bytes:
    lines = [b"WARC/1.0",
             f"WARC-Type: {rtype}".encode(),
             f"WARC-Target-URI: {url}".encode(),
             f"WARC-Date: {ts}".encode(),
             f"WARC-Record-ID: {_record_id(url, ts)}".encode()]
    for k, v in extra:
        lines.append(f"{k}: {v}".encode())
    lines.append(f"Content-Length: {len(payload)}".encode())
    return b"\r\n".join(lines) + _CRLF2 + payload + _CRLF2


def write_warc(path: str, pages: pd.DataFrame, wet: bool = False,
               gzip_per_record: bool = True, return_index: bool = False):
    """Write a pages frame as a WARC (response records wrapping an HTTP
    capture) or WET (conversion records) file. ``gzip_per_record=True``
    produces the Common-Crawl layout (one gzip member per record).
    ``return_index=True`` additionally returns CDX-shaped rows (url,
    warc_ts, sha1 payload digest, mime, status, warc_file,
    warc_offset, warc_length) — byte-true, so tests can drive the
    index-first selective-fetch path against a written file."""
    import os

    out = io.BytesIO()
    index = []
    for row in pages.itertuples(index=False):
        ts = pd.Timestamp(row.warc_ts).strftime("%Y-%m-%dT%H:%M:%SZ")
        if wet:
            body = row.text.encode("utf-8")
            # omit the language header when lang is NULL — emitting the
            # literal 'None' would round-trip as the STRING 'None'
            # instead of NULL (review round 5)
            extra: tuple = (("Content-Type", "text/plain"),)
            if isinstance(row.lang, str) and row.lang:
                extra = (("WARC-Identified-Content-Language", row.lang),
                         ) + extra
            rec = _warc_record("conversion", row.url, ts, body, extra)
            mime = "text/plain"
        else:
            body = bytes(row.html)
            http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    + f"Content-Length: {len(body)}".encode() + _CRLF2
                    + body)
            rec = _warc_record("response", row.url, ts, http,
                               (("Content-Type",
                                 "application/http; msgtype=response"),))
            mime = "text/html"
        off = out.tell()
        if gzip_per_record:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                g.write(rec)
            out.write(buf.getvalue())
        else:
            out.write(rec)
        index.append({
            "url": row.url, "warc_ts": pd.Timestamp(row.warc_ts),
            "digest": hashlib.sha1(body).hexdigest().upper(),
            "mime": mime, "status": 200,
            "warc_file": os.path.basename(path),
            "warc_offset": off, "warc_length": out.tell() - off,
        })
    with open(path, "wb") as f:
        f.write(out.getvalue())
    if return_index:
        return path, index
    return path
