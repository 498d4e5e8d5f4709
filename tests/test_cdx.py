"""CDX(J) index ingestion and pre-fetch selection (sources/cdx.py)."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from incident_pii_redactor_spark.sources.cdx import (
    cdx_prefetch_select,
    read_cdx,
    write_cdxj,
)


def _rows():
    base = pd.Timestamp("2025-01-01", tz="UTC")

    def digest(s):
        return hashlib.sha1(s.encode()).hexdigest().upper()[:32]

    return [
        # two captures of byte-identical content across snapshots:
        # dedup must keep the EARLIEST
        dict(url="https://a.example/page1", warc_ts=base,
             digest=digest("one"), mime="text/html", status=200,
             warc_file="w1.warc.gz", warc_offset=0, warc_length=900),
        dict(url="https://a.example/page1?x=1",
             warc_ts=base + pd.Timedelta(days=30),
             digest=digest("one"), mime="text/html", status=200,
             warc_file="w9.warc.gz", warc_offset=100, warc_length=901),
        # unique content
        dict(url="https://b.example/article", warc_ts=base,
             digest=digest("two"), mime="text/html", status=200,
             warc_file="w1.warc.gz", warc_offset=900, warc_length=500),
        # non-200 / non-html / junk shapes: all pre-fetch drops
        dict(url="https://c.example/gone", warc_ts=base,
             digest=digest("three"), mime="text/html", status=404,
             warc_file="w2.warc.gz", warc_offset=0, warc_length=300),
        dict(url="https://c.example/logo", warc_ts=base,
             digest=digest("four"), mime="image/png", status=200,
             warc_file="w2.warc.gz", warc_offset=300, warc_length=300),
        dict(url="https://c.example/search?q=spark", warc_ts=base,
             digest=digest("five"), mime="text/html", status=200,
             warc_file="w2.warc.gz", warc_offset=600, warc_length=300),
    ]


def test_cdx_roundtrip_and_corrupt_lines(tmp_path, spark):
    p = str(tmp_path / "part-0.cdxj")
    write_cdxj(p, _rows())
    with open(p, "a") as f:
        f.write("garbage line without json\n")
        f.write("com,example)/x 20250101000000 {broken json\n")
    got = read_cdx(spark, p)
    pdf = got.toPandas().sort_values(["url", "warc_ts"]).reset_index(drop=True)
    assert len(pdf) == 6  # corrupt lines dropped, not fatal
    exp = (pd.DataFrame(_rows())
           .sort_values(["url", "warc_ts"]).reset_index(drop=True))
    assert list(pdf.url) == list(exp.url)
    assert list(pdf.digest) == list(exp.digest)
    assert list(pdf.warc_offset) == list(exp.warc_offset)
    assert str(pdf.dtypes["warc_offset"]) == "int64"
    assert list(pdf.warc_ts.dt.strftime("%Y%m%d%H%M%S")) == \
        list(exp.warc_ts.dt.strftime("%Y%m%d%H%M%S"))


def test_prefetch_select_filters_and_digest_dedup(tmp_path, spark):
    p = str(tmp_path / "part-0.cdxj")
    write_cdxj(p, _rows())
    sel = cdx_prefetch_select(read_cdx(spark, p)).toPandas()
    # survivors: earliest capture of digest("one") + digest("two")
    assert sorted(sel.url) == ["https://a.example/page1",
                               "https://b.example/article"]
    first = sel[sel.url == "https://a.example/page1"].iloc[0]
    assert first.warc_file == "w1.warc.gz"  # earliest, not the re-crawl
    assert first.warc_offset == 0
    # the selection is the fetch work-list: byte ranges present
    assert (sel.warc_length > 0).all()


def test_index_first_selective_fetch_end_to_end(tmp_path, spark):
    """The full index-first pipeline: write a 2-shard crawl with a
    byte-true CDX index (incl. a cross-shard duplicate page), select
    on the index (digest dedup + junk filter), then fetch ONLY the
    surviving byte ranges via read_warc_selected — result must be the
    unique non-junk pages with byte-identical html, one record per
    digest, never the duplicate's re-crawl bytes."""
    from incident_pii_redactor_spark.sources.pages import synth_pages
    from incident_pii_redactor_spark.sources.warc import (
        read_warc_selected,
        write_warc,
    )

    pages = synth_pages(30, seed=13)
    # cross-shard exact duplicate: shard 1 re-crawls page 0 later
    dup = pages.iloc[[0]].copy()
    dup["url"] = dup["url"] + "?utm_source=rss"
    dup["warc_ts"] = dup["warc_ts"] + pd.Timedelta(days=30)
    # and one junk-url capture that must never be fetched
    junk = pages.iloc[[1]].copy()
    junk["url"] = "https://c.example/search?q=spark"

    d = tmp_path / "crawl"
    d.mkdir()
    _, ix0 = write_warc(str(d / "c0.warc.gz"), pages.iloc[:15],
                        return_index=True)
    _, ix1 = write_warc(str(d / "c1.warc.gz"),
                        pd.concat([pages.iloc[15:], dup, junk]),
                        return_index=True)
    cdx_path = str(tmp_path / "index.cdxj")
    write_cdxj(cdx_path, ix0 + ix1)

    sel = cdx_prefetch_select(read_cdx(spark, cdx_path))
    fetched = read_warc_selected(spark, str(d), sel).toPandas()
    # 30 unique pages survive; the dup (same digest) and junk are gone
    assert len(fetched) == 30
    assert not fetched.url.str.contains("utm_source|/search").any()
    by_url = {r.url: bytes(r.html) for r in fetched.itertuples()}
    for row in pages.itertuples():
        assert by_url[row.url] == bytes(row.html)


def test_ingest_job_end_to_end_with_robots(tmp_path, spark,
                                          no_cache_or_count):
    """jobs/ingest.py: CDX select -> robots filter -> selective fetch ->
    pages parquet, with per-stage counts observed on the one write."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.ingest import parse_args, run

    from incident_pii_redactor_spark.sources.pages import synth_pages
    from incident_pii_redactor_spark.sources.warc import write_warc

    pages = synth_pages(25, seed=17)
    d = tmp_path / "crawl"
    d.mkdir()
    _, ix = write_warc(str(d / "c0.warc.gz"), pages, return_index=True)
    cdx_path = str(tmp_path / "index.cdxj")
    write_cdxj(cdx_path, ix)

    # block one host entirely via robots; every page url is
    # https://site##.example#.com/<class>/<i>
    blocked_host = pages.url.str.split("/").str[2].iloc[0]
    pq.write_table(pa.table({
        "host": [blocked_host],
        "robots_txt": ["User-agent: *\nDisallow: /\n"],
    }), str(tmp_path / "robots.parquet"))
    n_blocked = pages.url.str.contains(blocked_host, regex=False).sum()
    assert n_blocked > 0

    with no_cache_or_count():
        stats = run(parse_args(
            ["--cdx", cdx_path, "--warc-dir", str(d),
             "--output", str(tmp_path / "out"),
             "--robots", str(tmp_path / "robots.parquet")]), spark=spark)
    assert stats["captures_selected"] == 25
    assert stats["captures_robots_allowed"] == 25 - n_blocked
    assert stats["pages_fetched"] == 25 - n_blocked
    out = spark.read.parquet(str(tmp_path / "out")).toPandas()
    assert len(out) == 25 - n_blocked
    assert not out.url.str.contains(blocked_host, regex=False).any()
    by_url = {r.url: bytes(r.html) for r in out.itertuples()}
    for row in pages.itertuples():
        if blocked_host not in row.url:
            assert by_url[row.url] == bytes(row.html)


def test_prefetch_plan_is_one_aggregate_no_window(tmp_path, spark):
    """Scale shape: the digest dedup is a map-side-combined min_by
    aggregate — no window over the digest key, no join."""
    p = str(tmp_path / "part-0.cdxj")
    write_cdxj(p, _rows())
    plan = cdx_prefetch_select(read_cdx(spark, p)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min_by" in plan.lower() or "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_malformed_timestamp_and_revisit_status_survive_ansi(tmp_path,
                                                             spark):
    """Spark 4 ANSI is ON: a malformed 14-digit timestamp or the
    classic '-' status of revisit records must land as NULLs, not abort
    the scan (review round 5)."""
    import json as _json

    p = str(tmp_path / "bad.cdxj")
    good = _rows()[2]
    with open(p, "w") as f:
        payload = {"url": "https://t.example/a", "digest": "D1",
                   "mime": "text/html", "status": "-",
                   "filename": "w.warc.gz", "offset": "x", "length": "9"}
        f.write(f"com,example)/a 2024010100000X {_json.dumps(payload)}\n")
        payload2 = {"url": good["url"], "digest": good["digest"],
                    "mime": good["mime"], "status": str(good["status"]),
                    "filename": good["warc_file"],
                    "offset": str(good["warc_offset"]),
                    "length": str(good["warc_length"])}
        f.write(f"com,example)/b 20250101000000 {_json.dumps(payload2)}\n")
    got = read_cdx(spark, p).toPandas().sort_values("url") \
        .reset_index(drop=True)
    assert len(got) == 2  # neither line killed the scan
    bad = got[got.url == "https://t.example/a"].iloc[0]
    assert pd.isna(bad.warc_ts) and pd.isna(bad.status) \
        and pd.isna(bad.warc_offset)
    ok = got[got.url == good["url"]].iloc[0]
    assert ok.status == 200 and ok.warc_offset == good["warc_offset"]
