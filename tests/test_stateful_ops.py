"""Cross-document state: streaming exact and canonical-URL dedup
(applyInPandasWithState) and pseudonym consistency across documents."""

from incident_pii_redactor_spark.streaming.dedup_stream import streaming_exact_dedup
from incident_pii_redactor_spark.streaming.scrub_stream import read_pages_stream


def test_streaming_exact_dedup(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime as dt
    import pandas as pd

    d = tmp_path / "in"
    d.mkdir()
    ts = dt.datetime(2025, 1, 1)
    mk = lambda rows: pa.Table.from_pandas(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())]),
        preserve_index=False)
    # batch 1: two distinct texts (one duplicated); batch 2: re-fetch + new
    pq.write_table(mk([
        ("https://a/1", ts, b"", "alpha beta gamma", "en"),
        ("https://a/2", ts, b"", "alpha beta gamma", "en"),
        ("https://a/3", ts, b"", "delta epsilon", "en"),
    ]), str(d / "b1.parquet"))
    pq.write_table(mk([
        ("https://a/4", ts, b"", "alpha  beta   gamma", "en"),  # ws-normalized dup
        ("https://a/5", ts, b"", "zeta eta theta", "en"),
    ]), str(d / "b2.parquet"))

    pages = read_pages_stream(spark, str(d), max_files_per_trigger=1)
    deduped = streaming_exact_dedup(pages)
    q = (
        deduped.writeStream.format("memory").queryName("dedup_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    assert not q.isActive  # availableNow must TERMINATE (timer-bug guard)
    got = {r.url: r.text for r in spark.sql("select * from dedup_out").collect()}
    # first-seen per fingerprint only: /1 (not /2, /4), /3, /5
    assert set(got) == {"https://a/1", "https://a/3", "https://a/5"}


def test_pseudonym_consistency_cross_doc():
    """A10 cross-doc variant: the same (entity_type, matched_text) must map
    to exactly one replacement across ALL documents — pseudonyms are
    md5-derived in ``core``, never per-document state."""
    from incident_pii_redactor_spark.core.pipeline import scrub_document

    docs = [
        "John Smith logged in from 10.0.0.7 yesterday.",
        "Later John Smith connected again via 10.0.0.7 and left.",
        "An unrelated Mary Jones used 10.9.9.9 all day today.",
    ]
    seen: dict[tuple[str, str], set[str]] = {}
    for text in docs:
        for s in scrub_document(text).spans:
            if s.action != "RETAIN":
                seen.setdefault((s.entity_type, s.text), set()).add(
                    s.replacement)
    assert ("person_name", "John Smith") in seen
    assert {k: v for k, v in seen.items() if len(v) > 1} == {}


def test_streaming_canonical_url_dedup(spark, tmp_path):
    """key_expr turns the stateful dedup into cross-snapshot URL dedup:
    re-fetches of the same canonical URL (tracking params, fragments,
    host case) are suppressed across microbatches even when their TEXT
    differs (snapshot drift)."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incident_pii_redactor_spark.functions.text import canonical_url

    d = tmp_path / "in"
    d.mkdir()
    ts = dt.datetime(2025, 1, 1)
    mk = lambda rows: pa.Table.from_pandas(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]),
        schema=pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())]),
        preserve_index=False)
    pq.write_table(mk([
        ("https://News.example/story/1?utm_source=rss", ts, b"", "v1 text", "en"),
        ("https://news.example/other/2", ts, b"", "other page", "en"),
    ]), str(d / "b1.parquet"))
    pq.write_table(mk([
        # same canonical URL as /story/1, later snapshot, different text
        ("HTTPS://news.example/story/1#frag", ts, b"", "v2 text drifted", "en"),
        ("https://news.example/fresh/3", ts, b"", "fresh page", "en"),
    ]), str(d / "b2.parquet"))

    pages = read_pages_stream(spark, str(d), max_files_per_trigger=1)
    deduped = streaming_exact_dedup(pages, key_expr=canonical_url("url"))
    q = (
        deduped.writeStream.format("memory").queryName("urldedup_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    assert not q.isActive
    got = sorted(r.url for r in spark.sql(
        "select * from urldedup_out").collect())
    assert got == [
        "https://News.example/story/1?utm_source=rss",
        "https://news.example/fresh/3",
        "https://news.example/other/2",
    ]
