"""Structured Streaming wrapper: the same scrub operator over a file
stream, with watermarked windowed metrics (SURVEY.md §2.8 streaming row)."""

import pytest

from incident_pii_redactor_spark.sources.pages import write_pages_parquet
from incident_pii_redactor_spark.streaming.scrub_stream import (
    read_pages_stream,
    scrub_stream,
    windowed_metrics,
)


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    # two "micro-batch" files
    write_pages_parquet(str(d / "part-0.parquet"), 150, seed=1)
    write_pages_parquet(str(d / "part-1.parquet"), 150, seed=2)
    return str(d)


def test_stream_scrub_end_to_end(spark, stream_dir, tmp_path_factory):
    out_dir = tmp_path_factory.mktemp("stream_out")
    pages = read_pages_stream(spark, stream_dir, max_files_per_trigger=1)
    assert pages.isStreaming
    scrubbed = scrub_stream(pages)
    q = (
        scrubbed.writeStream.format("parquet")
        .option("path", str(out_dir / "data"))
        .option("checkpointLocation", str(out_dir / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive  # availableNow must TERMINATE (timer-bug guard)
    got = spark.read.parquet(str(out_dir / "data"))
    assert got.count() == 300
    assert got.filter("keep and n_redactions > 0").count() > 0


def test_windowed_metrics_stream(spark, stream_dir):
    # complete-mode memory sink: append mode would hold back the final
    # windows forever on a bounded stream (watermark never passes them)
    pages = read_pages_stream(spark, stream_dir)
    metrics = windowed_metrics(scrub_stream(pages), window="1 minute")
    q = (
        metrics.writeStream.outputMode("complete")
        .format("memory")
        .queryName("scrub_metrics")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive
    m = spark.sql("select * from scrub_metrics").toPandas()
    # warc_ts ramps 1 s/row from a fixed epoch -> multiple 1-min windows
    assert len(m) >= 3
    assert m["rows"].sum() == 300
    assert (m["kept"] <= m["rows"]).all()


def test_streaming_neardup_dedup(spark, tmp_path_factory):
    """Streaming near-dup: first-seen kept; exact and near dups dropped
    across MICROBATCH BOUNDARIES (state persists); a band-colliding
    low-similarity pair survives verification; short docs dedup exactly
    via the sentinel route."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incident_pii_redactor_spark.streaming.neardup_stream import (
        streaming_neardup_dedup,
    )

    base = ("the quick brown fox jumps over the lazy dog and runs through "
            "the field while the sun rises slowly over the quiet hills")
    near = base.replace("hills", "peaks")         # sig agreement 1.0
    other = ("parquet files shuffle broadcast joins and executors schedule "
             "tasks across the cluster while metrics accumulate in the driver")
    common = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "lambda mu nu xi omicron pi rho sigma tau upsilon")
    fp_a = common + " " + " ".join(f"worda0x{i}" for i in range(20))
    fp_b = common + " " + " ".join(f"wordb0y{i}" for i in range(20))
    # fp_a/fp_b share band 0 but have sig agreement 0.5 < threshold 0.6:
    # the verification step must admit BOTH (the raw-LSH path would not)

    d = tmp_path_factory.mktemp("neardup_stream")
    ts = dt.datetime(2025, 1, 1)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])

    def write(name, rows):
        pq.write_table(pa.Table.from_pandas(
            pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text",
                                        "lang"]),
            schema=schema, preserve_index=False), str(d / name))

    write("b0.parquet", [("u1", ts, b"", base, "en"),
                         ("u2", ts, b"", other, "en"),
                         ("u3", ts, b"", "tiny", "en"),
                         ("u4", ts, b"", fp_a, "en")])
    write("b1.parquet", [("u5", ts, b"", base, "en"),    # exact dup of u1
                         ("u6", ts, b"", near, "en"),    # near dup of u1
                         ("u7", ts, b"", "tiny", "en"),  # exact short dup
                         ("u8", ts, b"", fp_b, "en")])   # band FP: admit

    pages = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string"
        ).option("maxFilesPerTrigger", 1).parquet(str(d))
    )
    out = tmp_path_factory.mktemp("neardup_out")
    q = (
        streaming_neardup_dedup(pages, threshold=0.6)
        .writeStream.format("parquet")
        .option("path", str(out / "data"))
        .option("checkpointLocation", str(out / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive
    got = {r.url for r in spark.read.parquet(str(out / "data")).collect()}
    assert got == {"u1", "u2", "u3", "u4", "u8"}


def test_stream_scrub_job_cli(spark, stream_dir, tmp_path_factory):
    """jobs/stream_scrub.py end-to-end with --available-now: drains the
    landing dir through (optional) dedup + scrub into parquet with a
    checkpoint; rerunning is a no-op (exactly-once via commit log)."""
    from jobs.stream_scrub import parse_args as sargs, run as srun

    d = tmp_path_factory.mktemp("stream_job")
    base = ["--input", stream_dir, "--output", str(d / "out"),
            "--checkpoint", str(d / "ckpt"), "--metrics", str(d / "metrics"),
            "--dedup", "--available-now"]
    got = srun(sargs(base), spark=spark)
    assert got["queries"] == 2
    out = spark.read.parquet(str(d / "out"))
    n1 = out.count()
    assert 0 < n1 <= 300  # dedup may drop near-dups across the two files
    assert out.filter("keep and n_redactions > 0").count() > 0
    # metrics query really ran and committed (append-mode window rows may
    # legitimately be withheld by the watermark on a single-batch drain,
    # so assert on the checkpoint commit log, not row counts)
    import os

    assert os.path.exists(str(d / "ckpt" / "metrics" / "commits" / "0"))
    # rerun: nothing new to process -> no duplicates
    srun(sargs(base), spark=spark)
    assert spark.read.parquet(str(d / "out")).count() == n1


def test_event_time_ttl_evicts_dedup_state(spark, tmp_path_factory):
    """Event-time TTL: once the watermark passes a bucket's (event time +
    TTL), its state evicts — a later duplicate is treated as first-seen
    again. Without a TTL the duplicate stays suppressed. Queries must
    still terminate under availableNow (the whole point vs
    processing-time timers)."""
    import datetime as dt
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incident_pii_redactor_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    t0 = dt.datetime(2025, 1, 1)
    text_a = "a perfectly ordinary document about rivers and hills"
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])

    def mk(which, rows):
        pq.write_table(pa.Table.from_pandas(
            pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text",
                                        "lang"]),
            schema=schema, preserve_index=False), which)

    def run(d, **kw):
        # 4 single-row microbatches: A, two watermark-advancers (the 2nd
        # fires A's timer — timeouts are evaluated against the PREVIOUS
        # batch's watermark), then the duplicate of A
        mk(f"{d}/b0.parquet", [("u1", t0, b"", text_a, "en")])
        mk(f"{d}/b1.parquet", [("u2", t0 + dt.timedelta(hours=2), b"",
                                "unrelated words advancing the clock", "en")])
        mk(f"{d}/b2.parquet", [("u3", t0 + dt.timedelta(hours=4), b"",
                                "more unrelated words moving time on", "en")])
        mk(f"{d}/b3.parquet", [("u4", t0 + dt.timedelta(hours=6), b"",
                                text_a, "en")])
        # the file source reads files in modification-time order, and a
        # fast loop can give two files the same mtime: space them 1 s apart
        base = time.time() - 4
        for i in range(4):
            os.utime(f"{d}/b{i}.parquet", (base + i, base + i))
        pages = (spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string").option("maxFilesPerTrigger", 1).parquet(d))
        q = (streaming_exact_dedup(pages, **kw)
             .writeStream.format("parquet").option("path", f"{d}/out")
             .option("checkpointLocation", f"{d}/ck")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        assert not q.isActive
        return {r.url for r in spark.read.parquet(f"{d}/out").collect()}

    with_ttl = run(str(tmp_path_factory.mktemp("ttl")),
                   event_ttl_ms=3600 * 1000)
    assert with_ttl == {"u1", "u2", "u3", "u4"}  # u4 re-emitted: evicted

    no_ttl = run(str(tmp_path_factory.mktemp("nottl")))
    assert no_ttl == {"u1", "u2", "u3"}  # u4 suppressed: state kept

    # ADVICE round-2 regression: the duplicate arrives 3 microbatches
    # after first-seen but WITHIN the TTL (event gap 6 h < TTL 10 h) —
    # it must stay suppressed. Under the old watermark-anchored timeout
    # a fresh query's batch-0 keys got timestamps near epoch+TTL and
    # were evicted by batch 1, wrongly re-emitting exactly this case.
    within = run(str(tmp_path_factory.mktemp("ttlwithin")),
                 event_ttl_ms=10 * 3600 * 1000)
    assert within == {"u1", "u2", "u3"}  # u4 suppressed: TTL not reached


def test_streaming_neardup_multiband_recall(spark, tmp_path_factory):
    """VERDICT round-2 item 6: a near-dup pair whose signatures collide
    in a LATER band only (band 0 keys differ) must still be deduped —
    the round-2 single-band operator keyed state on band 0 alone and
    would have admitted both."""
    import datetime as dt
    import hashlib

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incident_pii_redactor_spark.functions.dedup import (
        _MH_M,
        _MH_P,
        _mh_params,
    )
    from incident_pii_redactor_spark.streaming.neardup_stream import (
        streaming_neardup_dedup,
    )

    n_perm, bands, rpb = 8, 4, 2
    A, B = _mh_params(n_perm)

    def sig(text):
        words = text.split(" ")
        shingles = [" ".join(words[i:i + 3])
                    for i in range(len(words) - 2)]
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _MH_M
              for s in shingles]
        return [min((A[i] * h + B[i]) % _MH_P for h in hs)
                for i in range(n_perm)]

    base_words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
                  "juliet kilo lima mike november oscar papa quebec romeo "
                  "sierra tango uniform victor whiskey xray yankee").split()
    base = " ".join(base_words)
    s_a = sig(base)

    found = None
    for pos in range(len(base_words)):
        for j in range(4000):
            cand_words = list(base_words)
            cand_words[pos] = f"zz{j}"
            cand = " ".join(cand_words)
            s_b = sig(cand)
            match = [s_a[i] == s_b[i] for i in range(n_perm)]
            band_hit = [all(match[b * rpb:(b + 1) * rpb])
                        for b in range(bands)]
            # collide in band 3 ONLY; bands 0-2 keys all differ
            if band_hit == [False, False, False, True]:
                found = (cand, sum(match) / n_perm)
                break
        if found:
            break
    assert found, "no band-3-only collision found in search space"
    partner, agreement = found

    other = ("parquet shuffle broadcast join executor scheduler metrics "
             "driver arrow batch codegen catalyst tungsten adaptive "
             "skew salt bucket window watermark checkpoint lineage")

    d = tmp_path_factory.mktemp("multiband")
    ts = dt.datetime(2025, 1, 1)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])

    def write(name, rows):
        pq.write_table(pa.Table.from_pandas(
            pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text",
                                        "lang"]),
            schema=schema, preserve_index=False), str(d / name))

    write("b0.parquet", [("u1", ts, b"", base, "en"),
                         ("u2", ts, b"", other, "en")])
    write("b1.parquet", [("u3", ts, b"", partner, "en")])  # band-3-only dup

    pages = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string"
        ).option("maxFilesPerTrigger", 1).parquet(str(d))
    )
    out = tmp_path_factory.mktemp("multiband_out")
    q = (
        streaming_neardup_dedup(pages, threshold=agreement)
        .writeStream.format("parquet")
        .option("path", str(out / "data"))
        .option("checkpointLocation", str(out / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive
    got = {r.url for r in spark.read.parquet(str(out / "data")).collect()}
    assert got == {"u1", "u2"}  # u3 dropped via its band-3 collision


def test_streaming_dedup_under_rocksdb_state_store(spark, tmp_path_factory):
    """The stateful dedup must run unchanged on the RocksDB state store
    (jobs/stream_scrub.py --rocksdb): at web-scale key cardinalities the
    default in-memory provider is heap-bounded; RocksDB spills to local
    disk. Asserts the provider actually engaged (RocksDB checkpoints
    .zip/.changelog artifacts into the state dir, the HDFS-backed store
    writes .delta/.snapshot) and dedup semantics hold across batches."""
    import datetime as dt
    import glob

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incident_pii_redactor_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state."
                        "RocksDBStateStoreProvider")
    try:
        d = tmp_path_factory.mktemp("rocksdb_in")
        ts = dt.datetime(2025, 1, 1)
        schema = pa.schema(
            [("url", pa.string()), ("warc_ts", pa.timestamp("us")),
             ("html", pa.binary()), ("text", pa.string()),
             ("lang", pa.string())])

        def write(name, rows):
            pq.write_table(pa.Table.from_pandas(
                pd.DataFrame(rows, columns=["url", "warc_ts", "html",
                                            "text", "lang"]),
                schema=schema, preserve_index=False), str(d / name))

        write("b0.parquet", [("u1", ts, b"", "some document text", "en")])
        write("b1.parquet", [("u2", ts, b"", "some document text", "en"),
                             ("u3", ts, b"", "a different document", "en")])
        pages = (spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string").option("maxFilesPerTrigger", 1).parquet(str(d)))
        out = tmp_path_factory.mktemp("rocksdb_out")
        q = (streaming_exact_dedup(pages)
             .writeStream.format("parquet").option("path", str(out / "data"))
             .option("checkpointLocation", str(out / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        assert not q.isActive
        got = {r.url for r in spark.read.parquet(str(out / "data")).collect()}
        assert got == {"u1", "u3"}  # cross-batch dup dropped under RocksDB
        arts = glob.glob(str(out / "ckpt" / "state" / "**" / "*"),
                         recursive=True)
        assert any(a.endswith(".zip") or a.endswith(".changelog")
                   for a in arts), f"no RocksDB artifacts in {arts[:10]}"
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_event_time_ttl_respects_custom_ts_col(spark, tmp_path_factory):
    """Review round 3: _max_event_ms hardcoded 'warc_ts', so a stream
    keyed on a differently-named event column silently fell back to the
    watermark anchor and re-introduced the batch-0 eviction bug. A
    duplicate WITHIN the TTL must stay suppressed under ts_col !=
    'warc_ts'."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incident_pii_redactor_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    t0 = dt.datetime(2025, 1, 1)
    text_a = "a perfectly ordinary document about rivers and hills"
    d = tmp_path_factory.mktemp("ttl_tscol")
    schema = pa.schema([("url", pa.string()),
                        ("fetched_at", pa.timestamp("us")),
                        ("text", pa.string())])

    def mk(name, rows):
        pq.write_table(pa.Table.from_pandas(
            pd.DataFrame(rows, columns=["url", "fetched_at", "text"]),
            schema=schema, preserve_index=False), str(d / name))

    mk("b0.parquet", [("u1", t0, text_a)])
    mk("b1.parquet", [("u2", t0 + dt.timedelta(hours=2), "advancer one")])
    mk("b2.parquet", [("u3", t0 + dt.timedelta(hours=4), "advancer two")])
    mk("b3.parquet", [("u4", t0 + dt.timedelta(hours=6), text_a)])  # dup

    pages = (spark.readStream.schema(
        "url string, fetched_at timestamp, text string")
        .option("maxFilesPerTrigger", 1).parquet(str(d)))
    out = tmp_path_factory.mktemp("ttl_tscol_out")
    q = (streaming_exact_dedup(pages, ts_col="fetched_at",
                               event_ttl_ms=10 * 3600 * 1000)
         .writeStream.format("parquet").option("path", str(out / "data"))
         .option("checkpointLocation", str(out / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert not q.isActive
    got = {r.url for r in spark.read.parquet(str(out / "data")).collect()}
    assert got == {"u1", "u2", "u3"}  # u4 suppressed: within the TTL


def test_stream_scrub_job_url_dedup(spark, tmp_path_factory):
    """--url-dedup suppresses cross-snapshot re-crawls (canonical-URL
    key) before the scrub; combining both stateful stages in one query
    is refused with a stage-chaining hint."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from jobs.stream_scrub import parse_args as sargs, run as srun

    d = tmp_path_factory.mktemp("urlstream")
    (d / "in").mkdir()
    ts = dt.datetime(2025, 1, 1)
    base = ("the quick brown fox jumps over the lazy dog and runs through "
            "the field while the sun rises slowly over the quiet hills")
    rows = [
        ("https://a.example/p/1?utm_source=rss", ts, b"", base, "en"),
        ("HTTPS://A.example/p/1#frag", ts, b"", base + " drifted", "en"),
        ("https://a.example/p/2", ts, b"", base.replace("quick", "slow"),
         "en"),
    ]
    pq.write_table(pa.Table.from_pandas(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text",
                                    "lang"]),
        schema=pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())]),
        preserve_index=False), str(d / "in" / "b1.parquet"))

    stats = srun(sargs(
        ["--input", str(d / "in"), "--output", str(d / "out"),
         "--checkpoint", str(d / "ck"), "--url-dedup",
         "--available-now"]), spark=spark)
    assert stats["queries"] if isinstance(stats, dict) else True
    got = sorted(r.url for r in spark.read.parquet(str(d / "out"))
                 .collect())
    # within one microbatch the representative is the DETERMINISTIC
    # min-(url, ts) row of the canonical group ('HTTPS://A...' sorts
    # before 'https://a...' in binary), not input order
    assert got == ["HTTPS://A.example/p/1#frag",
                   "https://a.example/p/2"]

    with _pytest.raises(SystemExit):
        srun(sargs(["--input", str(d / "in"), "--output", str(d / "o2"),
                    "--checkpoint", str(d / "c2"), "--url-dedup",
                    "--dedup", "--available-now"]), spark=spark)


def test_streaming_neardup_distinct_short_docs_same_url_both_emit(
        spark, tmp_path_factory):
    """Two DIFFERENT short (unshingleable) texts sharing url and
    warc_ts must BOTH emit: they share the sentinel signature, so the
    recombine key needs md5(text) to keep them apart (review round 5 —
    without it the unmatched==n_bands test failed for both and both
    vanished)."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incident_pii_redactor_spark.streaming.neardup_stream import (
        streaming_neardup_dedup,
    )

    d = tmp_path_factory.mktemp("shortdocs")
    ts = dt.datetime(2025, 1, 1)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    rows = [("u1", ts, b"", "tiny one", "en"),
            ("u1", ts, b"", "tiny two", "en"),   # same url+ts, diff text
            ("u2", ts, b"", "tiny one", "en")]   # exact short dup of row 0
    pq.write_table(pa.Table.from_pandas(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text",
                                    "lang"]),
        schema=schema, preserve_index=False), str(d / "b0.parquet"))

    pages = (spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string").option("maxFilesPerTrigger", 1).parquet(str(d)))
    out = tmp_path_factory.mktemp("shortdocs_out")
    q = (streaming_neardup_dedup(pages)
         .writeStream.format("parquet")
         .option("path", str(out / "data"))
         .option("checkpointLocation", str(out / "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    assert not q.isActive
    got = sorted((r.url, r.text) for r in
                 spark.read.parquet(str(out / "data")).collect())
    # both distinct short texts survive; the exact short dup (u2) drops
    assert got == [("u1", "tiny one"), ("u1", "tiny two")]
