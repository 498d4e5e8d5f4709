"""Round-3 webtext operators: canonical-URL dedup, fastText-style hashed
linear classifier, DSIR importance weights, HLL distinct sketch."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


# ---------------------------------------------------------------------------
# canonical_url
# ---------------------------------------------------------------------------

def test_canonical_url_rules(spark):
    from incident_pii_redactor_spark.functions.text import canonical_url

    cases = {
        # scheme+host lowercased, default port stripped, fragment dropped
        "HTTPS://Example.COM:443/Path/x?utm_source=rss#frag":
            "https://example.com/Path/x",
        # leading utm param stripped, surviving '&' re-promoted to '?'
        "https://a.b/p?utm_campaign=x&id=3": "https://a.b/p?id=3",
        # :80 stripped, trailing param stripped, gclid stripped
        "http://H.io:80/p?id=3&utm_medium=email&gclid=z":
            "http://h.io/p?id=3",
        # CROSS-scheme default ports are NOT stripped (review round 5:
        # http://host:443 is a different resource than http://host)
        "http://x.y:443/p": "http://x.y:443/p",
        "https://x.y:80/p": "https://x.y:80/p",
        # trailing slash stripped (incl. bare root)
        "https://x.y/only/": "https://x.y/only",
        "https://x.y/": "https://x.y",
        # non-tracking params and path case are PRESERVED
        "https://x.y/P?id=1&ref=2": "https://x.y/P?id=1&ref=2",
        # non-default port preserved
        "https://x.y:8443/p": "https://x.y:8443/p",
        # literal '&' in a query-less path is NOT rewritten to '?'
        # (advice round 3: the blanket '&'->'?' promotion collapsed
        # genuinely distinct URLs into one dedup key)
        "https://x.y/a&b": "https://x.y/a&b",
        # a RUN of leading tracking params all strips, '?' survives
        "https://a.b/p?utm_a=1&fbclid=2&id=3": "https://a.b/p?id=3",
        # only tracking params -> query gone entirely
        "https://a.b/p?utm_a=1&gclid=2": "https://a.b/p",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r["url"]: r["c"]
           for r in df.select("url", canonical_url("url").alias("c")).collect()}
    assert got == cases


def test_canonical_url_sql_twin_matches(spark):
    """The DuckDB twin produces byte-identical canonical forms — the
    contract the driver's doc_url_canonical_dedup hash check rides on."""
    import duckdb

    from incident_pii_redactor_spark.functions.text import (
        canonical_url, canonical_url_sql)

    urls = [
        "HTTPS://Example.COM:443/Path/x?utm_source=rss#frag",
        "https://a.b/p?utm_campaign=x&id=3&utm_source=y",
        "http://H.io:80/p/?id=3&utm_medium=email&fbclid=z",
        "https://x.y/only/",
        "https://x.y/p?id=1&ref=2#s",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r[0] for r in df.select(canonical_url("url")).collect()]
    want = [
        duckdb.sql(
            f"SELECT {canonical_url_sql('url')} FROM (SELECT ? AS url)",
            params=[u],
        ).fetchone()[0]
        for u in urls
    ]
    assert got == want


def test_url_canonical_dedup_groups_variants(spark):
    """Messy variants of the same logical URL collapse to one canonical
    group whose keeper is the smallest doc_id."""
    import __spark_entry__ as entry

    out = entry.queries()["doc_url_canonical_dedup"](
        spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0
    n_docs = _docs(spark).count()
    assert sum(r["n_dups"] for r in out) == n_docs
    for r in out:
        assert r["keep_id"] <= r["latest_id"]
        u = r["canonical_url"]
        assert "#" not in u and "utm_" not in u and ":443" not in u
        assert u == u.split("://")[0].lower() + "://" + u.split("://")[1]
    assert any(r["n_dups"] > 1 for r in out)


def test_url_junk_asset_extension_requires_path(spark):
    """Asset extensions (.js/.css/.xml/...) classify junk only when they
    terminate a PATH component — a hostname ending in .js is a site, not
    an asset (advice round 3)."""
    from incident_pii_redactor_spark.functions.text import url_is_junk

    cases = {
        "https://foo.js": False,           # hostname, no path
        "https://site.css": False,
        "https://foo.js/docs/intro": False,
        "https://x.y/app.js": True,        # real asset paths stay junk
        "https://x.y/feed.xml?page=2": True,
        "https://x.y/a/styles.css#top": True,
        "https://x.y/wp-admin/options": True,  # path-family rule intact
        "https://x.y/article/js-tips": False,
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r["url"]: r["j"]
           for r in df.select("url", url_is_junk("url").alias("j")).collect()}
    assert got == cases


# ---------------------------------------------------------------------------
# hashed linear quality classifier
# ---------------------------------------------------------------------------

def test_classifier_scores_match_python_model(spark):
    """Spark scores equal a plain-Python evaluation of the same model —
    the hashing trick (md5 bucket -> weight) is engine-portable."""
    from decimal import Decimal

    from incident_pii_redactor_spark.quality.classifier import (
        VOCAB, bucket_of, classify_quality, weight_rows)

    wmap = dict(weight_rows())
    rows = [
        (1, "spark data query join fast"),
        (2, "slow dup small the a"),
        (3, "free click subscribe winner casino"),
        (4, "xyzzy unknowntoken"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in classify_quality(df).collect()}

    for doc_id, text in rows:
        toks = [t for t in text.lower().split() if t]
        sw = sum((wmap.get(bucket_of(t), Decimal(0)) for t in toks),
                 Decimal(0))
        want = float(sw) / len(toks) if toks else 0.0
        assert got[doc_id]["word_count"] == len(toks)
        assert math.isclose(got[doc_id]["score"], want, abs_tol=1e-12)
        assert got[doc_id]["keep"] == (want > 0)
    # sanity on the demo vocab: prose-y beats junk
    assert got[1]["keep"] and not got[3]["keep"]
    assert len({bucket_of(t) for t, _ in VOCAB}) == len(VOCAB)


def test_classifier_zero_token_doc_scores_zero(spark):
    from incident_pii_redactor_spark.quality.classifier import classify_quality

    df = spark.createDataFrame(
        [(1, "   \n\t  "), (2, "spark")], "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in classify_quality(df).collect()}
    assert got[1]["word_count"] == 0
    assert got[1]["score"] == 0.0 and got[1]["keep"] is False
    assert got[2]["keep"] is True


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------

def test_dsir_ranks_topical_docs_first(spark):
    """On a corpus with genuine topical signal, DSIR must rank every
    in-domain doc above every off-domain doc — the property importance
    resampling rides on. (The driver's synthetic documents table has a
    nearly lang-independent token mix, so the strict ranking check lives
    here on a constructed corpus; the driver query is value-pinned by
    its DuckDB oracle.)"""
    from incident_pii_redactor_spark.quality.dsir import dsir_weights

    sci = ["protein folding enzyme catalysis substrate kinetics",
           "neuron synapse cortex dendrite plasticity signal",
           "quantum electron orbital spin entanglement state",
           "genome sequencing allele mutation expression pathway"]
    spam = ["free casino bonus click winner jackpot claim now",
            "cheap pills discount offer subscribe unsubscribe deal",
            "lottery prize urgent claim transfer bank account",
            "hot singles click here free trial membership offer"]
    rows = [(i, t, i < len(sci)) for i, t in enumerate(sci + spam)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, tgt boolean")

    out = {r["doc_id"]: r["dsir_weight"]
           for r in dsir_weights(df, F.col("tgt")).collect()}
    sci_ids = range(len(sci))
    spam_ids = range(len(sci), len(sci) + len(spam))
    # perfect separation: every in-domain doc above every off-domain doc
    assert min(out[i] for i in sci_ids) > max(out[i] for i in spam_ids)


def test_dsir_driver_query_avg_ordering(spark):
    """On the driver table the target (en) side must still average a
    higher weight than off-target — guaranteed by self-selection even
    with a weak-signal corpus."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    out = entry.queries()["doc_model_scores"](spark, sf)
    langs = _docs(spark).select("doc_id", "lang")
    avg = {
        r["is_en"]: r["w"]
        for r in out.join(langs, "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("dsir_weight").alias("w"))
        .collect()
    }
    assert avg[True] > avg[False]


# ---------------------------------------------------------------------------
# HLL++ sketch accuracy
# ---------------------------------------------------------------------------

def test_hll_estimate_close_to_exact(spark):
    """Round 5: the registry query now folds the estimate into a
    tolerance verdict next to an exactly-twinned companion (so the
    driver hash checks it); this test pins the underlying sketch
    accuracy AND that the query's exact column matches a separately
    computed count_distinct."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["doc_word_hll"](spark, sf).collect()
    from incident_pii_redactor_spark.functions.text import words

    toks = (_docs(spark)
            .select("lang", F.explode(words(F.lower("text"))).alias("w")))
    exact = {
        r["lang"]: r["n"]
        for r in toks.groupBy("lang")
        .agg(F.countDistinct("w").alias("n")).collect()
    }
    est = {
        r["lang"]: r["e"]
        for r in toks.groupBy("lang")
        .agg(F.approx_count_distinct("w", 0.02).alias("e")).collect()
    }
    assert {r["lang"] for r in rows} == set(exact)
    for r in rows:
        assert r["exact_distinct"] == exact[r["lang"]]
        assert r["hll_within_tol"] is True
    for lang, n in exact.items():
        assert abs(est[lang] - n) <= max(2, 0.05 * n)


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------

def test_pq_exact_centroid_reconstructs_exactly(spark):
    """A vector that IS one of its subspace centroids must encode to that
    centroid with zero subspace error — argmin correctness at the fixed
    point."""
    import numpy as np

    from incident_pii_redactor_spark.functions.similarity import (
        pq_encode_udf, train_pq_codebooks)

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_pq_codebooks(df)
    probe = np.concatenate([b[0] for b in books])  # code 0 in every subspace
    pdf = spark.createDataFrame(
        [(0, [float(x) for x in probe])],
        "vec_id bigint, embedding array<double>")
    enc = pq_encode_udf(books)
    row = pdf.select(enc("embedding").alias("e")).head()["e"]
    assert list(row["codes"]) == [0, 0, 0, 0]
    assert row["recon_err"] == 0.0


def test_pq_compresses_with_bounded_distortion(spark):
    """Reconstruction error must beat the no-model baseline (distance to
    the global mean) for most vectors — i.e. the codebooks actually
    learned structure; and codes must use a spread of values."""
    import numpy as np

    from incident_pii_redactor_spark.functions.similarity import pq_codes

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = pq_codes(df).collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in df.collect()}
    mean = np.mean(np.stack(list(vecs.values())), axis=0)
    base = {vid: float(np.linalg.norm(v - mean)) for vid, v in vecs.items()}
    better = sum(r["recon_err"] < base[r["vec_id"]] for r in out)
    assert better / len(out) > 0.9
    for j in range(4):
        assert len({r["code"].split("|")[j] for r in out}) >= 8


def test_pq_codes_deterministic_across_runs(spark):
    from incident_pii_redactor_spark.functions.similarity import pq_codes

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted((r["vec_id"], r["code"], r["recon_err"])
               for r in pq_codes(df).collect())
    b = sorted((r["vec_id"], r["code"], r["recon_err"])
               for r in pq_codes(df.repartition(7)).collect())
    assert a == b


# ---------------------------------------------------------------------------
# shard assignment
# ---------------------------------------------------------------------------

def test_shard_assignment_partition_invariant(spark):
    """(shard, pos) must be a pure function of the data — identical
    under any input partitioning (the property that makes training
    epochs resumable)."""
    from incident_pii_redactor_spark.functions.sampling import shard_assignment

    d = _docs(spark).select("doc_id")
    a = sorted((r["doc_id"], r["shard"], r["pos"])
               for r in shard_assignment(d, 8, "doc_id").collect())
    b = sorted((r["doc_id"], r["shard"], r["pos"])
               for r in shard_assignment(d.repartition(13), 8, "doc_id")
               .collect())
    assert a == b
    n = len(a)
    # every row assigned, positions dense 0..size-1 per shard
    shards = {}
    for _, s, p in a:
        shards.setdefault(s, []).append(p)
    assert sum(len(v) for v in shards.values()) == n
    for s, ps in shards.items():
        assert sorted(ps) == list(range(len(ps)))
    # hash sharding balances: no shard more than 3x the ideal size
    assert max(len(v) for v in shards.values()) <= 3 * (n / 8)


# ---------------------------------------------------------------------------
# Naive-Bayes distillation
# ---------------------------------------------------------------------------

def test_nb_distillation_generalizes_to_heldout(spark):
    """Train the NB token model on labeled docs, then score HELD-OUT
    docs that share vocabulary: in-domain held-out docs must score
    positive, junk held-out docs negative — the distillation contract
    (the cheap model reproduces the judge's decisions on unseen data)."""
    from incident_pii_redactor_spark.quality.classifier import (
        classify_nb, train_nb_weights)

    train_rows = [
        (0, "protein folding enzyme catalysis substrate kinetics", True),
        (1, "neuron synapse cortex dendrite plasticity signal", True),
        (2, "quantum electron orbital spin entanglement state", True),
        (3, "free casino bonus click winner jackpot claim now", False),
        (4, "cheap pills discount offer subscribe unsubscribe deal", False),
        (5, "lottery prize urgent claim transfer bank account", False),
    ]
    train = spark.createDataFrame(
        train_rows, "doc_id bigint, text string, label boolean")
    w = train_nb_weights(train, F.col("label"))

    heldout = spark.createDataFrame(
        [(100, "enzyme substrate neuron orbital signal state"),
         (101, "free bonus click subscribe deal account")],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in classify_nb(heldout, w).collect()}
    assert got[100]["keep_distilled"] is True
    assert got[101]["keep_distilled"] is False
    assert got[100]["nb_score"] > 0 > got[101]["nb_score"]


def test_nb_training_deterministic_across_partitionings(spark):
    from incident_pii_redactor_spark.quality.classifier import train_nb_weights
    from incident_pii_redactor_spark.functions.text import quality_prefilter

    d = _docs(spark)
    lab = quality_prefilter("text", min_words=20)
    a = sorted((r["bucket"], r["c_pos"], r["c_neg"], r["w"])
               for r in train_nb_weights(d, lab).collect())
    b = sorted((r["bucket"], r["c_pos"], r["c_neg"], r["w"])
               for r in train_nb_weights(d.repartition(11), lab).collect())
    assert a == b and len(a) > 0


def test_pack_blocks_offsets_contiguous(spark):
    """Within each shard, token offsets must tile exactly (each doc
    starts where the previous ended) and block ids must be the floor of
    offset/2048 — the packed-dataset invariant a training loader relies
    on."""
    import __spark_entry__ as entry

    out = entry.queries()["doc_pack_blocks"](
        spark, "/root/testdata/sf0.001").collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) == 8
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["pos"])
        expect = 0
        for r in rows:
            assert r["tok_offset"] == expect
            assert r["block_id"] == r["tok_offset"] // 2048
            assert r["n_tok"] > 0
            expect += r["n_tok"]


# ---------------------------------------------------------------------------
# HTML -> text extraction
# ---------------------------------------------------------------------------

def test_extract_text_rules(spark):
    from incident_pii_redactor_spark.functions.html import extract_text

    cases = {
        b"<html><head><title>T</title><script>var a='<p>x</p>';</script>"
        b"<style>p{}</style></head><body><p>Para one</p>"
        b"<!-- hidden --><ul><li>one</li><li>two</li></ul></body></html>":
            "T\nPara one\none\ntwo",
        b"<div>a<br>b<BR/>c</div>": "a\nb\nc",
        b"plain text": "plain text",
        # entities decode AFTER tag strip; &amp;lt; must NOT double-decode
        b"<p>x &amp; y &lt;z&gt; &amp;lt;</p>": "x & y <z> &lt;",
        b"<td>cell</td><th>hdr</th>": "cell\nhdr",
    }
    df = spark.createDataFrame([(h,) for h in cases], "html binary")
    got = [r[0] for r in df.select(extract_text("html")).collect()]
    assert got == list(cases.values())


def test_extract_text_sql_twin_byte_identical(spark):
    import duckdb

    from incident_pii_redactor_spark.functions.html import (
        extract_text, extract_text_sql)

    blobs = [
        b"<html><body><h1>A</h1><p>b &quot;c&quot; d</p><script>no</script>"
        b"</body></html>",
        b"<DIV>Upper<HR>case</DIV><p>tail",
        b"<p>multi   space\tand\ttabs</p>",
    ]
    df = spark.createDataFrame([(b,) for b in blobs], "html binary")
    got = [r[0] for r in df.select(extract_text("html")).collect()]
    sql = extract_text_sql("html")
    want = [duckdb.sql(f"SELECT {sql} FROM (SELECT ?::BLOB AS html)",
                       params=[b]).fetchone()[0] for b in blobs]
    assert got == want


def test_extract_text_pages_roundtrip(spark, pages_parquet):
    """North-rule invariant on the synthetic crawl: extracting from the
    html column reproduces the stored text column byte-for-byte for
    every page."""
    from incident_pii_redactor_spark.functions.html import extract_text

    pages = spark.read.parquet(pages_parquet)
    bad = (pages.withColumn("_ex", extract_text("html"))
           .filter(F.col("_ex") != F.col("text")).count())
    assert bad == 0


def test_source_quality_rollup_flags_junk_hosts(spark):
    """A host whose pages are mostly junk gets blocklisted; a mostly-
    clean host does not (page scores from the distilled NB model)."""
    import __spark_entry__ as entry

    out = {r["source"]: r for r in entry.queries()
           ["doc_source_quality_rollup"](spark, "/root/testdata/sf0.001")
           .collect()}
    assert sum(r["n_docs"] for r in out.values()) == 500
    for r in out.values():
        assert r["blocklisted"] == (r["n_keep"] * 2 < r["n_docs"])
        assert 0 <= r["n_keep"] <= r["n_docs"]


def test_ccnet_buckets_proportions(spark):
    """Per language, ~30% head / ~40% middle / ~30% tail (exact cuts on
    percent_rank with total-order tie-break)."""
    import __spark_entry__ as entry

    out = entry.queries()["doc_nb_distilled"](
        spark, "/root/testdata/sf0.001").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["bucket"])
    for lang, buckets in by_lang.items():
        n = len(buckets)
        frac_head = buckets.count("head") / n
        frac_tail = buckets.count("tail") / n
        assert 0.2 <= frac_head <= 0.4, (lang, frac_head)
        assert 0.2 <= frac_tail <= 0.4, (lang, frac_tail)


def test_histogram_quantiles_match_exact(spark):
    """The histogram quantile must equal the exact percentile rounded
    DOWN to its bin — correctness of the cumulative-histogram readoff."""
    import math

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = {r["quantile"]: r["value_floor"]
           for r in entry.queries()["events_value_quantiles"](spark, sf)
           .collect()}
    vals = sorted(r["value"] for r in spark.read.parquet(
        f"{sf}/events.parquet").select("value").collect())
    n = len(vals)
    for name, q in (("p50", 0.50), ("p90", 0.90), ("p99", 0.99)):
        exact = vals[math.ceil(n * q) - 1]
        assert got[name] == math.floor(exact / 0.25) * 0.25


def test_compression_ratio_separates_repetition_from_noise(spark):
    import os
    import random

    from incident_pii_redactor_spark.quality.compression import (
        compression_ratio)

    rng = random.Random(7)
    noise = "".join(chr(rng.randint(33, 126)) for _ in range(2000))
    rows = [(1, "spam spam spam " * 200),      # templated -> tiny ratio
            (2, noise),                         # high-entropy -> ~1.0
            (3, "a modest natural sentence about data pipelines and "
                "their shuffles, with ordinary word variety."),
            (4, "")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    assert got[1]["ratio"] < 0.05 and got[1]["keep"] is False
    assert got[2]["ratio"] > 0.7 and got[2]["keep"] is True
    assert got[3]["keep"] is True
    assert got[4]["ratio"] == 0.0 and got[4]["raw_len"] == 0
    # determinism across partitionings (fixture contract)
    again = {r["doc_id"]: r for r in
             compression_ratio(df.repartition(3)).collect()}
    assert {k: (v["comp_len"], v["ratio"]) for k, v in got.items()} == \
           {k: (v["comp_len"], v["ratio"]) for k, v in again.items()}


def test_license_signals_classes(spark):
    import __spark_entry__ as entry

    out = {r["doc_id"]: r for r in entry.queries()["doc_quality_signals"](
        spark, "/root/testdata/sf0.001").collect()}
    for did, r in out.items():
        m = did % 7
        want = {0: "permissive", 1: "restrictive", 2: "notice",
                3: "permissive"}.get(m, "none")
        assert r["license_class"] == want, (did, r)


def test_clean_unicode_normalizes_web_text(spark):
    from incident_pii_redactor_spark.quality.unicode_clean import (
        clean_unicode, with_clean_text)

    decomposed = "Café"               # e + combining acute
    assert clean_unicode(decomposed) == "Café"  # NFC composed
    assert clean_unicode("a\r\nb\rc") == "a\nb\nc"
    assert clean_unicode("x y z　w") == "x y z w"
    assert clean_unicode("a​b﻿c") == "abc"
    assert clean_unicode("t\x00a\x07b\tc\nd") == "tab\tc\nd"
    assert clean_unicode("") == ""

    df = spark.createDataFrame(
        [(1, decomposed), (2, "plain")], "doc_id bigint, text string")
    got = {r["doc_id"]: r["text"]
           for r in with_clean_text(df).collect()}
    assert got == {1: "Café", 2: "plain"}


def test_clean_unicode_unifies_dedup_keys(spark):
    """Byte-distinct but visually identical pages must share a
    fingerprint AFTER normalization (the reason this op runs before
    dedup)."""
    from incident_pii_redactor_spark.functions.text import fingerprint
    from incident_pii_redactor_spark.quality.unicode_clean import (
        with_clean_text)

    df = spark.createDataFrame(
        [(1, "Café menu"), (2, "Café menu")],
        "doc_id bigint, text string")
    raw = [r[0] for r in df.select(fingerprint("text")).collect()]
    assert raw[0] != raw[1]
    cleaned = [r[0] for r in with_clean_text(df)
               .select(fingerprint("text")).collect()]
    assert cleaned[0] == cleaned[1]


# ---------------------------------------------------------------------------
# distributed k-means
# ---------------------------------------------------------------------------

def test_kmeans_deterministic_and_improves_over_init(spark):
    """Iterations must (a) be partition-invariant bit-for-bit and
    (b) not increase total distortion vs zero iterations (Lloyd's steps
    are monotone non-increasing in within-cluster SSE)."""
    import numpy as np

    from incident_pii_redactor_spark.functions.similarity import (
        kmeans_assign, kmeans_fit)

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c3 = kmeans_fit(df, k=8, n_iter=3)
    c3b = kmeans_fit(df.repartition(7), k=8, n_iter=3)
    assert np.array_equal(c3, c3b)

    c0 = kmeans_fit(df, k=8, n_iter=0)
    d0 = sum(r["dist"] ** 2 for r in kmeans_assign(df, c0).collect())
    d3 = sum(r["dist"] ** 2 for r in kmeans_assign(df, c3).collect())
    assert d3 <= d0 + 1e-9
    out = kmeans_assign(df, c3).collect()
    assert {r["cluster"] for r in out} <= set(range(8))
    assert len({r["cluster"] for r in out}) >= 4  # non-degenerate


def test_semdedup_drops_within_cluster_neighbors_only(spark):
    """Every dropped vector must have a KEPT smaller-id neighbor in the
    SAME cluster above the threshold... and kept vectors must not (the
    one-step min-id-wins contract, verified against brute force)."""
    import numpy as np

    from incident_pii_redactor_spark.functions.similarity import semdedup

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    t = 0.40
    out = semdedup(df, threshold=t).collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], np.float64)
            for r in df.collect()}
    cluster = {r["vec_id"]: r["cluster"] for r in out}

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        d = float(va @ vb) / (np.linalg.norm(va) * np.linalg.norm(vb))
        return d

    dropped = {r["vec_id"] for r in out if not r["keep"]}
    assert dropped  # the corpus has planted near-dups above 0.40
    for r in out:
        vid = r["vec_id"]
        has_smaller_neighbor = any(
            o < vid and cluster[o] == cluster[vid]
            and round(cos(o, vid), 4) >= t + 0.0001
            for o in vecs
        )
        lacks_any = all(
            not (o < vid and cluster[o] == cluster[vid]
                 and round(cos(o, vid), 4) > t - 0.0001)
            for o in vecs
        )
        if has_smaller_neighbor:
            assert vid in dropped
        if lacks_any:
            assert vid not in dropped


def test_canonical_url_idempotent_fuzz(spark):
    """canonical(canonical(u)) == canonical(u) over a deterministic fuzz
    batch — idempotency is what lets pipelines re-canonicalize merged
    corpora safely."""
    import random

    from incident_pii_redactor_spark.functions.text import canonical_url

    rng = random.Random(0)
    schemes = ["http://", "https://", "HTTPS://", "HtTp://"]
    hosts = ["A.b.C", "x.y", "WWW.Site.ORG", "h.io"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/p", "/p/q/", "/P/x"]
    queries = ["", "?a=1", "?utm_a=2", "?a=1&utm_b=3", "?utm_a=1&b=2",
               "?utm_a=1&utm_b=2", "?fbclid=x&a=1"]
    frags = ["", "#f", "#a/b?c"]
    urls = ["".join([rng.choice(schemes), rng.choice(hosts),
                     rng.choice(ports), rng.choice(paths),
                     rng.choice(queries), rng.choice(frags)])
            for _ in range(300)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = canonical_url("url")
    rows = df.select(once.alias("c1")).select(
        "c1", canonical_url(F.col("c1")).alias("c2")).collect()
    bad = [(r["c1"], r["c2"]) for r in rows if r["c1"] != r["c2"]]
    assert not bad, bad[:5]


# ---------------------------------------------------------------------------
# BPE vocabulary induction
# ---------------------------------------------------------------------------

def test_bpe_learns_classic_merges(spark):
    """On the textbook corpus the first merges must capture the shared
    subword structure."""
    from incident_pii_redactor_spark.functions.bpe import train_bpe

    rows = [(i, "low low low lower lower newest newest newest widest")
            for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    merges = train_bpe(df, n_merges=8)
    pairs = [(a, b) for a, b, _ in merges]
    # 'low' (12x) forces l+o then lo+w among the first merges
    assert ("l", "o") in pairs[:3]
    assert ("lo", "w") in pairs[:4]
    # counts are corpus totals (x4 docs): l+o seen in low/lower = 20
    by_pair = {(a, b): c for a, b, c in merges}
    assert by_pair[("l", "o")] == 20


def test_bpe_deterministic_and_capped(spark):
    import pytest as _pytest

    from incident_pii_redactor_spark.functions.bpe import train_bpe

    d = _docs(spark)
    a = train_bpe(d, n_merges=6)
    b = train_bpe(d.repartition(9), n_merges=6)
    assert a == b and len(a) == 6
    with _pytest.raises(ValueError):
        train_bpe(d, n_merges=2, max_vocab_rows=5)


def test_selection_funnel_stage_attribution(spark):
    """drop_stage must name the FIRST failing stage in pipeline order
    and keep_final must equal the conjunction of the stage flags; the
    toy corpus must exercise several distinct stages."""
    import __spark_entry__ as entry

    out = entry.queries()["doc_selection_funnel"](
        spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 500
    stages_seen = set()
    for r in out:
        want_final = (r["keep_url"] and r["keep_exact"]
                      and r["keep_heuristic"] and r["keep_nb"])
        assert r["keep_final"] == want_final
        if not r["keep_url"]:
            assert r["drop_stage"] == "url_dup"
        elif not r["keep_exact"]:
            assert r["drop_stage"] == "exact_dup"
        elif not r["keep_heuristic"]:
            assert r["drop_stage"] == "heuristic"
        elif not r["keep_nb"]:
            assert r["drop_stage"] == "classifier"
        else:
            assert r["drop_stage"] == ""
        stages_seen.add(r["drop_stage"])
    assert {"", "url_dup"} <= stages_seen
    assert len(stages_seen) >= 3


def test_neardup_clusters_match_python_union_find(spark):
    """The distributed min-label components must equal a driver-side
    union-find over the same verified pairs."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    pairs = [(r["id_a"], r["id_b"]) for r in
             entry.queries()["doc_jaccard_verified_pairs"](spark, sf)
             .filter(F.col("jaccard") >= 0.7).collect()]
    assert pairs
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    got = {r["doc_id"]: r["keeper"] for r in
           entry.queries()["doc_neardup_clusters"](spark, sf).collect()}
    assert got == want


def test_tfidf_promotes_distinctive_terms(spark):
    """A term appearing in ONE doc must outrank corpus-wide terms for
    that doc, and every doc must get exactly its top-3."""
    import __spark_entry__ as entry

    rows = [(1, "alpha beta beta gamma unique"),
            (2, "alpha beta gamma gamma"),
            (3, "alpha beta gamma delta")]
    # run on the driver table for shape, then on a constructed one for
    # semantics via the same code path
    out = entry.queries()["doc_top_terms_tfidf"](
        spark, "/root/testdata/sf0.001").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, terms in by_doc.items():
        assert [t["rank"] for t in sorted(terms, key=lambda t: t["rank"])] \
            == list(range(1, len(terms) + 1))
        assert len(terms) <= 3
        # scores are non-increasing with rank
        ts = sorted(terms, key=lambda t: t["rank"])
        assert all(ts[i]["tfidf"] >= ts[i + 1]["tfidf"]
                   for i in range(len(ts) - 1))
    # semantics on a constructed corpus: 'unique' (df=1) tops doc 1
    from incident_pii_redactor_spark.plans import build_session  # noqa

    import __spark_entry__ as e2
    import pyarrow.parquet as pq2
    import pyarrow as pa2
    import tempfile, os
    tmp = tempfile.mkdtemp()
    pq2.write_table(pa2.table({
        "doc_id": pa2.array([r[0] for r in rows], pa2.int64()),
        "text": pa2.array([r[1] for r in rows], pa2.string()),
        "lang": pa2.array(["en"] * 3, pa2.string()),
        "source": pa2.array(["s"] * 3, pa2.string()),
        "n_chars": pa2.array([len(r[1]) for r in rows], pa2.int64()),
    }), os.path.join(tmp, "documents.parquet"))
    got = e2.queries()["doc_top_terms_tfidf"](spark, tmp).collect()
    top1 = {r["doc_id"]: r["term"] for r in got if r["rank"] == 1}
    assert top1[1] == "unique"


def test_extract_text_hostile_inputs_never_crash(spark):
    """Real crawls carry invalid UTF-8, truncated tags, and absurd
    nesting; the extractor must degrade (U+FFFD replacement, literal
    passthrough of an unclosed '<div') rather than fail the task.
    (DuckDB's decode() ERRORS on invalid UTF-8 — one more reason the
    oracle synthesizes valid pages; the ENGINE path is pinned here.)"""
    from incident_pii_redactor_spark.functions.html import extract_text

    blobs = [
        b"\xff\xfe<p>hi</p>",
        b"<p>ok\x80bad</p>",
        b"<div",
        b"<p>" + b"<b>" * 5000 + b"deep" + b"</b>" * 5000 + b"</p>",
        b"",
    ]
    df = spark.createDataFrame([(b,) for b in blobs], "html binary")
    got = [r[0] for r in df.select(extract_text("html")).collect()]
    assert got[0].endswith("hi") and "�" in got[0]
    assert got[1] == "ok�bad"
    assert got[2] == "<div"   # unclosed tag: literal, not dropped text
    assert got[3] == "deep"
    assert got[4] == ""


def test_mixture_weights_flatten_source_skew(spark):
    """doc_source_quality_rollup's UniMax-style T=2 mixture weight:
    weights sum to 1, and the sqrt temperature moves mass from the
    dominant host toward the tail relative to proportional sampling —
    the whole point of temperature-scaled mixtures."""
    import __spark_entry__ as entry

    rows = entry._doc_source_quality_rollup(
        spark, "/root/testdata/sf0.001").collect()
    tokens = {r.source: r.n_tokens for r in rows}
    weights = {r.source: r.mix_weight_t2 for r in rows}
    total = sum(tokens.values())

    assert abs(sum(weights.values()) - 1.0) < 1e-4  # ROUND6 per row
    biggest = max(tokens, key=tokens.get)
    smallest = min(tokens, key=tokens.get)
    if tokens[biggest] > tokens[smallest]:  # guard degenerate uniform
        assert weights[biggest] < tokens[biggest] / total
        assert weights[smallest] > tokens[smallest] / total
    # monotone: more tokens never means a smaller weight
    by_tok = sorted(rows, key=lambda r: r.n_tokens)
    for a, b in zip(by_tok, by_tok[1:]):
        assert a.mix_weight_t2 <= b.mix_weight_t2 + 1e-9


def test_link_count_and_noindex_signals(spark):
    """count_links / has_noindex: anchors need an href (bare <a name=..>
    is not a link), whitespace between '<a' and href is tolerated,
    noindex matches only inside a meta tag, and the DuckDB twins are
    value-identical."""
    import duckdb

    from incident_pii_redactor_spark.functions.html import (
        count_links, count_links_sql, has_noindex, has_noindex_sql)

    pages = [
        ('<a href="/x">x</a><A HREF="/y">y</A>', 2, False),
        ('<a\thref="/x">x</a><a name="anchor">no link</a>', 1, False),
        ('<meta name="robots" content="NOINDEX,nofollow"><a href=/>h</a>',
         1, True),
        ("plain text, noindex as a word, no tags", 0, False),
        ('<meta charset="utf-8">', 0, False),
        ("", 0, False),
        # review round 4: wrapped attributes are links; attribute-name
        # lookalikes are not; content order in the robots meta is free;
        # a meta that merely MENTIONS noindex is no directive
        ('<a\nclass="x"\nhref="/wrapped">w</a>', 1, False),
        ('<a data-href="/x" class=y>not a link</a>', 0, False),
        ('<meta content="noindex" name="robots">', 0, True),
        ('<meta name="description" content="about the noindex tag">',
         0, False),
        # ADVICE round 4: a description meta mentioning BOTH words is
        # not a directive; '<metadata' custom tags are not '<meta';
        # unquoted and wrapped name=robots still are
        ('<meta name="description" content="about robots and noindex">',
         0, False),
        ('<metadata name="robots" content="noindex">', 0, False),
        ("<meta name=robots content=noindex>", 0, True),
        ('<meta\nname = "robots"\ncontent="noindex">', 0, True),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p.encode())) for i, (p, _, _) in enumerate(pages)],
        "id long, html binary")
    got = {r.id: r for r in df.select(
        "id", count_links("html").alias("n"),
        has_noindex("html").alias("x")).collect()}
    for i, (page, want_n, want_x) in enumerate(pages):
        assert got[i].n == want_n, (i, page)
        assert got[i].x is want_x, (i, page)
        row = duckdb.sql(
            f"SELECT {count_links_sql('h')} AS n, {has_noindex_sql('h')} "
            f"AS x FROM (SELECT ?::BLOB AS h)", params=[page.encode()],
        ).fetchone()
        assert (row[0], row[1]) == (want_n, want_x), (i, page)
