"""Dedup / similarity / text / graph function behavior on constructed
data."""

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat and watched the quiet river bend"),
        (2, "the cat sat on the mat and watched the quiet river bend"),  # exact dup
        (3, "the cat sat on the mat and watched the quiet river turn"),  # near dup
        (4, "completely different text about spark shuffles and parquet files"),
        (5, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    from incident_pii_redactor_spark.functions.dedup import exact_dedup_stats

    stats = exact_dedup_stats(docs).collect()
    assert len(stats) == 1
    assert stats[0].n_dups == 2 and stats[0].keeper_id == 1


def test_minhash_near_dup_pair(spark, docs):
    from incident_pii_redactor_spark.functions.dedup import (
        jaccard_on_pairs,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(docs, n_perm=8, bands=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got  # identical docs always collide
    j = jaccard_on_pairs(pairs, docs).collect()
    jmap = {(r.id_a, r.id_b): r.jaccard for r in j}
    assert jmap[(1, 2)] == 1.0
    if (1, 3) in jmap:
        assert 0.0 < jmap[(1, 3)] < 1.0


def test_simhash_similarity_ordering(spark, docs):
    from incident_pii_redactor_spark.functions.dedup import simhash64

    vals = {r.doc_id: r.sh for r in
            docs.select("doc_id", simhash64("text").alias("sh")).collect()}
    assert vals[1] == vals[2]
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(vals[1], vals[3]) < ham(vals[1], vals[4])


def test_cosine_topk_exact(spark):
    from incident_pii_redactor_spark.functions.similarity import cosine_topk

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = cosine_topk(df, [1.0, 0.0], k=2).collect()
    assert [r.vec_id for r in top] == [1, 2]
    assert top[0].cos_sim == 1.0


def test_lsh_ann_recall_on_clusters(spark):
    from incident_pii_redactor_spark.functions.similarity import (
        cosine_topk,
        lsh_ann_topk,
    )

    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(4, 16).astype("float32")
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(50):
            v = base[c] + 0.05 * rng.randn(16).astype("float32")
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = rows[0][1]
    exact = {r.vec_id for r in cosine_topk(df, q, k=10).collect()}
    approx = {r.vec_id for r in lsh_ann_topk(df, q, k=10).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.8, recall


def test_text_column_functions(spark):
    from incident_pii_redactor_spark.functions.text import (
        fingerprint,
        redact_emails,
        token_count_bpe_ish,
        word_count,
    )

    df = spark.createDataFrame(
        [("Hello world, mail me at a@b.co now",)], "text string"
    )
    r = df.select(
        word_count("text").alias("wc"),
        token_count_bpe_ish("text").alias("tc"),
        fingerprint("text").alias("fp"),
        redact_emails("text").alias("red"),
    ).collect()[0]
    assert r.wc == 7
    assert r.tc > r.wc  # punctuation splits into extra tokens
    assert len(r.fp) == 32
    assert "[REDACTED_EMAIL]" in r.red and "a@b.co" not in r.red


def test_recommendations_a6():
    from incident_pii_redactor_spark.core.validate import recommendations

    recs = recommendations(
        {"residual_pii_count": 1, "precision": 0.5,
         "overall_quality_score": 0.4},
        [{"issue_type": "adversarial_hex_run", "severity": "high"}],
    )
    assert len(recs) == 4
    assert recommendations({"residual_pii_count": 0}, []) == []


def test_catalog_adapter_parquet_branch(spark, docs):
    import tempfile, os

    from incident_pii_redactor_spark.sources.catalog import read_pages

    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "t"))
    got = read_pages(spark, os.path.join(d, "t"))
    assert got.count() == docs.count()


def test_ivf_ann_recall_on_clusters(spark):
    import numpy as np

    from incident_pii_redactor_spark.functions.similarity import (
        cosine_topk,
        ivf_ann_topk,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(4, 16).astype("float32")
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(50):
            v = base[c] + 0.05 * rng.randn(16).astype("float32")
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[7][1]
    exact = {r.vec_id for r in cosine_topk(df, q, k=10).collect()}
    approx = {r.vec_id for r in ivf_ann_topk(df, q, k=10, n_list=8,
                                             n_probe=3).collect()}
    assert len(exact & approx) / 10 >= 0.8


def test_minhash_short_docs_never_pair(spark):
    # regression: sentinel signatures used to collide all short docs
    from incident_pii_redactor_spark.functions.dedup import minhash_lsh_pairs

    rows = [(i, w) for i, w in enumerate(["hi", "yo there", "ok", "x y",
                                          "solo", "two words"])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert minhash_lsh_pairs(df).count() == 0


def test_band_pairs_on_hand_written_keys(spark):
    """Two docs sharing two bands give ONE pair; equal values in
    DIFFERENT bands give none (the key encodes the band); string ids
    holding \x00 (jobs/dedup.py's row ids) come out ordered."""
    from incident_pii_redactor_spark.functions.dedup import band_pairs

    keys = spark.createDataFrame(
        [(1, [0, 7, 8]), (2, [0, 7, 8]), (1, [1, 9, 9]), (2, [1, 9, 9]),
         (3, [0, 5, 5]), (4, [1, 5, 5])],
        "_id long, band_key array<bigint>")
    assert sorted(tuple(r) for r in band_pairs(keys).collect()) == [(1, 2)]

    ids = ["b\x00", "a\x00x", "a\x00"]
    keys = spark.createDataFrame([(i, 3) for i in ids],
                                 "_id string, band_key int")
    got = sorted(tuple(r) for r in band_pairs(keys).collect())
    assert got == [("a\x00", "a\x00x"), ("a\x00", "b\x00"),
                   ("a\x00x", "b\x00")]


def test_minhash_lsh_pairs_equal_python_banding(spark):
    """minhash_lsh_pairs == a pure-Python banding of the collected
    signatures: pairs of docs that share all minhashes of any one band,
    short and NULL-text docs excluded. The plan has no nested-loop or
    cartesian join, and ``bands=0`` is a ValueError."""
    from incident_pii_redactor_spark.functions.dedup import (
        _MH_P,
        minhash_lsh_pairs,
        minhash_signature,
    )

    base = "the cat sat on the mat and watched the quiet river bend"
    words = base.split()
    texts = [base, base]
    for i in range(len(words)):  # one-word edits: some share a band
        texts.append(" ".join(words[:i] + ["dog"] + words[i + 1:]))
    texts += ["spark shuffles parquet files across the cluster nodes",
              "spark shuffles parquet files across the cluster racks",
              "tiny", "two words", None,
              # short and NULL docs repeat: the sentinel must keep each
              # out of LSH, never pair them with each other
              "tiny", "two words", None, "", "",
              # exactly one shingle, repeated words, non-ASCII: these do
              # shingle and pair with their copies
              "one shingle only", "one shingle only",
              "a a a a", "a a a a", "größe über straße", "größe über straße"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    n_perm, bands = 12, 4
    r = n_perm // bands
    sigs = df.select("doc_id", minhash_signature("text", 3, n_perm)
                     .alias("s")).collect()
    buckets: dict = {}
    for row in sigs:
        if row.s is None or row.s[0] == _MH_P:
            continue
        for b in range(bands):
            key = (b, tuple(row.s[b * r:(b + 1) * r]))
            buckets.setdefault(key, []).append(row.doc_id)
    want = {(a, c) for ids in buckets.values()
            for a in ids for c in ids if a < c}
    pairs = minhash_lsh_pairs(df, n_perm=n_perm, bands=bands)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = [tuple(x) for x in pairs.collect()]
    assert len(got) == len(set(got))
    assert set(got) == want
    assert (0, 1) in want and len(want) > 1
    assert not {i for p in want for i in p} & {
        i for i, t in enumerate(texts) if t is None or len(t.split(" ")) < 3}
    with pytest.raises(ValueError):
        minhash_lsh_pairs(df, bands=0)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_near_dup_plans_evaluate_each_expression_once(spark):
    """The MinHash band keys hold ONE ``aggregate(`` fold: a ``.filter``
    on the signature's sentinel was pushed below the Project computing
    it, and the plan held two. ``near_dedup``'s plan holds one
    ``array_intersect`` and no ``array_union``: its ``jaccard >= t``
    filter is pushed into the broadcast-join condition, where the
    union-based formula ran 1 intersect and 2 unions per pair. Plans
    only: no job beyond near_dedup's own band-key checkpoint."""
    from incident_pii_redactor_spark.functions.dedup import (
        minhash_band_keys)
    from jobs.dedup import near_dedup, parse_args

    words = "the cat sat on the mat and watched the quiet river bend"
    df = spark.createDataFrame(
        [(f"https://a/{i}", f"{words} {i}") for i in range(6)],
        "url string, text string").withColumn("warc_ts", F.lit(None)
                                              .cast("timestamp"))
    assert _plan(minhash_band_keys(df, id_col="url")).count(
        "aggregate(") == 1
    plan = _plan(near_dedup(df, parse_args(["--input", "x",
                                            "--output", "y"])))
    assert plan.count("array_intersect(") == 1
    assert "array_union(" not in plan


def test_jaccard_verify_runs_in_every_slot(spark, tmp_path):
    """The Jaccard verify stage runs in at least defaultParallelism
    tasks: ``minhash_lsh_pairs`` has ``band_pairs`` hash-partition the
    candidate pairs with an explicit count, which AQE does not merge (it
    merged a few pairs into one partition, and the verify ran in one
    task). The documents come from parquet, as in the dedup job: its
    size statistics let the planner broadcast the shingle sets, so the
    pairs stream through both joins. (An in-memory frame has none, and
    AQE then broadcasts whichever side's stage finishes first.) Read
    from the status tracker: the collect's last job's result stage is
    the verify stage."""
    from incident_pii_redactor_spark.functions.dedup import (
        jaccard_on_pairs,
        minhash_lsh_pairs,
    )

    base = "the cat sat on the mat and watched the quiet river bend"
    texts = [base, base, base + " slowly", "spark shuffles parquet files "
             "across the cluster nodes", "spark shuffles parquet files "
             "across the cluster racks", "tiny"]
    spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string") \
        .write.parquet(str(tmp_path / "docs"))
    df = spark.read.parquet(str(tmp_path / "docs"))
    verified = jaccard_on_pairs(minhash_lsh_pairs(df), df) \
        .filter(F.col("jaccard") >= 0.7)
    sc = spark.sparkContext
    group = "jaccard_verify_tasks"
    sc.setJobGroup(group, group)
    try:
        rows = verified.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (0, 1) in {(r.id_a, r.id_b) for r in rows}
    # the status store is filled by the asynchronous listener bus: drain
    # it, or the collect's own job may not be listed yet
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    last_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    result_stage = tracker.getStageInfo(max(last_job.stageIds))
    assert result_stage.numTasks >= sc.defaultParallelism


_WORDS = ["a", "b", "cat", "größe", "日本", ""]
_doc_text = st.one_of(
    st.none(),
    st.lists(st.sampled_from(_WORDS), max_size=7).map(" ".join),
)


def _py_jaccard(a, b, n=3) -> float:
    def shingles(t):
        w = [] if t is None else t.split(" ")
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


@settings(max_examples=15, deadline=None)
@given(st.lists(_doc_text, min_size=2, max_size=6))
def test_jaccard_on_pairs_equals_python_sets(spark, texts):
    """jaccard_on_pairs on every pair of a small document set equals a
    pure-Python set Jaccard of the 3-word shingles, with 0.0 for an
    empty union: NULL, empty, under-3-word, repeated-word and non-ASCII
    texts included. |A ∪ B| is derived as |A| + |B| - |A ∩ B|, so this
    pins that the derivation is exact."""
    from incident_pii_redactor_spark.functions.dedup import jaccard_on_pairs

    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    ids = range(len(texts))
    pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in jaccard_on_pairs(pairs, docs).collect()}
    assert got == {(a, b): _py_jaccard(texts[a], texts[b])
                   for a in ids for b in ids if a < b}


def test_anonymize_emails_methods(spark):
    """R7 parity: Presidio-style hash/mask/replace/remove operator configs
    (reference pii_redactor.py:90-121) as Catalyst expressions."""
    import hashlib

    from incident_pii_redactor_spark.functions.text import anonymize_emails

    df = spark.createDataFrame(
        [("mail a@b.com and xa@b.com end",)], "text string"
    )
    r = df.select(
        anonymize_emails("text", "hash").alias("h"),
        anonymize_emails("text", "mask").alias("m"),
        anonymize_emails("text", "replace").alias("r"),
        anonymize_emails("text", "remove").alias("x"),
    ).head()
    ha = hashlib.sha256(b"a@b.com").hexdigest()
    hxa = hashlib.sha256(b"xa@b.com").hexdigest()
    assert r.h == f"mail {ha} and {hxa} end"  # suffix containment handled
    assert r.m == "mail a@b**** and xa@b**** end"
    assert r.r == "mail [EMAIL] and [EMAIL] end"
    assert r.x == "mail  and  end"


def test_anonymize_mask_short_match(spark):
    from incident_pii_redactor_spark.functions.text import anonymize_emails

    df = spark.createDataFrame([("x a@b.de y",)], "text string")
    r = df.select(anonymize_emails("text", "mask").alias("m")).head()
    assert r.m == "x a@**** y"  # 6-char match: keep 2, mask last 4


def test_anonymize_containment_prefix_casing(spark):
    """Regression (round-2 review): a containing match that sorts BELOW
    its contained suffix in binary order ('Aa@b.com' < 'a@b.com') must
    still be rewritten first — order is (length desc), not lexicographic."""
    import hashlib

    from incident_pii_redactor_spark.functions.text import anonymize_emails

    df = spark.createDataFrame([("contact Aa@b.com and a@b.com",)],
                               "text string")
    r = df.select(anonymize_emails("text", "hash").alias("h")).head()
    ha = hashlib.sha256(b"a@b.com").hexdigest()
    haa = hashlib.sha256(b"Aa@b.com").hexdigest()
    assert r.h == f"contact {haa} and {ha}"


def test_cosine_zero_norm_is_null_both_paths(spark):
    """Zero-norm embeddings: Column cosine() must yield NULL (not an ANSI
    divide-by-zero abort) and the Arrow verify path that
    embedding_near_dup_pairs and semdedup run must agree."""
    from pyspark.sql import functions as F

    from incident_pii_redactor_spark.functions.similarity import (
        _verify_pairs_arrow,
        cosine,
    )

    df = spark.createDataFrame(
        [(0, 1, [0.0, 0.0], [1.0, 2.0]), (2, 3, [1.0, 0.0], [0.0, 3.0])],
        "id_a bigint, id_b bigint, ea array<float>, eb array<float>",
    )
    col = {r.id_a: r.c for r in df.select(
        "id_a", cosine(F.col("ea"), F.col("eb")).alias("c")).collect()}
    arrow = {r.id_a: r._cos_raw
             for r in _verify_pairs_arrow(df, 2).collect()}
    assert col[0] is None and arrow[0] is None  # zero-norm -> null
    assert abs(col[2]) < 1e-12 and abs(arrow[2]) < 1e-12  # orthogonal -> 0


def test_winnow_fingerprints_shift_robust(spark):
    """Winnowing guarantee: any shared run of n+window-1 words yields at
    least one shared fingerprint, even after a prefix insertion shifts
    every position (whole-doc md5 fingerprints share nothing)."""
    from incident_pii_redactor_spark.functions.dedup import winnow_fingerprints
    from incident_pii_redactor_spark.functions.text import fingerprint

    shared = ("the quick brown fox jumps over the lazy dog near the "
              "riverbank at dawn")
    rows = [(1, shared), (2, "PREFIX INSERTED WORDS " + shared), (3, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (set(r.w), r.fp) for r in df.select(
        "doc_id",
        winnow_fingerprints("text").alias("w"),
        fingerprint("text").alias("fp"),
    ).collect()}
    assert out[1][0] & out[2][0]            # winnow: shared fingerprints
    assert out[1][1] != out[2][1]           # md5: nothing shared
    assert out[3][0] == set()               # unshingleable -> empty set


def test_deterministic_sample_stability(spark):
    """Hash sampling is a pure function of (key, seed): invariant under
    repartitioning (df.sample is not), seed-sensitive, near-rate."""
    from incident_pii_redactor_spark.functions.sampling import (
        sample_hash,
        sample_threshold,
    )

    def sample(df, seed=42):
        keep = sample_hash("doc_id", seed) < sample_threshold(0.2)
        return {r.doc_id for r in df.filter(keep).collect()}

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    a = sample(df)
    b = sample(df.repartition(17))
    assert a == b and 0.17 < len(a) / 5000 < 0.23
    assert sample(df, seed=7) != a


def test_keyword_gate_unicode_case_variants():
    """Review regression: the ASCII substring gate must not drop Unicode
    case variants the IGNORECASE regex matches ('paſsword', 'İNTERNAL')."""
    from incident_pii_redactor_spark.core.detectors import detect_keywords

    assert any(s.entity_type == "internal_keyword"
               for s in detect_keywords("the paſsword leaked", []))
    assert any(s.entity_type == "internal_keyword"
               for s in detect_keywords("İNTERNAL memo", []))
    assert detect_keywords("a perfectly clean sentence", []) == []


def test_sample_fraction_rounding(spark):
    """Review regression: int() truncation lost a bucket for fractions
    like 0.29 (0.29*1e6 == 289999.99999999994)."""
    from incident_pii_redactor_spark.functions.sampling import (
        sample_hash,
        sample_threshold,
    )

    df = spark.range(20000).select(F.col("id").alias("doc_id"))
    got = {r.doc_id for r in df.filter(
        sample_hash("doc_id") < sample_threshold(0.29)).collect()}
    by_bucket = {r.doc_id: r.b for r in df.select(
        "doc_id", sample_hash("doc_id").alias("b")).collect()}
    expected = {k for k, b in by_bucket.items() if b < 290000}
    assert got == expected  # the natural-literal cutoff, not 289999


def test_kmv_sketch_two_level_merge_is_exact(spark):
    """Round-3 scale fix (VERDICT item 4): the per-partition partial
    top-k + merge must yield the SAME k global minima as a single global
    pass (the union of per-partition k-minima provably contains the
    global k minima), and the (k-1)*M/kth_min estimate must land within
    the KMV error envelope (~1/sqrt(k-1) per std; 4 stds asserted)."""
    import re

    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = {r.lang: r for r in
           entry._doc_word_kmv_sketch(spark, sf).collect()}

    pdf = pq.read_table(f"{sf}/documents.parquet",
                        columns=["lang", "text"]).to_pandas()
    M = 1 << 30
    per_lang: dict[str, set[str]] = {}
    for lang, text in zip(pdf["lang"], pdf["text"]):
        per_lang.setdefault(lang, set()).update(
            w for w in re.split(r"\s+", text.lower()) if w)
    assert set(got) == set(per_lang)
    for lang, words in per_lang.items():
        hs = sorted({int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % M
                     for w in words})
        mins = hs[:64]
        r = got[lang]
        assert r.k_kept == len(mins)
        if len(mins) >= 64:
            assert r.kth_min == mins[63]  # exact global kth minimum
            rel_err = abs(r.est_distinct - len(hs)) / len(hs)
            assert rel_err < 4 / (63 ** 0.5)
        else:
            assert r.kth_min is None and r.est_distinct == float(len(mins))


def test_two_level_topk_ops_partition_invariant(spark):
    """doc_source_cap and doc_word_kmv_sketch aggregate per input
    partition (spark_partition_id) before merging — their RESULTS must
    be invariant to how the input happens to be partitioned, or resumes
    and cluster-size changes would flip rows. Exercised by forcing
    1, 3, and 16 partitions over the same table."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    base_cap = entry._doc_source_cap(spark, sf).collect()
    base_kmv = entry._doc_word_kmv_sketch(spark, sf).collect()

    real_t = entry._t
    try:
        for n in (1, 3, 16):
            entry._t = lambda s, d, name, _n=n: real_t(s, d, name) \
                .repartition(_n)
            assert entry._doc_source_cap(spark, sf).collect() == base_cap
            assert entry._doc_word_kmv_sketch(spark, sf).collect() == base_kmv
    finally:
        entry._t = real_t


def test_connected_components_chains_and_isolates(spark):
    """Min-label propagation: a 4-chain, a triangle, and a pair resolve
    to their component minima; convergence beyond direct neighbors is
    the point (1-4 never share an edge)."""
    from incident_pii_redactor_spark.functions.graph import (
        cluster_keepers,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain: diameter 3
         (10, 11), (11, 12), (10, 12),    # triangle
         (20, 21)],
        "id_a long, id_b long")
    got = {r.node: r.comp
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}
    drops = {r.node for r in cluster_keepers(edges)
             .filter("node != keeper").collect()}
    assert drops == {2, 3, 4, 11, 12, 21}

    import pytest

    with pytest.raises(RuntimeError, match="fixed point"):
        # diameter-3 chain; algorithm="label" keeps the strict raise
        connected_components(edges, max_iter=1, algorithm="label")

    # default "auto": the same over-budget call falls back to
    # large-star/small-star and still returns the exact labeling
    got_auto = {r.node: r.comp
                for r in connected_components(edges, max_iter=1).collect()}
    assert got_auto == got

    # review round 4: a caller-raised budget reaches the star phase
    # (it was silently dropped before) — but never SHRINKS it below
    # the 40-round safety net: max_iter=1 + algorithm='star' must
    # still converge, and a raised budget must not change the answer
    got_star = {r.node: r.comp
                for r in connected_components(
                    edges, max_iter=1, algorithm="star").collect()}
    assert got_star == got
    got_star_big = {r.node: r.comp
                    for r in connected_components(
                        edges, max_iter=200, algorithm="star").collect()}
    assert got_star_big == got


def test_connected_components_star_path_graph_logn_rounds(spark):
    """Large-star/small-star (Kiveris et al. 2014) on a 50-edge path
    graph: min-label propagation needs 50 rounds (O(diameter)); the
    star algorithm must converge inside an O(log n) budget of 10
    rounds and label every node with the path minimum."""
    from incident_pii_redactor_spark.functions.graph import (
        connected_components_star,
    )

    n = 51
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    got = {r.node: r.comp
           for r in connected_components_star(edges, max_iter=10)
           .collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_star_matches_union_find(spark):
    """Star CC equals a python union-find oracle on a messy random
    graph (multi-component, duplicate + reversed + self edges)."""
    import random

    from incident_pii_redactor_spark.functions.graph import (
        connected_components_star,
    )

    rng = random.Random(42)
    nodes = list(range(200))
    raw = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    raw += [(b, a) for a, b in raw[:30]] + [(7, 7), (42, 42)]

    parent = {v: v for ab in raw for v in ab}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw:
        parent[find(a)] = find(b)
    want_sets = {}
    for v in parent:
        want_sets.setdefault(find(v), set()).add(v)
    want = {v: min(s) for s in want_sets.values() for v in s}

    edges = spark.createDataFrame(raw, "id_a long, id_b long")
    got = {r.node: r.comp
           for r in connected_components_star(edges).collect()}
    assert got == want
