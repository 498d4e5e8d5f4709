"""The acceptance gate (BASELINE.md): Spark pipeline vs single-node oracle
on the 2,000-page fixture — keep/drop F1 >= 0.99 (expected exactly 1.0)
and BYTE-IDENTICAL scrubbed text per url; plus partitioning invariance
(Arrow batch boundaries must not affect any per-row value)."""

import pandas as pd
import pytest

from incident_pii_redactor_spark.core import scrub_document
from incident_pii_redactor_spark.operators import quality_scrub
from incident_pii_redactor_spark.quality.scorer import WEB_DEFAULT, quality_signals


@pytest.fixture(scope="module")
def oracle(pages_pdf):
    """Single-node reference labels (SURVEY.md §7 step 1): plain pandas
    quality scoring + row-at-a-time scrub via the shared core function."""
    sig = quality_signals(pages_pdf["text"], WEB_DEFAULT)
    rows = []
    for url, text, keep in zip(pages_pdf["url"], pages_pdf["text"], sig["keep"]):
        rows.append(
            {
                "url": url,
                "keep": bool(keep),
                "text_scrubbed": scrub_document(text).text_scrubbed if keep else None,
            }
        )
    return pd.DataFrame(rows).set_index("url")


@pytest.fixture(scope="module")
def spark_out(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet)
    out = quality_scrub(df).select("url", "keep", "text_scrubbed", "n_redactions",
                                   "drop_reason").toPandas()
    return out.set_index("url")


def test_row_counts(oracle, spark_out):
    assert len(oracle) == len(spark_out) == 2000


def test_keep_drop_f1(oracle, spark_out):
    merged = oracle.join(spark_out, lsuffix="_o", rsuffix="_s")
    tp = ((merged.keep_o) & (merged.keep_s)).sum()
    fp = ((~merged.keep_o) & (merged.keep_s)).sum()
    fn = ((merged.keep_o) & (~merged.keep_s)).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"F1={f1}"
    assert f1 == 1.0  # both sides share the model — must agree exactly


def test_byte_identical_scrubbed_text(oracle, spark_out):
    merged = oracle.join(spark_out, lsuffix="_o", rsuffix="_s")
    kept = merged[merged.keep_o]
    mismatch = kept[kept.text_scrubbed_o != kept.text_scrubbed_s]
    assert mismatch.empty, mismatch.index[:5].tolist()


def test_pii_class_scrubbed(spark_out):
    pii = spark_out[spark_out.index.str.contains("/pii/") & spark_out.keep]
    assert len(pii) > 50
    assert (pii.n_redactions >= 5).all()
    assert pii.text_scrubbed.str.contains("REDACTED_EMAIL", regex=False).all()


def test_luhn_invalid_near_miss_retained(spark_out, pages_pdf):
    """Every pii doc embeds a Luhn-INVALID near-miss card that must survive."""
    src = pages_pdf.set_index("url")
    pii = spark_out[spark_out.index.str.contains("/pii/") & spark_out.keep]
    for url in pii.index[:25]:
        line = [l for l in src.loc[url, "text"].split("\n") if "is a typo" in l][0]
        bad_card = line.split()[-4]
        assert bad_card in pii.loc[url, "text_scrubbed"]


def test_premarked_placeholders_not_flagged(spark_out):
    pre = spark_out[spark_out.index.str.contains("/premarked/") & spark_out.keep]
    assert len(pre) > 20
    assert pre.text_scrubbed.str.contains("[REDACTED_EMAIL]", regex=False).all()


def test_partitioning_invariance(spark, pages_parquet):
    """local batch/partition boundaries must not change a single value —
    the per-row function is pure (SURVEY.md §7 'determinism under
    parallelism')."""
    df = spark.read.parquet(pages_parquet)
    a = (
        quality_scrub(df.repartition(2))
        .select("url", "keep", "text_scrubbed", "n_redactions")
        .toPandas().set_index("url").sort_index()
    )
    b = (
        quality_scrub(df.repartition(13))
        .select("url", "keep", "text_scrubbed", "n_redactions")
        .toPandas().set_index("url").sort_index()
    )
    pd.testing.assert_frame_equal(a, b)


def test_scrub_plan_is_narrow_and_pruned(spark, pages_parquet):
    """Physical-plan assertions: no KEYED shuffle in the scrub stage
    (the only Exchange ever allowed is the conditional round-robin
    scan-parallelism floor, a no-op at real scale); the html:binary
    column never reaches the scan output (column pruning)."""
    df = spark.read.parquet(pages_parquet)
    plan = quality_scrub(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # never a keyed shuffle
    assert "Exchange rangepartitioning" not in plan
    assert "html" not in plan  # pruned at the parquet scan


def test_scan_parallelism_floor_is_noop_on_wide_input(spark, pages_parquet):
    """The floor must vanish when the source already has >= default
    parallelism partitions — the production (many-splits) case — and
    after an exchange, which already sized the stage. It decides from
    the physical plan alone: no frame makes it start a Spark job, and
    no module of the package asks a frame for its RDD."""
    import pathlib

    import incident_pii_redactor_spark
    from incident_pii_redactor_spark.plans import scan_parallelism_floor

    sc = spark.sparkContext
    p = sc.defaultParallelism
    scan = spark.read.parquet(pages_parquet)
    assert scan.rdd.getNumPartitions() == 1  # one small file, one split
    frames = {
        "scan": scan,
        "checkpoint": scan.localCheckpoint(),
        "wide_checkpoint": scan.repartition(p + 1).localCheckpoint(),
        "exchange": scan.repartition(8, "url"),
        "distinct": scan.select("url").distinct(),
    }
    floored = {}
    for name, df in frames.items():
        group = "floor_jobs_" + name
        sc.setJobGroup(group, "scan_parallelism_floor")
        try:
            floored[name] = scan_parallelism_floor(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0, name
    for name in ("scan", "checkpoint"):
        assert floored[name].rdd.getNumPartitions() == p, name
    for name in ("wide_checkpoint", "exchange", "distinct"):
        assert floored[name] is frames[name], name
    pkg = pathlib.Path(incident_pii_redactor_spark.__file__).parent
    with_rdd = [str(f.relative_to(pkg)) for f in sorted(pkg.rglob("*.py"))
                if ".rdd" in f.read_text()]
    assert with_rdd == []


def test_toxic_class_dropped(spark_out):
    tox = spark_out[spark_out.index.str.contains("/toxic/")]
    assert len(tox) > 30
    assert (~tox.keep).all()
    assert (tox.drop_reason == "toxicity").all()


def test_mask_toxicity_optin(spark):
    df = spark.createDataFrame(
        [("u1", "the quick brown fox jumps over the lazy dog and runs through "
                "the green field while the sun rises slowly over the hills and "
                "one moron said hello to the crowd near the market today again "
                "and the children wanted to play outside near the old stone "
                "bridge where the river bends this morning we walked to town")],
        "url string, text string")
    out = quality_scrub(df, mask_toxicity=True).collect()[0]
    assert out.keep
    assert "[TOXIC]" in out.text_scrubbed and "moron" not in out.text_scrubbed


def test_keep_drop_f1_and_scrub_byte_identity_vs_oracle(spark):
    """The north-rule acceptance criterion, stated as itself: keep/drop
    F1 vs the oracle labels >= 0.99 (measured: exactly 1.0 — the oracle
    IS the shared core, so labels agree by construction) and
    byte-identical scrubbed text per document."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    oracle = pq.read_table(
        "tests/fixtures/scrub_documents_sf0.01.parquet"
    ).to_pandas().set_index("doc_id").sort_index()
    got = (entry._scrub_documents(spark, "/root/testdata/sf0.01")
           .toPandas().set_index("doc_id").sort_index())
    assert list(got.index) == list(oracle.index)

    tp = int((got["keep"] & oracle["keep"]).sum())
    fp = int((got["keep"] & ~oracle["keep"]).sum())
    fn = int((~got["keep"] & oracle["keep"]).sum())
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    f1 = 2 * precision * recall / max(precision + recall, 1e-12)
    assert f1 >= 0.99, f"keep/drop F1 {f1:.4f} below the 0.99 gate"
    assert f1 == 1.0  # shared-core construction: exact agreement

    same_text = (got["text_scrubbed"].fillna("\x00")
                 == oracle["text_scrubbed"].fillna("\x00"))
    assert bool(same_text.all())  # byte-identical scrubbed text per doc
