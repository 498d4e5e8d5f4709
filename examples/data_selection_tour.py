"""Data-selection tour (round-3 second wave): canonical-URL dedup,
hashed linear classifier, NB distillation, DSIR weights, PQ codes,
BPE training and deterministic shard layout — all runnable offline.

    python examples/data_selection_tour.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from incident_pii_redactor_spark.plans import build_session  # noqa: E402


def main() -> None:
    spark = build_session("data-selection-demo", master="local[4]",
                          shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    print("== canonical-URL dedup ==")
    from incident_pii_redactor_spark.functions.text import canonical_url

    urls = spark.createDataFrame(
        [(1, "HTTPS://News.Example.COM:443/story/42?utm_source=feed#top"),
         (2, "https://news.example.com/story/42"),
         (3, "https://news.example.com/story/42?utm_campaign=x")],
        "snap_id long, url string")
    (urls.groupBy(canonical_url("url").alias("canonical"))
         .agg(F.count("*").alias("n_snapshots"),
              F.min("snap_id").alias("keep"))
         .show(truncate=False))

    print("== hashed linear quality classifier (broadcast model) ==")
    from incident_pii_redactor_spark.quality.classifier import classify_quality

    docs = spark.createDataFrame(
        [(1, "spark data query join window merge"),
         (2, "free casino click winner subscribe"),
         (3, "slow dup small the a")],
        "doc_id long, text string")
    classify_quality(docs).orderBy("doc_id").show()

    print("== NB distillation: judge labels -> cheap model -> held-out ==")
    from incident_pii_redactor_spark.quality.classifier import (
        classify_nb, train_nb_weights)

    labeled = spark.createDataFrame(
        [(1, "protein enzyme substrate kinetics", True),
         (2, "neuron cortex synapse signal", True),
         (3, "casino bonus jackpot winner", False),
         (4, "discount offer subscribe deal", False)],
        "doc_id long, text string, label boolean")
    model = train_nb_weights(labeled, F.col("label"))
    heldout = spark.createDataFrame(
        [(10, "enzyme signal cortex"), (11, "jackpot offer deal")],
        "doc_id long, text string")
    classify_nb(heldout, model).orderBy("doc_id").show()

    print("== DSIR importance weights (target vs raw) ==")
    from incident_pii_redactor_spark.quality.dsir import dsir_weights

    corpus = labeled.withColumnRenamed("label", "tgt")
    dsir_weights(corpus, F.col("tgt")).orderBy("doc_id").show()

    print("== PQ codes ==")
    from incident_pii_redactor_spark.functions.similarity import pq_codes

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pq_codes(emb, m=16).orderBy("vec_id").show(3, truncate=False)

    print("== HTML -> text extraction (pure Catalyst) ==")
    from incident_pii_redactor_spark.functions.html import extract_text

    html = spark.createDataFrame(
        [(1, b"<html><head><script>x</script></head><body><h1>Title</h1>"
             b"<p>Body &amp; more</p></body></html>")],
        "id long, html binary")
    html.select(extract_text("html").alias("text")).show(truncate=False)

    print("== k-means + SemDeDup (clusters bound the pairwise step) ==")
    from incident_pii_redactor_spark.functions.similarity import semdedup

    sd = semdedup(emb, threshold=0.40)
    sd.groupBy("keep").count().show()

    print("== BPE tokenizer training on the corpus ==")
    from incident_pii_redactor_spark.functions.bpe import train_bpe

    corpus = spark.createDataFrame(
        [(1, "low low low lower lower newest newest widest")],
        "doc_id long, text string")
    merges = train_bpe(corpus, n_merges=6)
    print("merges:", [(a, b) for a, b, _ in merges])

    print("== deterministic training-shard layout ==")
    from incident_pii_redactor_spark.functions.sampling import shard_assignment

    d = spark.range(20).withColumnRenamed("id", "doc_id")
    shard_assignment(d, 4, "doc_id").orderBy("shard", "pos").show(8)

    spark.stop()


if __name__ == "__main__":
    main()
