"""Round-2 feature tour: the operators added beyond the reference's
surface — anonymize methods, deterministic sampling, near-dup dedup
(batch LSH and the exact scale path), winnowing fingerprints, as-of and
range joins, and the pluggable judge seam.

Run: python examples/round2_features.py
"""

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from incident_pii_redactor_spark.core import scrub_document
from incident_pii_redactor_spark.core.arbitration import judge_spans
from incident_pii_redactor_spark.functions.dedup import winnow_fingerprints
from incident_pii_redactor_spark.functions.sampling import (
    sample_hash,
    sample_threshold,
)
from incident_pii_redactor_spark.functions.similarity import (
    embedding_near_dup_pairs,
)
from incident_pii_redactor_spark.functions.text import anonymize_emails
from incident_pii_redactor_spark.operators.asof import asof_join, range_join
from incident_pii_redactor_spark.plans import build_session


def main() -> None:
    spark = build_session("round2-tour", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.createDataFrame(
        [(1, "contact alice@acme.com or Bob.Smith@corp.io today", "en"),
         (2, "the quick brown fox jumps over the lazy dog at dawn", "en"),
         (3, "the quick brown fox leaps over the lazy dog at dawn", "en"),
         (4, "ein völlig anderes deutsches dokument über katzen", "de")],
        "doc_id long, text string, lang string",
    )

    print("== anonymize methods (Presidio hash/mask parity) ==")
    docs.select(
        "doc_id",
        anonymize_emails("text", "hash").alias("hashed"),
        anonymize_emails("text", "mask").alias("masked"),
    ).show(truncate=60)

    print("== deterministic sampling (stable across partitionings) ==")
    big = spark.range(1000).select(F.col("id").alias("doc_id"))
    print("10% sample size:",
          big.filter(sample_hash("doc_id") < sample_threshold(0.10)).count())

    print("== winnowing fingerprints (shift-robust) ==")
    docs.select("doc_id", winnow_fingerprints("text").alias("fps")).show(
        truncate=50)

    print("== embedding near-dup (banded LSH + exact verify) ==")
    vecs = spark.createDataFrame(
        [(i, [float((i % 3) + 1), float(i % 3), 0.5]) for i in range(9)],
        "vec_id long, embedding array<float>",
    )
    embedding_near_dup_pairs(vecs, threshold=0.95, bands=8).orderBy(
        "id_a", "id_b").show(8)

    print("== as-of join (latest order at event time) ==")
    events = spark.createDataFrame(
        [(1, 7, dt.datetime(2024, 1, 5)), (2, 7, dt.datetime(2024, 1, 20))],
        "event_id long, custkey long, ts timestamp",
    )
    orders = spark.createDataFrame(
        [(7, dt.datetime(2024, 1, 3), 100), (7, dt.datetime(2024, 1, 10), 200)],
        "custkey long, odate timestamp, okey long",
    )
    asof_join(events, orders, on="custkey", left_ts="ts", right_ts="odate",
              right_cols=["okey"], right_order=["odate", "okey"]).show()

    print("== range join (events inside windows, no BNLJ) ==")
    windows = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 4), dt.datetime(2024, 1, 6))],
        "wid long, s timestamp, e timestamp",
    )
    range_join(events, windows, "ts", "s", "e").show()

    print("== pluggable judge seam ==")
    text = "the prod cluster touched alice@acme.com"

    def strict_judge(t, spans):
        from incident_pii_redactor_spark.core.spans import REDACT, SRC_JUDGE

        return {s.key(): s.copy(source=SRC_JUDGE, action=REDACT,
                                confidence=0.9)
                for s in spans if s.entity_type == "internal_keyword"}

    print("default :", scrub_document(text).text_scrubbed)
    print("strict  :", scrub_document(text, judge_fn=strict_judge)
          .text_scrubbed)
    print("explicit:", scrub_document(
        text, judge_fn=lambda t, s: judge_spans(s)).text_scrubbed)

    spark.stop()


if __name__ == "__main__":
    main()
