"""Production scrub job: resumable quality-filter + PII-scrub over a pages table.

Usage (spark-submit chooses the master; ship the package with --py-files):

    spark-submit --py-files engine.zip jobs/scrub.py \
        --input  /data/pages_parquet \
        --output /data/pages_scrubbed \
        --manifest /data/pages_scrubbed__manifest \
        --run-id run1 --n-buckets 64 --bucket-group-size 8 \
        --completed-ts 2025-01-01T00:00:00

Execution model (SURVEY.md §3.4):
  read input -> content-derived bucket ids -> collect the manifest's
  completed buckets (none, with no Spark job, while it has no _SUCCESS)
  -> loop over the GROUPS of the remaining buckets: filter the input on
  the group's bucket ids, one narrow mapInPandas scrub pass, ONE write
  partitioned by bucket (its row count, quarantined rows and each
  bucket's manifest counters observed on the write, no extra count job),
  ONE typed read-back rolling up redactions_by_type over only the bucket
  dirs the observation says got rows, then one manifest append of the
  rows the driver built from both.
  A row whose scrub raises is quarantined (keep=false,
  drop_reason='error:<Type>') and counted; it never fails the task.
  A crash loses at most one in-flight group; restart skips everything
  manifested (tests/test_resume.py crashes runs right after a chosen
  manifest append and resumes them). Output is byte-identical to a cold
  run because every per-row value is a pure function of the row (md5
  pseudonyms, no wall clock — completed_ts is a job ARG, FIXTURES.md F4).

Scale notes: the scrub itself is shuffle-free; the only shuffles are the
per-group redactions_by_type rollup (tiny) and, with --salt, a url-hash
exchange to defaultParallelism tasks that evens out task sizes over
skewed, unsplittable input files; the scrub keeps its sizing. html:binary
is pruned at the parquet scan because the operator selects only (url, text).
"""

from __future__ import annotations

import os
import sys

# allow direct `python jobs/scrub.py` from the repo root (the
# documented CLI surface): the script dir is jobs/, so the package
# root one level up must be importable without PYTHONPATH
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse

from pyspark.sql import Observation
from pyspark.sql import functions as F

from incident_pii_redactor_spark.operators.resume import (
    BUCKET_COL,
    append_manifest,
    bucket_counters,
    completed_buckets,
    with_bucket,
)
from incident_pii_redactor_spark.sources.catalog import read_pages
from incident_pii_redactor_spark.operators.scrub import quality_scrub
from incident_pii_redactor_spark.plans import build_session
from incident_pii_redactor_spark.quality.scorer import WEB_DEFAULT


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="parquet path or iceberg:<catalog.db.table>")
    p.add_argument("--output", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--run-id", default="run1")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--bucket-group-size", type=int, default=8)
    p.add_argument("--completed-ts", default="2025-01-01T00:00:00")
    p.add_argument("--from-html", action="store_true",
                   help="derive text = extract_text(html) instead of the "
                        "pre-extracted text column (functions/html.py; "
                        "the raw-crawl ingestion path)")
    p.add_argument("--from-warc", action="store_true",
                   help="--input is WARC/WET crawl files (glob ok), not a "
                        "pages table: sources/warc.py streams records one "
                        "task per file (WARC is unsplittable). Response "
                        "records get text = extract_text(html); WET "
                        "conversion records keep their extracted text")
    p.add_argument("--c4-line-filter", action="store_true",
                   help="apply C4 line-level cleaning (Raffel et al. "
                        "2020: terminal punctuation, >=5 words, no "
                        "javascript boilerplate) and drop pages failing "
                        "the C4 page rules (lorem ipsum / code braces / "
                        "<3 sentences) BEFORE quality scoring. Pure "
                        "Catalyst narrow map — no shuffle added")
    p.add_argument("--salt", action="store_true",
                   help="url-hash repartition to default parallelism "
                        "before scrubbing: evens out task sizes over "
                        "skewed, unsplittable input files")
    p.add_argument("--ignore-corrupt-files", action="store_true",
                   help="skip unreadable input files instead of failing "
                        "the job (spark.sql.files.ignoreCorruptFiles): at "
                        "crawl scale some shards WILL have truncated "
                        "footers, and one of ~800k files must not kill a "
                        "resume-capable run. Default off — silent data "
                        "loss should be an explicit operator decision")
    args = p.parse_args(argv)
    # zero buckets would run zero groups and report success with nothing
    # written; a zero group size would crash in range()
    for opt, v in (("--n-buckets", args.n_buckets),
                   ("--bucket-group-size", args.bucket_group_size)):
        if v < 1:
            p.error(f"{opt} must be >= 1, got {v}")
    return args


def run(args, spark=None) -> dict:
    owns_session = spark is None
    if owns_session:
        spark = build_session("pii-scrub-job")
    _corrupt_key = "spark.sql.files.ignoreCorruptFiles"
    _corrupt_old = spark.conf.get(_corrupt_key)
    if args.ignore_corrupt_files:
        spark.conf.set(_corrupt_key, "true")
    try:
        if args.from_warc and args.from_html:
            # --from-warc already extracts text for response records
            # while PRESERVING WET records' extracted text; a blanket
            # --from-html re-extraction would overwrite WET text with
            # extract_text(NULL html) = NULL — silent data loss
            # (review round 5)
            raise SystemExit(
                "--from-warc and --from-html are mutually exclusive: "
                "the WARC path already extracts text from response "
                "records and keeps WET conversion text")
        if args.from_warc:
            from incident_pii_redactor_spark.functions.html import extract_text
            from incident_pii_redactor_spark.sources.warc import read_warc

            df = read_warc(spark, args.input)
            # response records arrive text-NULL (html only); WET
            # conversion records arrive with extracted text. coalesce
            # fills exactly the former, so mixed WARC+WET globs work
            df = df.withColumn(
                "text", F.coalesce("text", extract_text("html")))
        else:
            df = read_pages(spark, args.input)
        if args.from_html:
            from incident_pii_redactor_spark.functions.html import extract_text

            # NOTE: this re-materializes text from html, so the scrub
            # operator's html-column pruning no longer applies to this
            # run — the scan must read html by definition of the path
            df = df.withColumn("text", extract_text("html"))
        if args.c4_line_filter:
            from incident_pii_redactor_spark.functions.text import (
                c4_line_filter,
            )

            df = c4_line_filter(df)
        df = with_bucket(df, "url", args.n_buckets)

        done = completed_buckets(spark, args.manifest, args.run_id)
        remaining = sorted(set(range(args.n_buckets)) - done)
        groups = [
            remaining[i: i + args.bucket_group_size]
            for i in range(0, len(remaining), args.bucket_group_size)
        ]
        stats = {"groups_run": 0, "buckets_done": len(done), "rows": 0,
                 "quarantined": 0}
        for group in groups:
            chunk = df.filter(F.col(BUCKET_COL).isin(group))
            if args.salt:
                chunk = chunk.repartition(
                    spark.sparkContext.defaultParallelism, "url")
            out = quality_scrub(
                chunk, id_cols=("url", "warc_ts", "lang", BUCKET_COL),
                cfg=WEB_DEFAULT,
            )
            # an Observation is single-use: one per group's write
            obs = Observation()
            # dynamic partition OVERWRITE (not append): re-running a group
            # after a crash-between-output-and-manifest replaces the same
            # bucket partitions instead of duplicating them — the write is
            # idempotent per bucket, which is what makes resume exact
            out.observe(
                obs, F.count(F.lit(1)).alias("rows"),
                F.count(F.when(F.col("drop_reason").startswith("error:"), 1))
                .alias("quarantined"),
                *bucket_counters(group),
            ).write.mode("overwrite").partitionBy(BUCKET_COL) \
                .option("partitionOverwriteMode", "dynamic") \
                .parquet(args.output)
            observed = obs.get
            append_manifest(spark, args.manifest, args.output, group,
                            observed, args.run_id, args.completed_ts)
            stats["groups_run"] += 1
            stats["buckets_done"] += len(group)
            stats["rows"] += observed["rows"]
            stats["quarantined"] += observed["quarantined"]
        return stats
    finally:
        if owns_session:
            spark.stop()
        else:
            spark.conf.set(_corrupt_key, _corrupt_old)  # reused session


if __name__ == "__main__":
    print(run(parse_args()))
