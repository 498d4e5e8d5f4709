"""Streaming scrub job: the production CLI around
``streaming/scrub_stream.py`` — continuously scrub pages landing in a
directory (the streaming counterpart of jobs/scrub.py), with optional
upstream near-dup dedup and a side metrics stream.

    spark-submit --py-files dist/engine.zip jobs/stream_scrub.py \
        --input /landing/pages --output /data/scrubbed \
        --checkpoint /data/ckpt [--dedup] [--metrics /data/metrics] \
        [--available-now]

Exactly-once: the parquet sink's commit log + the checkpoint make
restarts resume from the last committed microbatch (verified by
tests/test_scale_ops.py::test_streaming_checkpoint_recovery). State for
--dedup is TTL-bounded (streaming/neardup_stream.py). ``--available-now``
drains what exists and exits (batch-over-stream semantics for cron-style
deployments); the default runs until terminated.
"""

from __future__ import annotations

import os
import sys

# allow direct `python jobs/stream_scrub.py` from the repo root (the
# documented CLI surface): the script dir is jobs/, so the package
# root one level up must be importable without PYTHONPATH
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse

from incident_pii_redactor_spark.plans import build_session
from incident_pii_redactor_spark.streaming.scrub_stream import (
    read_pages_stream,
    scrub_stream,
    windowed_metrics,
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--metrics", default=None,
                   help="optional path for the windowed metrics stream")
    p.add_argument("--url-dedup", action="store_true",
                   help="ALSO suppress cross-snapshot re-crawls: exact "
                        "first-seen dedup keyed on the CANONICAL URL "
                        "(functions/text.py:canonical_url) upstream of "
                        "the near-dup stage")
    p.add_argument("--dedup", action="store_true",
                   help="near-dup dedup upstream of the scrub")
    p.add_argument("--state-ttl-hours", type=int, default=24,
                   help="dedup state TTL in EVENT time (watermark-driven "
                        "eviction): bounds state for continuous AND "
                        "repeated --available-now cron runs — each run's "
                        "new data advances the watermark and evicts "
                        "buckets older than the TTL. 0 = unbounded state "
                        "(never use processing-time timers here: they "
                        "keep drained queries alive forever)")
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--rocksdb", action="store_true",
                   help="back streaming state with RocksDB instead of "
                        "the in-memory HDFS-backed store: dedup state "
                        "spills to local disk, so per-executor state is "
                        "bounded by disk, not heap — the right provider "
                        "for web-scale key cardinalities (only applies "
                        "when this job owns the session; state-store "
                        "provider is a session-level conf)")
    p.add_argument("--available-now", action="store_true",
                   help="drain existing files and exit (cron-style)")
    p.add_argument("--timeout-sec", type=int, default=0,
                   help="stop after N seconds (0 = run forever)")
    return p.parse_args(argv)


def run(args, spark=None) -> dict:
    if args.url_dedup and args.dedup:
        # Spark rejects two applyInPandasWithState ops in one query at
        # analysis time (see streaming/neardup_stream.py notes). Run the
        # url-dedup pass as its own stage (parquet handoff) instead.
        raise SystemExit(
            "--url-dedup and --dedup are separate stateful stages; "
            "chain two invocations with a parquet handoff")
    owns = spark is None
    if owns:
        extra = {}
        if args.rocksdb:
            extra["spark.sql.streaming.stateStore.providerClass"] = (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            )
        spark = build_session("pii-scrub-stream", extra_conf=extra)
    queries = []
    try:
        pages = read_pages_stream(
            spark, args.input,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        if args.url_dedup:
            from incident_pii_redactor_spark.functions.text import (
                canonical_url,
            )
            from incident_pii_redactor_spark.streaming.dedup_stream import (
                streaming_exact_dedup,
            )

            pages = streaming_exact_dedup(
                pages, key_expr=canonical_url("url"),
                event_ttl_ms=args.state_ttl_hours * 3600 * 1000,
            )
        if args.dedup:
            from incident_pii_redactor_spark.streaming.neardup_stream import (
                streaming_neardup_dedup,
            )

            pages = streaming_neardup_dedup(
                pages, event_ttl_ms=args.state_ttl_hours * 3600 * 1000
            )
        scrubbed = scrub_stream(pages)

        def start(df, path, ckpt_suffix, mode="append"):
            w = (
                df.writeStream.format("parquet")
                .outputMode(mode)
                .option("path", path)
                .option("checkpointLocation",
                        f"{args.checkpoint}/{ckpt_suffix}")
            )
            if args.available_now:
                w = w.trigger(availableNow=True)
            return w.start()

        queries.append(start(scrubbed, args.output, "scrub"))
        if args.metrics:
            # metrics read the scrub query's COMMITTED output (the file
            # source honors the sink's _spark_metadata log, so this chain
            # is exactly-once) instead of sharing the scrub lineage:
            # with --dedup that lineage contains a stateful operator, and
            # stateful-op -> windowed-agg in ONE query trips Spark's
            # global-watermark correctness check (late rows from the
            # first stateful op could be silently dropped downstream)
            def metrics_query():
                out_stream = spark.readStream.schema(scrubbed.schema) \
                    .parquet(args.output)
                return start(windowed_metrics(out_stream), args.metrics,
                             "metrics")

            if args.available_now:
                # drain sequentially so the metrics pass sees this run's
                # committed scrub output, not a pre-run snapshot
                queries[0].awaitTermination()
                queries.append(metrics_query())
            else:
                queries.append(metrics_query())
        if args.available_now:
            for q in queries:  # each terminates on drain
                q.awaitTermination()
        elif args.timeout_sec:
            # forget queries terminated BEFORE this run (a reused
            # session's earlier drains would make awaitAnyTermination
            # return immediately and stop these queries at t=0 —
            # ADVICE round 2)
            spark.streams.resetTerminated()
            # awaitAnyTermination: a failure in EITHER query surfaces
            # immediately (sequential per-query waits would both mask a
            # dead metrics stream and run the job up to 2x the timeout).
            # PySpark's timeout is SECONDS (it converts to ms itself) —
            # passing sec*1000 made a 60 s bound wait ~16.7 h (review
            # round 5). The finally also covers the raise path: without
            # it a failed metrics query left the scrub query running
            # forever on a caller-provided session.
            try:
                spark.streams.awaitAnyTermination(args.timeout_sec)
            finally:
                for q in queries:
                    q.stop()
        else:
            spark.streams.resetTerminated()  # same reused-session hazard
            try:
                spark.streams.awaitAnyTermination()  # raises on failure
            finally:
                if not owns:
                    # a caller-provided session must not keep orphaned
                    # sibling queries writing after run() returns/raises
                    for q in queries:
                        q.stop()
        return {"queries": len(queries)}
    finally:
        if owns:
            spark.stop()


if __name__ == "__main__":
    print(run(parse_args()))
