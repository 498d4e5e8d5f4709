"""Index-first crawl ingestion: CDX select -> robots filter ->
selective WARC fetch -> pages parquet.

    spark-submit --py-files dist/engine.zip jobs/ingest.py \
        --cdx /data/cc/index/*.cdxj --warc-dir /data/cc/warcs \
        --output /data/pages [--robots /data/robots.parquet] \
        [--agent mybot] [--mimes text/html] [--keep-junk-urls]

The cost ordering every Common-Crawl pipeline wants: all selection
(status/mime filters, junk-URL shapes, SHA-1 digest dedup, robots
politeness) runs over the cheap text INDEX, and only surviving
captures' WARC byte ranges are fetched (seeked, not streamed —
``sources/warc.py:read_warc_selected``). Output is the engine's
authoritative pages table, ready for ``jobs/scrub.py`` /
``jobs/dedup.py``.

Stage shapes: CDX parse is pure Catalyst over splittable text; digest
dedup is one map-side ``min_by`` aggregate (uniform SHA-1 keys); the
robots verdict is one host equi-join + one ``mapInPandas`` with a
per-batch parse cache; the fetch is one task per WARC file. Each stage
has one consumer, so nothing is materialized: the stage counts are
Observations that ride the one write, and their summary goes to stdout
as one line."""

from __future__ import annotations

import os
import sys

# allow direct `python jobs/ingest.py` from the repo root (the
# documented CLI surface): the script dir is jobs/, so the package
# root one level up must be importable without PYTHONPATH
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse
import json

from pyspark.sql import Observation
from pyspark.sql import functions as F

from incident_pii_redactor_spark.plans import build_session
from incident_pii_redactor_spark.sources.cdx import (
    cdx_prefetch_select,
    read_cdx,
)
from incident_pii_redactor_spark.sources.warc import read_warc_selected


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--cdx", required=True, help="CDXJ shard path/glob")
    p.add_argument("--warc-dir", required=True,
                   help="directory holding the index's WARC files")
    p.add_argument("--output", required=True, help="pages parquet path")
    p.add_argument("--robots", default=None,
                   help="optional parquet of (host, robots_txt); "
                        "captures a polite crawler may not fetch are "
                        "dropped BEFORE any WARC byte is read")
    p.add_argument("--agent", default="*",
                   help="product token for robots group selection")
    p.add_argument("--mimes", nargs="+", default=["text/html"])
    p.add_argument("--keep-junk-urls", action="store_true",
                   help="skip the C4-era URL-shape junk filter")
    return p.parse_args(argv)


def run(args, spark=None) -> dict:
    owns = spark is None
    if owns:
        spark = build_session("crawl-ingest")
    try:
        obs: dict = {}

        def observed(df, key):
            obs[key] = Observation()
            return df.observe(obs[key], F.count(F.lit(1)).alias("n"))

        cdx = read_cdx(spark, args.cdx)
        sel = observed(cdx_prefetch_select(
            cdx, mimes=tuple(args.mimes),
            drop_junk_urls=not args.keep_junk_urls), "captures_selected")

        if args.robots:
            from incident_pii_redactor_spark.sources.robots import (
                robots_filter,
            )

            robots = spark.read.parquet(args.robots)
            verdicts = robots_filter(sel, robots, agent=args.agent)
            sel = observed(verdicts.filter(F.col("robots_allowed"))
                           .drop("robots_allowed"), "captures_robots_allowed")

        pages = observed(read_warc_selected(spark, args.warc_dir, sel),
                         "pages_fetched")
        pages.write.mode("overwrite").parquet(args.output)
        stats = {key: o.get["n"] for key, o in obs.items()}
        print("INGEST " + json.dumps(stats))
        return stats
    finally:
        if owns:
            spark.stop()


if __name__ == "__main__":
    run(parse_args())
    sys.exit(0)
