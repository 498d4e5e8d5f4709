"""Training-shard export: write the corpus as fixed shards with a
reproducible global order — the final stage of a training-data run
(dedup -> quality+scrub -> EXPORT), and the materialization of
``functions/sampling.py:shard_assignment``.

    spark-submit --py-files dist/engine.zip jobs/export.py \
        --input /data/run1/scrubbed --output /data/run1/shards \
        --n-shards 1024 [--key-col url] [--text-col text_scrubbed]

Layout contract (what a training loader relies on):
* ``shard=K/`` directories, K in [0, n_shards) — shard membership is a
  pure function of (key, seed), invariant to Spark partitioning,
  retries, and cluster size.
* Within a shard, rows are stored in ascending ``pos`` (the stable
  in-shard rank) — one ``repartition('shard')`` +
  ``sortWithinPartitions('pos')``, so each shard sorts independently
  (corpus/n_shards rows; no global orderBy).
* ``tok_offset`` gives each doc's starting token offset inside its
  shard (cumulative BPE-ish token count), so a packed-block loader can
  seek without re-tokenizing.
"""

from __future__ import annotations

import os
import sys

# allow direct `python jobs/export.py` from the repo root (the
# documented CLI surface): the script dir is jobs/, so the package
# root one level up must be importable without PYTHONPATH
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse

from pyspark.sql import Observation, Window
from pyspark.sql import functions as F

from incident_pii_redactor_spark.functions.sampling import shard_assignment
from incident_pii_redactor_spark.functions.text import token_count_bpe_ish
from incident_pii_redactor_spark.plans import build_session


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--n-shards", type=int, default=64)
    p.add_argument("--key-col", default="url")
    p.add_argument("--text-col", default="text")
    p.add_argument("--seed", type=int, default=42)
    return p.parse_args(argv)


def run(args, spark=None) -> dict:
    owns = spark is None
    if owns:
        spark = build_session("shard-export")
    try:
        df = spark.read.parquet(args.input)
        # repartition on shard BEFORE the window: the window requires
        # hash-partitioning by the same key, so EnsureRequirements
        # reuses this exchange instead of adding its own — placing the
        # repartition after the window shuffled the full corpus twice
        # on the identical key (review round 5)
        laid = shard_assignment(df, args.n_shards, args.key_col,
                                seed=args.seed).repartition("shard")
        w = Window.partitionBy("shard").orderBy("pos") \
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        n_tok = token_count_bpe_ish(args.text_col).cast("bigint")
        out = (
            laid.withColumn("_n_tok", n_tok)
            .withColumn("tok_offset",
                        F.sum("_n_tok").over(w) - F.col("_n_tok"))
            .drop("_n_tok")
        )
        # sort key must include 'shard': the writer's required ordering
        # is [shard]; sorting by pos alone makes Spark insert its own
        # non-contractually-stable sort on shard above ours, which can
        # interleave a shard's equal-key runs on spill (review round 3).
        # Rows and shards ride the write as an Observation (distinct
        # aggregates are rejected there; a set of <= n_shards ints is not)
        obs = Observation()
        (out.observe(obs, F.count(F.lit(1)).alias("rows"),
                     F.size(F.collect_set("shard")).alias("shards"))
            .sortWithinPartitions("shard", "pos")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(args.output))
        return dict(obs.get)
    finally:
        if owns:
            spark.stop()


if __name__ == "__main__":
    print(run(parse_args()))
