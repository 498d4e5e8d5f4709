"""Deterministic corpus sampling for training-data pipelines.

``df.sample`` is partition-order-dependent: the same fraction over the
same data yields different rows after a repartition, across cluster
sizes, or between retries of a failed stage — unacceptable lineage for a
10^12-document corpus. Hash-based Bernoulli sampling keys the decision
on the ROW (md5 of a stable key + seed), so membership is a pure
function of the data: reproducible across runs, engines (DuckDB twin
reproduces the integers exactly), partitionings, and resumes, and
different seeds give independent samples. The predicate is a plain
Catalyst expression, so Catalyst pushes surviving filters/pruning around
it and the sample never materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def sample_threshold(fraction: float) -> int:
    """The bucket cutoff for ``fraction`` — THE single conversion from
    a sampling rate to a bucket count (round, not truncate:
    int(0.29 * 1e6) == 289999 under binary floats). Every membership
    predicate — Spark or oracle SQL — must derive its literal here so
    the rate policy cannot silently fork (review round 4)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return round(fraction * _BUCKETS)


def sample_hash(key: str | Column, seed: int = 42) -> Column:
    """Stable per-row bucket in [0, 1e6): md5(key || seed) -> 60-bit int
    -> mod 1e6 (the shared ``functions.dedup.md5_int`` recipe). DuckDB
    twin: ``('0x' || substr(md5(key || '<seed>'), 1, 15))::BIGINT
    % 1000000``."""
    from incident_pii_redactor_spark.functions.dedup import md5_int

    c = F.col(key) if isinstance(key, str) else key
    return md5_int(F.concat(c.cast("string"), F.lit(str(seed))), _BUCKETS)


def shard_assignment(
    df: DataFrame,
    n_shards: int,
    key_col: str,
    seed: int = 42,
) -> DataFrame:
    """Deterministic training-shard layout: every row gets
    ``(shard bigint, pos bigint)`` where shard = hash bucket of the key
    and pos = that row's rank within its shard by (hash, key) — i.e. a
    reproducible GLOBAL shuffle of the corpus into n_shards fixed files,
    the standard prerequisite for resumable LLM training input (epoch
    order must not depend on Spark partitioning, retries, or cluster
    size).

    Scale shape: one shuffle on the shard key, then a per-shard sort —
    each window sorts ~corpus/n_shards rows (pick n_shards so a shard
    fits an executor: 10^12 docs / 10^5 shards = 10^7 rows per sort,
    disk-backed). No global orderBy (a single-reducer total sort is the
    anti-pattern this replaces); hash keys make shard sizes uniform —
    no skew by construction. Writers follow with
    ``.repartition('shard').sortWithinPartitions('pos')`` +
    ``partitionBy('shard')``.

    DuckDB twin: same md5 recipe + ROW_NUMBER() OVER (PARTITION BY shard
    ORDER BY h, key).
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    from pyspark.sql import Window

    from incident_pii_redactor_spark.functions.dedup import md5_int

    h = md5_int(
        F.concat(F.col(key_col).cast("string"), F.lit(str(seed))),
        1 << 60,
    )
    w = Window.partitionBy("shard").orderBy("_h", key_col)
    return (
        df.withColumn("_h", h)
        .withColumn("shard", (F.col("_h") % n_shards).cast("bigint"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("bigint"))
        .drop("_h")
    )
