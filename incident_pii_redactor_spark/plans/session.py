"""SparkSession construction with configs tuned for the 100 TB design point.

Local test/bench sessions use ``local[N]``; the same config block is what
the production ``spark-submit`` job would carry (jobs/scrub.py). Key
choices, each load-bearing at scale:

* AQE on (+ skew-join): runtime coalescing and skew-join splitting size
  every stage that follows an exchange (SURVEY.md §4.2).
* Arrow enabled + bounded ``maxRecordsPerBatch``: the scrub stage is a
  ``mapInPandas`` over multi-KB documents. 1024 docs/batch (re-measured
  round 6, best-of-5 on a control run): a ~6k-row task at 8192 was ONE
  batch, so the JVM had to read+serialize the whole task before Python
  started and idled until it finished; at 1024 the scan pipelines with
  Python compute (200k-page scrub 4.37 s -> 3.91 s, and the sample
  spread tightened from 4.4-24 s to 3.9-4.5 s) while bounding worker
  memory. 512 over-pays per-batch fixed cost (4.34 s).
* ``spark.sql.files.maxPartitionBytes=128m``: at 100 TB input this yields
  ~800k scan tasks — the right granularity for 1000 executors and for
  partition-granular resume.
* shuffle partitions sized for local mode; production submits override
  via ``--conf`` (AQE coalesces down anyway).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def scan_parallelism_floor(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism
    when an exchange-free frame yields fewer partitions — a NO-OP at
    production scale (a 100 TB input is ~800k splits), load-bearing only
    for small unsplittable inputs: a single parquet file written as one
    row group cannot be split, so every per-row-expensive projection
    (minhash, regex chains, Arrow UDF stages) upstream of the first
    exchange runs in ONE task while the other cores idle (guide §2.5).

    Call it on the NARROW projection (after column pruning) so the
    round-robin exchange carries only the columns the operator needs.
    Never starts a Spark job: a plan holding an exchange is wrapped in
    ``AdaptiveSparkPlanExec`` and passes through, since the exchange
    already sized the stage; an exchange-free plan reads its count from
    the file index or the checkpointed RDD. Streams pass through."""
    if df.isStreaming:
        return df
    planned = planned_partitions(df)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if planned is None or planned >= parallelism:
        return df
    return df.repartition(parallelism)


def planned_partitions(df: DataFrame) -> int | None:
    """Partition count of an exchange-free frame (a scan or a
    checkpoint), read from its physical plan: the file index or the
    checkpointed RDD, never a Spark job. ``None`` for a plan holding an
    exchange (``AdaptiveSparkPlanExec``): AQE sizes that stage only when
    it runs."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return None
    return plan.execute().getNumPartitions()


def build_session(
    app_name: str = "incident-pii-redactor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # Only a plain `python` run defaults to local[]. Under
        # spark-submit (which starts the gateway and sets this variable
        # before the script runs) .master() would override its --master
        # and run a cluster job in local mode on the submit host.
        master = f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
