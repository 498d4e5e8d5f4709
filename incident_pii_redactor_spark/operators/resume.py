"""Checkpoint-based resume at partition (bucket) granularity.

The reference persists progress in SQLite (``src/database/incident_db.py``)
and is restartable only at whole-file granularity. At 10^12 documents a
run MUST restart where it stopped. Design (SURVEY.md §3.4, FIXTURES.md F4):

* every input row gets a content-derived bucket
  ``pmod(xxhash64(url), n_buckets)`` — stable across runs, cluster sizes,
  and input re-partitioning (file order never matters);
* the job processes buckets in groups, writing output partitioned by
  bucket and appending one manifest row per completed bucket, built from
  the group's written partitions;
* on restart, the driver collects the manifest's completed buckets (one
  row per bucket, tiny) and runs only the groups of the rest. Each group
  filters the input on its bucket ids, so no join against the manifest
  touches the 10^12-row side.

"Committed" means a ``_SUCCESS`` marker on the path's own filesystem
(:func:`committed`): a manifest whose first append crashed holds only
``_temporary/`` and counts as empty, while a committed manifest that
fails to read raises instead of silently restarting from scratch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"


def with_bucket(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    """Content-derived bucket id — the unit of resume."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    )


def exists(spark: SparkSession, path: str) -> bool:
    """True when ``path`` exists on its OWN filesystem (Hadoop FS API: a
    driver-local ``os.path.exists`` says False for hdfs://, s3a://)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def committed(spark: SparkSession, path: str) -> bool:
    """True when ``path/_SUCCESS`` exists (checked driver-locally, every
    restart on hdfs:// or s3a:// silently recomputed; review round 5)."""
    return exists(spark, path + "/_SUCCESS")


def completed_buckets(spark: SparkSession, path: str, run_id: str) -> set[int]:
    """Bucket ids the manifest at ``path`` records as done for ``run_id``.
    An uncommitted manifest is empty and costs no Spark job; any failure
    to read a committed one (corrupt footer, permissions, storage blip)
    raises, because treating it as a first run would redo every bucket."""
    if not committed(spark, path):
        return set()
    m = spark.read.parquet(path).filter(F.col("run_id") == run_id)
    return {r[0] for r in m.select("partition_id").distinct().collect()}


def manifest_rows_from_output(
    out: DataFrame, run_id: str, completed_ts,
) -> DataFrame:
    """Build one manifest row per bucket from a scrubbed-output DataFrame
    (must carry BUCKET_COL, url, keep, redactions_by_type). Per-bucket
    lineage counters double as the metrics layer (SURVEY.md §2.1 S4)."""
    per_bucket = (
        out.select(
            BUCKET_COL,
            F.explode("redactions_by_type").alias("key", "value"),
        )
        .groupBy(BUCKET_COL, "key")
        .agg(F.sum("value").alias("cnt"))
        .groupBy(BUCKET_COL)
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(F.struct(F.col("key"), F.col("cnt")))
                )
            ).alias("redactions_by_type")
        )
    )
    stats = out.groupBy(BUCKET_COL).agg(
        F.count("*").alias("rows_in"),
        F.sum(F.col("keep").cast("long")).alias("rows_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("rows_dropped"),
        # order-independent, constant-memory fingerprint of the bucket's url
        # set (a collect_list+md5 would buffer every url per bucket — not
        # viable at 10^12 rows)
        F.hex(F.expr("bit_xor(xxhash64(url))")).alias("input_fingerprint"),
    )
    return (
        stats.join(per_bucket, on=BUCKET_COL, how="left")
        .select(
            F.lit(run_id).alias("run_id"),
            F.col(BUCKET_COL).alias("partition_id"),
            "input_fingerprint",
            "rows_in",
            "rows_kept",
            "rows_dropped",
            # redaction-free buckets: empty map, not null (stable consumers)
            F.coalesce(
                "redactions_by_type",
                F.expr("cast(map() as map<string,bigint>)"),
            ).alias("redactions_by_type"),
            F.lit(completed_ts).cast("timestamp").alias("completed_ts"),
        )
    )
