"""Checkpoint-based resume at partition (bucket) granularity.

The reference persists progress in SQLite (``src/database/incident_db.py``)
and is restartable only at whole-file granularity. At 10^12 documents a
run MUST restart where it stopped. Design (SURVEY.md §3.4, FIXTURES.md F4):

* every input row gets a content-derived bucket
  ``pmod(xxhash64(url), n_buckets)`` — stable across runs, cluster sizes,
  and input re-partitioning (file order never matters);
* the job processes buckets in groups, writing output partitioned by
  bucket; the write observes each bucket's counters, and the manifest
  gets one row per bucket that got rows (:func:`append_manifest`);
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

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"

# manifest counter -> aggregate over one bucket's rows, in column order;
# the url-set fingerprint is order-free and constant-memory at 10^12 rows
_COUNTERS = {
    "input_fingerprint": "hex(bit_xor({} xxhash64(url) END))",
    "rows_in": "count({} 1 END)",
    "rows_kept": "sum({} CAST(keep AS BIGINT) END)",
    "rows_dropped": "sum({} CAST(NOT keep AS BIGINT) END)",
}
_MANIFEST_SCHEMA = (
    "run_id string not null, partition_id int, input_fingerprint string, "
    "rows_in bigint not null, rows_kept bigint, rows_dropped bigint, "
    "redactions array<struct<key:string,value:bigint>> not null")


def with_bucket(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    """Content-derived bucket id — the unit of resume."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    )


def committed(spark: SparkSession, path: str) -> bool:
    """True when ``path/_SUCCESS`` exists on the path's OWN filesystem
    (Hadoop FS API: a driver-local ``os.path.exists`` says False for
    hdfs://, s3a://, and every restart there silently recomputed)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def completed_buckets(spark: SparkSession, path: str, run_id: str) -> set[int]:
    """Bucket ids the manifest at ``path`` records as done for ``run_id``.
    An uncommitted manifest is empty and costs no Spark job, and the
    declared schema spares a committed one the footer-inference job; any
    failure to read it (corrupt footer, permissions, storage blip)
    raises, because treating it as a first run would redo every bucket."""
    if not committed(spark, path):
        return set()
    m = spark.read.schema("run_id string, partition_id int").parquet(path)
    m = m.filter(F.col("run_id") == run_id)
    return {r[0] for r in m.select("partition_id").distinct().collect()}


def bucket_counters(buckets) -> list[Column]:
    """Per-bucket lineage counters (SURVEY.md §2.1 S4) as ``<counter>_<b>``
    aggregates for the write's Observation. CASE, not FILTER (``observe``
    rejects it); no ELSE, so NULL keeps sum to NULL as when grouped."""
    return [F.expr(agg.format(f"CASE WHEN {BUCKET_COL} = {b} THEN"))
            .alias(f"{name}_{b}")
            for b in buckets for name, agg in _COUNTERS.items()]


def append_manifest(spark: SparkSession, manifest: str, output: str, buckets,
                    counters: dict, run_id: str, completed_ts) -> None:
    """Append one manifest row per bucket of ``buckets`` that got rows,
    from the write's observed :func:`bucket_counters` and one typed
    read-back rolling up those buckets' ``redactions_by_type``."""
    done = [b for b in buckets if counters[f"rows_in_{b}"]]
    if not done:
        return
    # the dirs that got rows, not the output root (its listing grows each
    # group), nor a glob (Spark probes it as a dir and logs an exception)
    written = spark.read.schema(
        f"redactions_by_type map<string,bigint>, {BUCKET_COL} int",
    ).option("basePath", output).parquet(
        *(f"{output}/{BUCKET_COL}={b}" for b in done))
    rollup = written.select(BUCKET_COL, F.explode("redactions_by_type")) \
        .groupBy(BUCKET_COL, "key").sum("value").collect()
    # entries sorted by key (a dict would come out in hash order), {} for
    # none; array_compact types them non-null, so the map is NOT NULL
    rows = [(run_id, b, *(counters[f"{c}_{b}"] for c in _COUNTERS),
             sorted((k, n) for b_, k, n in rollup if b_ == b)) for b in done]
    # pandas goes to the JVM by Arrow; a list would start Python workers
    spark.createDataFrame(pd.DataFrame(rows), _MANIFEST_SCHEMA).select(
        "run_id", "partition_id", *_COUNTERS,
        F.map_from_entries(F.array_compact("redactions"))
        .alias("redactions_by_type"),
        F.lit(completed_ts).cast("timestamp").alias("completed_ts"),
    ).write.mode("append").parquet(manifest)
