"""Structured Streaming scrub: the SAME fused quality+scrub operator over
a file stream of pages, with watermarked windowed metrics.

The reference is batch-only (SURVEY.md §2.8 "Streaming: absent"); the
input carries ``warc_ts``, so a streaming deployment is a thin wrapper:
``readStream`` -> ``quality_scrub`` (mapInPandas works unchanged on
streaming DataFrames — it is stateless per batch) -> sink, plus a
watermark + tumbling-window rollup for the metrics stream (late pages up
to the watermark are folded into their window; later ones dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incident_pii_redactor_spark.operators.scrub import quality_scrub
from incident_pii_redactor_spark.quality.scorer import QualityConfig, WEB_DEFAULT
from incident_pii_redactor_spark.sources.catalog import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def scrub_stream(pages: DataFrame, cfg: QualityConfig = WEB_DEFAULT) -> DataFrame:
    """Streaming scrub — identical semantics to the batch operator."""
    return quality_scrub(pages, id_cols=("url", "warc_ts", "lang"), cfg=cfg)


def windowed_metrics(scrubbed: DataFrame, window: str = "1 minute",
                     watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling-window rollup of keep/drop + redaction counts."""
    return (
        scrubbed.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"))
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
            F.sum("n_redactions").alias("redactions"),
        )
        .select(F.col("w.start").alias("window_start"), "rows", "kept",
                "redactions")
    )
