"""incident_pii_redactor_spark — PySpark-native quality-filter + PII-scrub engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo ``kishorealliiita/incident-pii-redactor`` (a single-node
asyncio per-document pipeline): language identification, hashed n-gram
perplexity, Gopher/C4-style heuristic quality rules, and an arbitrated
regex PII scrub — all run as vectorized pandas/Arrow UDFs over
DataFrames, designed for 10^12-document Iceberg/Parquet tables.

Layout
------
core/       pure per-document functions (span model, detectors,
            arbitration, splice, validation) — shared verbatim by the
            Spark UDFs and the single-node oracle used in tests, which
            is what guarantees byte-identical output per url.
quality/    langid, perplexity, heuristic keep/drop rules, classifier
            and DSIR selection, toxicity, compression ratio (numpy).
functions/  Spark Column-level helpers (JVM-side expressions): text
            stats, HTML extraction, dedup (exact / MinHash-LSH /
            SimHash), similarity and ANN, connected components, BPE
            training, ranking, sampling.
operators/  DataFrame-level operators: the fused mapInPandas quality +
            scrub stage, manifest resume, as-of and range joins.
sources/    page-table and WARC / CDX / robots.txt readers, catalog
            adapter, deterministic fixture synthesis and the reference's
            incident-record reader (parity tests only).
plans/      SparkSession builders with scale-tuned configs.
streaming/  Structured Streaming scrub plus exact and near-dup dedup.
"""

__version__ = "0.1.0"
