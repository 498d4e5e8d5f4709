"""The fused quality-filter + scrub operator — ONE ``mapInPandas`` stage.

Replaces the reference's asyncio 5-stage orchestration
(``src/processing_pipeline.py:61-126``, ``parallel_processing_pipeline.py:
86-226``) with a single Arrow-batched pass per partition (SURVEY.md §2.7
O1 "chosen design"): per batch — vectorized langid -> perplexity ->
heuristic rules -> keep/drop verdict (+ per-rule flags), then the
arbitrated detect/judge/splice/validate scrub on surviving docs only.
A row whose scrub raises is quarantined (``keep=false``,
``drop_reason='error:<Type>'``) instead of failing the task.

Why one fused stage and not a ``withColumn`` chain of pandas UDFs:
each pandas UDF is its own Python-worker round trip (serialize the
column, deserialize results); fusing the five stages into one
``mapInPandas`` crosses the JVM<->Python boundary exactly once per batch
and lets dropped docs skip the expensive regex scrub entirely. At 100 TB
with ~50% drop rates that halves the scrub work with zero extra shuffle
(the whole operator is a narrow map — embarrassingly parallel, no
shuffle at all).

Column pruning: the operator selects only (id cols, text[, lang]) before
the map, so Catalyst prunes ``html:binary`` at the Parquet scan — the
single biggest I/O win on Common-Crawl-shaped input (SURVEY.md §4.2).
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from incident_pii_redactor_spark.core.pipeline import scrub_document
from incident_pii_redactor_spark.quality.toxicity import mask_toxic
from incident_pii_redactor_spark.quality.scorer import (
    RULES,
    QualityConfig,
    WEB_DEFAULT,
    quality_signals,
)

_log = logging.getLogger(__name__)

# appended by the operator after the caller's id/passthrough columns
RESULT_FIELDS = (
    "lang_pred string, lang_conf double, ppl double, word_count bigint, "
    "mean_word_len double, stopword_ratio double, symbol_ratio double, "
    "alpha_frac double, dup_line_frac double, "
    "keep boolean, drop_reason string, rule_flags map<string,boolean>, "
    "text_scrubbed string, n_redactions int, "
    "redactions_by_type map<string,bigint>, "
    "residual_pii int, issue_count int, quality_score double, "
    "text_reduction_pct double"
)

_SIGNAL_COLS = (
    "lang_pred", "lang_conf", "ppl", "word_count", "mean_word_len",
    "stopword_ratio", "symbol_ratio", "alpha_frac", "dup_line_frac",
    "keep", "drop_reason",
)


def _process_batch(
    pdf: pd.DataFrame, text_col: str, id_cols: tuple, cfg: QualityConfig,
    scrub_dropped: bool, mask_toxicity: bool = False, policy=None,
    judge_fn=None,
) -> pd.DataFrame:
    texts = pdf[text_col].astype("string").fillna("")
    text_arr = texts.to_numpy(dtype=object)  # materialized once per batch
    sig = quality_signals(pd.Series(text_arr), cfg)

    out = pdf[list(id_cols)].reset_index(drop=True)
    for c in _SIGNAL_COLS:
        out[c] = sig[c].to_numpy()
    out["rule_flags"] = [
        {r: bool(row[i]) for i, r in enumerate(RULES)}
        for row in sig[[f"rule_{r}" for r in RULES]].itertuples(index=False)
    ]

    keep = sig["keep"].to_numpy()
    scrubbed: list = [None] * len(out)
    n_red = [0] * len(out)
    by_type: list = [None] * len(out)
    residual = [0] * len(out)
    n_issues = [0] * len(out)
    q_score: list[float] = [1.0] * len(out)
    reduction: list[float] = [0.0] * len(out)
    for i, (flag, text) in enumerate(zip(keep, text_arr)):
        if not (flag or scrub_dropped):
            continue
        try:
            r = scrub_document(text, policy, judge_fn=judge_fn)
        except Exception as e:
            # exception path (Tuplex, VLDB'19): the row is quarantined with
            # its cause and the task goes on; the default outputs above
            # already read NULL text and no redactions
            _log.exception("scrub raised; row %d of the batch quarantined", i)
            out.at[i, "keep"] = False
            out.at[i, "drop_reason"] = f"error:{type(e).__name__}"
            continue
        scrubbed[i] = mask_toxic(r.text_scrubbed) if mask_toxicity else r.text_scrubbed
        n_red[i] = r.n_redactions
        by_type[i] = {k: int(v) for k, v in sorted(r.redactions_by_type.items())}
        residual[i] = int(r.metrics.get("residual_pii_count", 0))
        n_issues[i] = len(r.issues)
        q_score[i] = float(r.metrics.get("overall_quality_score", 1.0))
        if text:
            reduction[i] = (len(text) - len(r.text_scrubbed)) / len(text) * 100.0

    out["text_scrubbed"] = pd.array(scrubbed, dtype="string")
    out["n_redactions"] = pd.array(n_red, dtype="int32")
    out["redactions_by_type"] = by_type
    out["residual_pii"] = pd.array(residual, dtype="int32")
    out["issue_count"] = pd.array(n_issues, dtype="int32")
    out["quality_score"] = pd.array(q_score, dtype="float64")
    out["text_reduction_pct"] = pd.array(reduction, dtype="float64")
    return out


def quality_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple = ("url",),
    cfg: QualityConfig = WEB_DEFAULT,
    scrub_dropped: bool = False,
    mask_toxicity: bool = False,
    policy=None,
    judge_fn=None,
) -> DataFrame:
    """Run the fused quality+scrub stage. Narrow (no shuffle); output keeps
    ``id_cols`` then appends ``RESULT_FIELDS``.

    ``scrub_dropped=True`` scrubs every doc regardless of verdict (used by
    parity tests); production leaves it False so drops skip regex work.
    ``mask_toxicity=True`` additionally replaces block-listed words with
    ``[TOXIC]`` in the scrubbed text (off by default: the keep/drop gate
    already drops high-toxicity docs; masking legit prose is opt-in).
    ``judge_fn`` plugs a custom judge into the arbitration stage (the
    reference's ``use_real_api`` seam, see core.pipeline.scrub_document);
    it must be a picklable top-level callable — it ships to executors in
    the UDF closure. None = built-in simulation (byte-identical output).
    """
    from incident_pii_redactor_spark.plans.session import (
        scan_parallelism_floor)

    src_schema = dict(zip(df.schema.names, [f.dataType.simpleString()
                                            for f in df.schema.fields]))
    id_schema = ", ".join(f"{c} {src_schema[c]}" for c in id_cols)
    schema = f"{id_schema}, {RESULT_FIELDS}"
    pruned = df.select(*id_cols, text_col)  # prunes html & friends at the scan
    # parallelism floor AFTER the pruning select, so the (conditional,
    # local-only — no-op at scale and on streams) round-robin exchange
    # carries just (id, text) and never re-widens the scan
    pruned = scan_parallelism_floor(pruned)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _process_batch(pdf, text_col, id_cols, cfg,
                                     scrub_dropped, mask_toxicity, policy,
                                     judge_fn)

    return pruned.mapInPandas(run, schema=schema)
