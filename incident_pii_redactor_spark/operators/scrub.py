r"""The fused quality-filter + scrub operator — ONE ``mapInPandas`` stage.

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

Batch regex gates (the vectorized-UDF move of *Accelerating Python UDFs
in Vectorized Query Execution*, CIDR'22, with Tuplex's exact fallback):
most of the scrub's regex passes find nothing on a given page. So the
operator first evaluates one RE2 gate per detect pass over the batch's
texts with ``pyarrow.compute.match_substring_regex`` (C++, linear). A
page whose gate finds nothing hands that pass's name to core in its skip
set. Then it runs the redact half of the pipeline (detect, arbitrate,
splice; ``core.pipeline.redact_document``) for the whole batch, gates
the validate passes the same way over the batch's scrubbed texts, and
runs the validate half (``validate_document``). A skipped pass would have
found nothing, so every output column equals ``scrub_document``'s.

That holds because each gate in ``DETECT_GATES`` and ``VALIDATE_GATES``
is a hand-written SUPERSET of its Python pattern: whatever substring the
pattern matches, the gate matches too. The rules:

* Only ASCII pages are gated (``pc.string_is_ascii``). There Python's
  ``\d``, ``\w`` and ``re.I`` mean what RE2's do; a non-ASCII page gets
  an empty skip set and runs every pass.
* ``\b``, lookarounds and anchors are dropped, possessive and atomic
  forms become greedy, and a ``{m,n}`` at either end of a pattern
  becomes ``{m}``. A ``{m,n}`` in the middle keeps its range: in
  ``-[a-f0-9]{8,10}-``, ``{8}`` would miss a 10-digit hash.
* ``\s`` is spelled ``[\t\n\x0b\x0c\r\x1c-\x1f ]``: Python's ASCII
  ``\s`` holds ``\v`` and ``\x1c-\x1f``, RE2's does not.
* No gate class holds ``\x00``, and neither does any validate pattern's.
  The residual and adversarial patterns scan the scrubbed text with our
  own placeholders blanked to ``\x00`` (``core.validate._mask_exclusions``),
  while their gates scan the unmasked text. A match on the masked text
  then holds no ``\x00``, so the same substring sits in the unmasked
  text, and a gate free of ``\b`` and lookarounds matches it there.
  When the ``exclusion`` gate finds no placeholder, masking is skipped.

``tests/test_regex_gates.py`` checks the superset property and that the
gate tables name exactly the passes core consults. A pattern edit in
``core/`` must update its gate here.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from incident_pii_redactor_spark.core.detectors import (
    _GAZETTEER,
    INTERNAL_KEYWORDS,
    NO_SKIP,
)
from incident_pii_redactor_spark.core.pipeline import (
    redact_document,
    validate_document,
)
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

# Python's ASCII \s (RE2's lacks \v and \x1c-\x1f)
_S = r"[\t\n\x0b\x0c\r\x1c-\x1f ]"

# one gate per detect pass, keyed by the skip name core/detectors.py
# consults; each matches wherever its pattern does (module docstring)
DETECT_GATES = {
    # D1
    "email": r"[A-Za-z0-9._%+-]@[A-Za-z0-9.-]+\.[A-Za-z]{2}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "credit_card": r"[0-9](?:[- ]?[0-9]){12}",
    "phone": (r"(?:\([0-9]{3}\)" + _S
              + r"?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}"),
    "ip_address": r"[0-9]\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]",
    "api_key": (r"(?:(?:sk|pk|ak)[_-]|(?:ghp|xox[bap])[_-]?|AKIA)"
                r"[A-Za-z0-9]{16}"),
    "hostname": r"[a-z][a-z0-9-]+\.(?:internal|corp|local|lan)",
    "person_name": r"[A-Z][a-z]{2,15}" + _S + r"+[A-Z][a-z]{2}",
    "iban": r"[A-Z]{2}[0-9]{2}[A-Z0-9]{11}",
    # Street, Avenue, Drive, Place and Terrace start with St, Ave, Dr, Pl
    # and Ter
    "address": (r"[0-9]" + _S + r"+(?:[A-Z][A-Za-z]+" + _S + r"+){1,3}"
                r"(?:St|Ave|Road|Rd|Boulevard|Blvd|Lane|Ln|Dr|Court|Ct|Pl"
                r"|Way|Ter)"),
    "nhs": r"[0-9]{3}[ -]?[0-9]{3}[ -]?[0-9]{4}",
    # the birth-context cue; the date search runs only after one
    "date_of_birth": r"(?i)born|birth|dob|d\.o\.b",
    "location": "|".join(_GAZETTEER),
    # D3
    "internal_url": r"https?://[a-z0-9.-]*\.(?:internal|corp|local)",
    "jira_ticket": r"[A-Z]{2}-[0-9]",
    "aws_arn": r"arn:aws:[a-z0-9-]+:[a-z0-9-]*:[0-9]{12}:",
    # the name part may end in '-' ('a--abcdef12-abcde'): start at the '-'
    "kubernetes_pod": r"-[a-f0-9]{8,10}-[a-z0-9]{5}",
    "slack_channel": r"#[a-z0-9][a-z0-9_-]",
    "docker_image": r"[a-z0-9.-]/[a-z0-9._/-]+:[a-zA-Z0-9]",
    # D4
    "secret_value": (r"(?i)(?:secret|token|password|credential|apikey"
                     r"|api_key)" + _S + r"*[:=]"),
    "internal_keyword": "(?i)" + "|".join(INTERNAL_KEYWORDS),
    # D6
    "employment_info": (r"(?i)(?:employee|staff)" + _S + r"+(?:id|number)"
                        + _S + r"*(?:[:#]" + _S + r"*)?[a-z0-9_]{4}"),
    "salary_info": r"\$" + _S + r"?[0-9]{2,3},[0-9]{3}",
    "internal_platforms": (r"(?i)(?:grafana|kibana|jenkins|vault|consul)"
                           r"\.[a-z0-9.-]"),
    "internal_metrics": (r"(?i)(?:arr|mrr|churn)" + _S + r"+(?:of" + _S
                         + r"+)?\$?[0-9]"),
    "customer_data_refs": r"(?i)cust[_-]?[0-9]{4}",
    "intellectual_property": (r"(?i)(?:patent|proprietary algorithm"
                              r"|trade secret)" + _S),
    "investigation_details": (r"(?i)(?:case|investigation)" + _S
                              + r"+(?:id|number)" + _S + r"*(?:[:#]" + _S
                              + r"*)?[a-z0-9_]{4}"),
}

# one gate per validate pass over the scrubbed text (core/validate.py);
# a residual scan runs its detect twin's pattern, so it shares its gate
VALIDATE_GATES = {
    # a prefix of each placeholder _EXCLUSION_RE masks
    "exclusion": (r"\[REDACTED|Person_|user_[0-9a-f]{4}@company\.com"
                  r"|server-|\+1-555-|CARD-|SSN-|CUST_|API_|REF-|#channel-"
                  r"|ENT_|[0-9]{3} Elm Street|City_|192\.168\.1\."
                  r"|(?:SEC|INC|JIRA)-[0-9]"),
    **{f"residual_{name}": DETECT_GATES[name]
       for name in ("email", "ssn", "credit_card", "phone", "ip_address",
                    "nhs", "iban")},
    "adversarial_spaced_email": (r"[A-Za-z0-9_.+-]" + _S + r"+@" + _S
                                 + r"+[A-Za-z0-9_-]+" + _S + r"*\." + _S
                                 + r"*[A-Za-z0-9_-]"),
    "adversarial_spaced_phone": (r"[0-9]{3}" + _S + r"+[0-9]{3}" + _S
                                 + r"+[0-9]{4}"),
    "adversarial_partial_ssn": r"[Xx*]{3}-[Xx*]{2}-[0-9]{4}",
    "adversarial_base64_blob": r"[A-Za-z0-9+/]{40}=",
    "adversarial_hex_run": r"[0-9a-fA-F]{32}",
}


def _any_gate(gates: dict[str, str]) -> str:
    """One RE2 pattern that matches where any of ``gates`` does (RE2
    scopes a ``(?i)`` to its group)."""
    return "|".join(f"(?:{g})" for g in gates.values())


# compile every gate once here, on the driver: a gate RE2 rejects fails at
# import, not inside a task (Arrow compiles nothing for an empty array)
for _gates in (DETECT_GATES, VALIDATE_GATES):
    for _gate in (*_gates.values(), _any_gate(_gates)):
        pc.match_substring_regex(pa.array([None], pa.large_string()), _gate)


def _skip_sets(texts: list[str], gates: dict[str, str]) -> list[frozenset]:
    """Per text, the names of the gates that find nothing in it; empty for
    a non-ASCII text, where Python's classes reach beyond the gates'."""
    arr = pa.array(texts, pa.large_string())
    gated = pc.string_is_ascii(arr).to_numpy(zero_copy_only=False)
    hit = pc.match_substring_regex(arr, _any_gate(gates)).to_numpy(
        zero_copy_only=False)
    # one pass over the batch clears most texts of every gate; only the
    # rest are asked gate by gate
    everything = frozenset(gates)
    out = [everything if g and not h else NO_SKIP
           for g, h in zip(gated, hit)]
    rows = np.flatnonzero(gated & hit)
    if not len(rows):
        return out
    some = arr.take(pa.array(rows))
    miss = np.stack(
        [~pc.match_substring_regex(some, g).to_numpy(zero_copy_only=False)
         for g in gates.values()], axis=1)
    for i, row in zip(rows, miss):
        out[i] = frozenset(n for n, m in zip(gates, row) if m)
    return out


def _quarantine(out: pd.DataFrame, i: int, e: Exception) -> None:
    """Exception path (Tuplex, VLDB'19): the row is quarantined with its
    cause and the task goes on; its scrub outputs keep their defaults,
    NULL text and no redactions."""
    _log.exception("scrub raised; row %d of the batch quarantined", i)
    out.at[i, "keep"] = False
    out.at[i, "drop_reason"] = f"error:{type(e).__name__}"


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

    rows = [i for i, flag in enumerate(keep) if flag or scrub_dropped]
    redacted = {}
    for i, skip in zip(rows, _skip_sets([text_arr[i] for i in rows],
                                        DETECT_GATES)):
        try:
            redacted[i] = redact_document(text_arr[i], policy, judge_fn,
                                          skip)
        except Exception as e:
            _quarantine(out, i, e)
    rows = list(redacted)
    for i, skip in zip(rows, _skip_sets(
            [redacted[i].text_scrubbed for i in rows], VALIDATE_GATES)):
        text = text_arr[i]
        try:
            r = validate_document(text, redacted[i], skip)
            row = (
                mask_toxic(r.text_scrubbed) if mask_toxicity
                else r.text_scrubbed,
                r.n_redactions,
                {k: int(v) for k, v in sorted(r.redactions_by_type.items())},
                int(r.metrics.get("residual_pii_count", 0)),
                len(r.issues),
                float(r.metrics.get("overall_quality_score", 1.0)),
                (len(text) - len(r.text_scrubbed)) / len(text) * 100.0
                if text else 0.0,
            )
        except Exception as e:
            _quarantine(out, i, e)
            continue
        (scrubbed[i], n_red[i], by_type[i], residual[i], n_issues[i],
         q_score[i], reduction[i]) = row

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
