"""The fused per-document scrub pipeline: detect -> find -> judge ->
arbitrate -> splice -> validate.

``scrub_document`` IS the semantic contract the reference exposes as
``await pipeline.process_text(text)`` (``src/processing_pipeline.py:
61-126``, the 5 stages run strictly sequentially at :66-86). The test
oracle calls it per row. The Spark operator in ``operators/scrub.py``
calls its two halves, ``redact_document`` for the whole Arrow batch and
then ``validate_document``, so that between them it can gate the next
half's regex passes over the batch. The halves are ``scrub_document``'s
own code, and a pass they skip finds nothing, so Spark output is
byte-identical to the oracle by construction.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from incident_pii_redactor_spark.core.arbitration import arbitrate
from incident_pii_redactor_spark.core.detectors import (
    NO_SKIP,
    detect_contextual,
    detect_deterministic,
)
from incident_pii_redactor_spark.core.spans import RETAIN, Span, splice
from incident_pii_redactor_spark.core.validate import validate


@dataclass
class ScrubResult:
    """Per-document scrub output (reference ProcessingResult,
    ``processing_pipeline.py:89-119``, minus wall-clock fields)."""

    text_scrubbed: str
    spans: list[Span] = field(default_factory=list)
    n_redactions: int = 0
    redactions_by_type: dict[str, int] = field(default_factory=dict)
    issues: list[dict] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)
    arbitration_stats: dict = field(default_factory=dict)
    # A8 text_reduction_pct is a column computed by operators/scrub.py where
    # the original length is known — deliberately NOT a stub property here


def scrub_document(text: str, policy=None, judge_fn=None) -> ScrubResult:
    """Run the full 5-stage pipeline on one document. Deterministic.
    ``policy`` (core.policy.Policy) customizes force rules / tokens /
    exceptions; None = built-in defaults.

    ``judge_fn`` is the pluggable judge seam — the reference's
    ``use_real_api`` switch (``src/core/llm_clients.py:79-98,339-353``)
    without network: a callable ``(text, spans) -> {span_key: Span}``
    producing judge votes, replacing the built-in C8/C9 simulation
    (``arbitration.judge_spans``). A batch-scoring model plugs in here;
    in Spark it ships in the UDF closure and is invoked per document
    inside the Arrow batch (amortized model state lives in the closure).
    None = built-in simulation, output byte-identical to round 1."""
    return validate_document(text, redact_document(text, policy, judge_fn))


def redact_document(text: str, policy=None, judge_fn=None,
                    skip: frozenset = NO_SKIP) -> ScrubResult:
    """Stages 1-4 of ``scrub_document``: detect, arbitrate and splice; the
    result's ``issues`` and ``metrics`` stay empty. ``skip`` names detect
    passes known to find nothing in ``text`` (core/detectors.py)."""
    if not text:
        return ScrubResult(text_scrubbed=text or "")

    deterministic = detect_deterministic(text, skip)    # stage 1 (D1-D5, C1)
    finder = detect_contextual(text, deterministic, skip)  # stage 2 (D6-D8)
    decisions, arb_stats = arbitrate(text, deterministic, finder, policy,
                                     judge_fn=judge_fn)  # 3+4
    scrubbed, lineage = splice(text, decisions)         # stage 4b (R1-R4)

    applied = [rec for rec in lineage if rec["action"] != "SKIPPED_NO_MATCH"]
    by_type: dict[str, int] = {}
    for rec in applied:
        by_type[rec["entity_type"]] = by_type.get(rec["entity_type"], 0) + 1

    return ScrubResult(
        text_scrubbed=scrubbed,
        spans=decisions,
        n_redactions=len(applied),
        redactions_by_type=by_type,
        arbitration_stats=arb_stats,
    )


def validate_document(text: str, result: ScrubResult,
                      skip: frozenset = NO_SKIP) -> ScrubResult:
    """Stage 5 of ``scrub_document``: fill ``result``'s issues and metrics
    from ``text`` and its scrubbed form. ``skip`` names validate passes
    known to find nothing in the scrubbed text."""
    if not text:
        return result
    n_decisions = sum(1 for d in result.spans if d.action != RETAIN)
    result.issues, result.metrics = validate(        # stage 5
        text, result.text_scrubbed, n_decisions, skip)
    return result
