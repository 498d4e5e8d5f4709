"""Post-scrub validation: residual-PII scan, adversarial scan, quality metrics.

Re-expresses the reference's quality-validator stage:

* D9   Residual-PII scan on *processed* text
  (``quality_validator.py:68-79`` patterns, ``:90-131`` scan).
* D10  Exclusion predicate — placeholders our own scrub produced must not
  count as residual PII (``quality_validator.py:82-88,133-138``).
* D11  Adversarial/obfuscation scan: spaced emails/phones, partial SSNs,
  base64-ish and hex runs (``quality_validator.py:374-382,384-431``).
* A5   Quality metrics: precision/recall/F1 over decisions vs residuals,
  consistency, severity-weighted overall score
  (``quality_validator.py:527-577``).
* A9   Replacement-frequency check: any redaction token > 10x per doc
  (``quality_validator.py:344-368``).
* A11  Schema-integrity check: line-count equality, bracket/quote deltas
  (``quality_validator.py:171-254``, reduced to the structure-preserving
  core — our splice never adds/removes lines by construction).
"""

from __future__ import annotations

import re
from collections import Counter

from incident_pii_redactor_spark.core.detectors import (
    CARD_RE,
    EMAIL_RE,
    IBAN_RE,
    IP_RE,
    NHS_RE,
    NO_SKIP,
    PHONE_RE,
    SSN_RE,
    _DIGIT_RE,
    _LinearScan,
    _RunScan,
    iban_valid,
    luhn_valid,
    nhs_valid,
)

# D10 — placeholders produced by our own scrub (reference :82-88)
_EXCLUSION_RE = re.compile(
    r"\[REDACTED(?:_[A-Z]+)?\]"
    r"|Person_[0-9a-f]{6}"
    r"|user_[0-9a-f]{4}@company\.com"
    r"|server-[0-9a-f]{3}\.internal"
    r"|\+1-555-[0-9a-f]{3}-[0-9a-f]{4}"
    r"|CARD-\*{4}-\*{4}-\*{4}-[0-9a-f]{4}"
    r"|SSN-\*{3}-\*{2}-[0-9a-f]{4}"
    r"|CUST_[0-9a-f]{8}|API_[0-9a-f]{12}|REF-[0-9a-f]{6}"
    r"|#channel-[0-9a-f]{4}|ENT_[0-9a-f]{6}"
    r"|\d{3} Elm Street|City_[0-9a-f]{4}"
    r"|192\.168\.1\.\d{1,3}"
    r"|\b(?:SEC|INC|JIRA)-\d+\b"
)

# The spaced-email local part r"[\w.+-]+(?:\s*\.\s*[\w+-]+)*" as an
# automaton over character classes, run right to left from the '@' (as a
# regex, its two ways to read each ".x" make the scan cubic). States: 0
# start, 1 first run, 2 spaces awaiting a dot, 3 after the dot, 4 word
# after a dot; 1 and 4 accept. _BACK[cls][s] is the set of states whose
# cls-edge leads into set s, so walking left from an accepting set keeps
# exactly the states that can still read the rest.
_W, _DOT, _SP, _OTHER = range(4)
_EDGES = (
    (0, _W, 1), (0, _DOT, 1), (1, _W, 1), (1, _DOT, 1), (1, _DOT, 3),
    (1, _SP, 2), (2, _SP, 2), (2, _DOT, 3), (3, _SP, 3), (3, _W, 4),
    (4, _W, 4), (4, _SP, 2), (4, _DOT, 3),
)
_BACK = [
    [sum({1 << a for a, c, b in _EDGES if c == cls and s >> b & 1})
     for s in range(32)]
    for cls in range(4)
]


def _char_class(ch: str) -> int:
    # str.isalnum/isspace are exactly re's \w (plus '_') and \s
    if ch.isalnum() or ch in "_+-":
        return _W
    return _DOT if ch == "." else _SP if ch.isspace() else _OTHER


def _is_word(ch: str) -> bool:
    return ch.isalnum() or ch == "_"


class _SpacedEmailScan(_LinearScan):
    r"""``\b<local>\s+@\s+<domain>``. The local part cannot contain '@', so
    each match ends at the domain of the first '@' after its start, and the
    local part ends at the last non-space before that '@'. So: find each
    '@' with spaces around it and a valid domain (``_at``, linear), then
    walk left through the automaton to the leftmost \b start that reads
    the whole local part; the walk stops as soon as no state survives.
    ``body`` is an unambiguous form of the pattern, used only anchored:
    the first run is atomic, and a run ending in '.' lends that dot to the
    next word ("a.b. x" is "a.b" + ". x")."""

    body = re.compile(
        r"\b(?>[\w.+-]+)(?:(?<=\.)\s+(?:\.\s*)?[\w+-]+)?+"
        r"(?:\s*\.\s*[\w+-]+)*+\s+@\s+[\w-]+(?:\s*\.\s*[\w-]+)+"
    )
    _at = re.compile(r"(?<=\s)@\s+[\w-]+(?:\s*\.\s*[\w-]+)+")

    def _leftmost(self, text: str, pos: int) -> int | None:
        for at in self._at.finditer(text, pos):
            i = at.start() - 1
            while i >= pos and text[i].isspace():
                i -= 1
            states, start = 0b10010, None  # accepting: 1 and 4
            while i >= pos:
                states = _BACK[_char_class(text[i])][states]
                if not states:
                    break
                if states & 1 and _is_word(text[i]) != (
                        i > 0 and _is_word(text[i - 1])):
                    start = i
                i -= 1
            if start is not None:
                return start
        return None


# D11 — obfuscation patterns (reference quality_validator.py:374-382)
ADVERSARIAL_PATTERNS: dict[str, re.Pattern | _LinearScan] = {
    "spaced_email": _SpacedEmailScan(),
    "spaced_phone": re.compile(r"\b\d{3}\s+\d{3}\s+\d{4}\b"),
    "partial_ssn": re.compile(r"\b[Xx*]{3}-[Xx*]{2}-\d{4}\b"),
    # a blob is one [A-Za-z0-9+/] run from its first \b: a later start
    # only shortens it ('=' ends the run: possessive is exact)
    "base64_blob": _RunScan(
        "[A-Za-z0-9+/]", r"(?=[A-Za-z0-9+/]{40})(?>[A-Za-z0-9+/]*?\b)",
        r"\b[A-Za-z0-9+/]{40,}+={1,2}(?!\w)",
    ),
    "hex_run": re.compile(r"\b[0-9a-fA-F]{32,}\b"),
}


def _mask_exclusions(text: str) -> str:
    """Blank out our own placeholders so residual regexes can't match them."""
    return _EXCLUSION_RE.sub(lambda m: "\x00" * len(m.group()), text)


def residual_pii(processed: str, masked: str | None = None,
                 skip: frozenset = NO_SKIP) -> list[dict]:
    """D9+D10: re-run core PII regexes on scrubbed text; each hit is a
    CRITICAL issue (a redaction the pipeline missed). ``masked`` lets the
    caller share one exclusion-masking pass with adversarial_scan."""
    has_digit = _DIGIT_RE.search(processed) is not None
    if "@" not in processed and not has_digit:
        return []  # every residual pattern requires '@' or a digit
    if masked is None:
        masked = _mask_exclusions(processed)
    issues: list[dict] = []

    def add(kind: str, m: re.Match, severity: str = "critical") -> None:
        issues.append(
            {"issue_type": f"residual_{kind}", "severity": severity,
             "location": m.start(), "text": m.group()}
        )

    if "@" in masked and "residual_email" not in skip:
        for m in EMAIL_RE.finditer(masked):
            add("email", m)
    if has_digit:
        if "residual_ssn" not in skip:
            for m in SSN_RE.finditer(masked):
                add("ssn", m)
        if "residual_credit_card" not in skip:
            for m in CARD_RE.finditer(masked):
                digits = re.sub(r"[- ]", "", m.group())
                if 13 <= len(digits) <= 19 and luhn_valid(digits):
                    add("credit_card", m)
        if "residual_phone" not in skip:
            for m in PHONE_RE.finditer(masked):
                if len(re.sub(r"\D", "", m.group())) >= 10:
                    add("phone", m)
        if "residual_ip_address" not in skip:
            for m in IP_RE.finditer(masked):
                add("ip_address", m, severity="high")
        if "residual_nhs" not in skip:
            for m in NHS_RE.finditer(masked):
                if nhs_valid(re.sub(r"[ -]", "", m.group())):
                    add("nhs", m)
        if "residual_iban" not in skip:
            for m in IBAN_RE.finditer(masked):
                if iban_valid(m.group()):
                    add("iban", m)
    return issues


# exact gates: each adversarial pattern requires one of these substrings
# (hex_run has no cheap exact gate — letters a-f occur in all prose — so
# it always runs)
_ADVERSARIAL_GATES = {
    "spaced_email": ("@",),
    "spaced_phone": ("0", "1", "2", "3", "4", "5", "6", "7", "8", "9"),
    "partial_ssn": ("-",),
    "base64_blob": ("=",),
}


def adversarial_scan(processed: str, masked: str | None = None,
                     skip: frozenset = NO_SKIP) -> list[dict]:
    """D11: obfuscated-PII heuristics on scrubbed text (severity high)."""
    if masked is None:
        masked = _mask_exclusions(processed)
    issues: list[dict] = []
    for kind, pat in ADVERSARIAL_PATTERNS.items():
        if f"adversarial_{kind}" in skip:
            continue
        gates = _ADVERSARIAL_GATES.get(kind)
        if gates is not None and not any(g in masked for g in gates):
            continue
        for m in pat.finditer(masked):
            issues.append(
                {"issue_type": f"adversarial_{kind}", "severity": "high",
                 "location": m.start(), "text": m.group()}
            )
    return issues


def replacement_frequency_issues(processed: str, limit: int = 10) -> list[dict]:
    """A9: flag any redaction token appearing > limit times per doc."""
    counts = Counter(m.group() for m in re.finditer(r"\[REDACTED(?:_[A-Z]+)?\]",
                                                    processed))
    return [
        {"issue_type": "replacement_frequency", "severity": "medium",
         "location": -1, "text": f"{tok}x{n}"}
        for tok, n in sorted(counts.items())
        if n > limit
    ]


def schema_integrity_issues(original: str, processed: str) -> list[dict]:
    """A11 (core): line-count equality + bracket/quote count deltas > 2."""
    issues: list[dict] = []
    if original.count("\n") != processed.count("\n"):
        issues.append(
            {"issue_type": "line_count_changed", "severity": "high",
             "location": -1, "text": ""}
        )
    for ch, name in (("{", "brace"), ("(", "paren")):
        close = {"{": "}", "(": ")"}[ch]
        d0 = original.count(ch) - original.count(close)
        d1 = processed.count(ch) - processed.count(close)
        if abs(d0 - d1) > 2:
            issues.append(
                {"issue_type": f"{name}_balance_changed", "severity": "medium",
                 "location": -1, "text": ""}
            )
    return issues


_SEVERITY_WEIGHT = {"critical": 0.3, "high": 0.2, "medium": 0.1, "low": 0.05}


def quality_metrics(n_decisions: int, issues: list[dict]) -> dict:
    """A5: precision/recall/F1/consistency/overall
    (reference quality_validator.py:527-577 formulas)."""
    residual = sum(1 for i in issues if i["issue_type"].startswith("residual_"))
    if n_decisions > 0:
        precision = max(0.0, (n_decisions - residual) / n_decisions)
        recall = n_decisions / (n_decisions + residual)
        consistency = max(0.0, 1.0 - len(issues) / n_decisions)
    else:
        precision = 1.0 if residual == 0 else 0.0
        recall = 1.0 if residual == 0 else 0.0
        consistency = 1.0 if not issues else 0.0
    f1 = (2 * precision * recall / (precision + recall)) if (precision + recall) else 0.0
    penalty = sum(_SEVERITY_WEIGHT.get(i["severity"], 0.05) for i in issues)
    overall = max(0.0, min(1.0, 1.0 - penalty))
    return {
        "precision": precision,
        "recall": recall,
        "f1_score": f1,
        "residual_pii_count": residual,
        "consistency_score": consistency,
        "overall_quality_score": overall,
    }


def recommendations(metrics: dict, issues: list[dict]) -> list[str]:
    """A6: threshold rules over metrics/issues -> advisory strings
    (reference quality_validator.py:579-622)."""
    recs: list[str] = []
    if metrics.get("residual_pii_count", 0) > 0:
        recs.append("residual PII detected: review detector coverage for the "
                    "flagged types")
    if metrics.get("precision", 1.0) < 0.9:
        recs.append("precision below 0.9: tighten low-confidence patterns or "
                    "raise the splice threshold")
    if metrics.get("overall_quality_score", 1.0) < 0.7:
        recs.append("overall quality below 0.7: manual review recommended")
    if any(i["issue_type"].startswith("adversarial_") for i in issues):
        recs.append("obfuscated PII patterns present: consider enabling "
                    "aggressive normalization before detection")
    if any(i["issue_type"] == "replacement_frequency" for i in issues):
        recs.append("a redaction token repeats >10x in one document: verify "
                    "the source is not already templated")
    return recs


def validate(original: str, processed: str, n_decisions: int,
             skip: frozenset = NO_SKIP) -> tuple[list[dict], dict]:
    """Full validation pass: D9-D11 + A9 + A11 issues, then A5 metrics.
    ``skip`` holding ``exclusion`` says no placeholder occurs in
    ``processed``, so masking would return it unchanged."""
    masked = processed if "exclusion" in skip else _mask_exclusions(processed)
    issues = (
        residual_pii(processed, masked, skip)
        + adversarial_scan(processed, masked, skip)
        + replacement_frequency_issues(processed)
        + schema_integrity_issues(original, processed)
    )
    return issues, quality_metrics(n_decisions, issues)
