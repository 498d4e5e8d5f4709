"""Span detectors: regex PII scan, Luhn validation, custom patterns,
keyword-context scan, false-positive predicates, contextual finder.

Re-expresses from scratch (public regex knowledge only) the reference's
detection surface:

* D1  Presidio-backed entity scan (``src/core/pii_detector.py:26-90``) —
  reimplemented as explicit regexes + checksums (the north rule requires
  no Presidio); entity set matches the reference's 11-type list at
  ``pii_detector.py:26-38`` (PERSON, PHONE_NUMBER, EMAIL_ADDRESS,
  CREDIT_CARD, US_SSN, ADDRESS, DATE_OF_Birth, IP_ADDRESS, IBAN_CODE,
  NHS, LOCATION) plus api_key/hostname: email, phone, ssn, credit_card
  (Luhn), ip_address, person_name, api_key, hostname, iban (mod-97),
  nhs (mod-11 check digit), date_of_birth (context-gated dates),
  address (street-pattern), location (gazetteer — the regex-only
  replacement for Presidio's NER, same design as the FIRST_NAMES gate
  for person).
* D3  Custom patterns: internal_url, jira_ticket, aws_arn, kubernetes_pod,
  slack_channel, docker_image at fixed confidence 0.8
  (``deterministic_extractor.py:118-125, 223-265``).
* D4  Keyword-context scan, 15 internal keywords, confidence 0.3
  (``deterministic_extractor.py:128-132, 267-301``; the reference's
  pattern template at :278 has malformed escapes — we use a corrected,
  documented pattern: keyword + ``[:=]`` + value -> high confidence;
  bare keyword -> 0.3 advisory span).
* D5  False-positive predicates (``src/core/pii_detector.py:121-140``):
  numeric "persons", @example.com emails, 4-digit "phones".
* D6/D7 Contextual finder: regex families + additive confidence scoring,
  admit >= 0.6 (``src/processing/llm_detector.py:58-173``). The default
  (and only network-free) reference path is regex simulation, which is
  what we replicate.
* D8  Context-window extraction: ±50 chars (``pii_detector.py:107-119``).

Every pattern here and in ``core/validate.py`` scans in time linear in
the document length, on any input: ``tests/test_linear_regex.py`` times
each one at n and 4n characters of adversarial text. Patterns whose plain
``re`` form would rescan a long run from every start are ``_RunScan``
objects with the same ``finditer`` results. The Java-regex twin the
registry queries use (``functions/text.py::EMAIL_RE_SQL``) is separate.

Every pass here and in ``core/validate.py`` can be skipped by name (see
``NO_SKIP``). The Spark operator skips a pass on a page where its RE2
gate finds nothing: the gate table is ``operators/scrub.py::
DETECT_GATES``/``VALIDATE_GATES``, and an edit to a pattern here must
update its gate there.
"""

from __future__ import annotations

import re

from incident_pii_redactor_spark.core.spans import (
    REDACT,
    SRC_DETERMINISTIC,
    SRC_FINDER,
    Span,
    covered_positions,
    resolve_overlaps,
)

# ---------------------------------------------------------------------------
# Linear-time scans. ``re`` tries a pattern at every start position, so a
# pattern whose leading run can cover a long token ("a.a.a…" for an email
# local part, "1-2-3-…" for a pod name) rescans that token from each of
# its positions: O(n²) per document, or worse when the run is ambiguous.
# These objects return exactly the ``finditer`` matches of the plain
# pattern (same spans, groups and order) while reading each run a bounded
# number of times.
# ---------------------------------------------------------------------------


class _LinearScan:
    """``_leftmost(text, pos)`` finds where the leftmost match at or after
    ``pos`` starts; ``body``, a pattern whose single anchored attempt is
    linear, produces the ``re.Match`` there."""

    body: re.Pattern

    def finditer(self, text: str):
        pos = 0
        while (start := self._leftmost(text, pos)) is not None:
            m = self.body.match(text, start)
            yield m
            pos = m.end()  # every body match is non-empty


class _RunScan(_LinearScan):
    """For a ``body`` whose matches all start inside a maximal run of
    ``run`` characters, and where, within one run, a match from any start
    implies a match from the first start ``skip`` reaches (an atomic group
    that moves to the first position the body may start at, after an
    optional lookahead that rejects a run no match fits in). Then one
    attempt per run decides the whole run: ``_fast`` rejects every
    position preceded by a run character in O(1) and attempts each run
    once, from its first character. A previous match may end inside a run
    and the next start right there (``"a@b.com_x@y.com"``); ``_resume``
    makes that one attempt at ``pos``."""

    def __init__(self, run: str, skip: str, body: str):
        self.body = re.compile(body)
        self._resume = re.compile(f"{skip}(){body}")
        self._fast = re.compile(f"(?<!{run}){skip}(){body}")

    def _leftmost(self, text: str, pos: int) -> int | None:
        m = (pos and self._resume.match(text, pos)) or self._fast.search(text, pos)
        return m.start(1) if m else None


# ---------------------------------------------------------------------------
# D1 — primary PII regexes (compiled once per process / executor; the Spark
# layer ships only this module, so compilation happens lazily per worker —
# the broadcast-config pattern of SURVEY.md §4.1).
# ---------------------------------------------------------------------------

# every start inside one local-part run shares the same '@' and domain, so
# the first start decides the run ('@' ends the run: possessive is exact)
EMAIL_RE = _RunScan(
    "[A-Za-z0-9._%+-]", "",
    r"[A-Za-z0-9._%+-]++@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
)

# +1-555-123-4567 | (555) 123-4567 | 555.123.4567 — separator-FORMATTED
# numbers only, by design: a bare \d{10} branch would redact every 10-digit
# epoch timestamp and order id in log-flavored text (worse than missing
# unformatted phones, which even the reference's regex path does not catch)
PHONE_RE_STR = r"(?:\+?1[-. ])?(?:\(\d{3}\)\s?|\d{3}[-. ])\d{3}[-. ]\d{4}\b"
PHONE_RE = re.compile(PHONE_RE_STR)

SSN_RE_STR = r"\b\d{3}-\d{2}-\d{4}\b"
SSN_RE = re.compile(SSN_RE_STR)

# 13-19 digits with optional single space/dash separators (Luhn-gated below)
CARD_RE_STR = r"\b\d(?:[- ]?\d){12,18}\b"
CARD_RE = re.compile(CARD_RE_STR)

IP_RE_STR = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
IP_RE = re.compile(IP_RE_STR)

# short generic prefixes (sk/pk/ak) REQUIRE a separator — without it any
# long ordinary word starting with those letters ('skyscraperbuilding',
# 'akamaiedgehostname') would be force-redacted as a key
API_KEY_RE = re.compile(
    r"\b(?:(?:sk|pk|ak)[_-]|(?:ghp|xox[bap])[_-]?|AKIA)[A-Za-z0-9]{16,48}\b"
)

HOSTNAME_RE = re.compile(
    r"\b[a-z][a-z0-9-]{1,40}\.(?:internal|corp|local|lan)(?:\.[a-z]{2,6})?\b"
)

# person names: Capitalized First Last, gated by a first-name allowlist to
# keep precision (the reference used Presidio NER here; a bare capitalized
# -pair regex is the adversarial-scan heuristic at quality_validator.py:374-382).
FIRST_NAMES = frozenset(
    """james john robert michael william david richard joseph thomas charles
    mary patricia jennifer linda elizabeth barbara susan jessica sarah karen
    nancy lisa margaret betty sandra ashley kimberly emily donna michelle
    carol amanda melissa deborah stephanie rebecca sharon laura cynthia
    kathleen amy angela anna brenda pamela emma olivia sophia isabella
    daniel matthew anthony mark donald steven paul andrew joshua kenneth
    kevin brian george timothy ronald jason edward jeffrey ryan jacob gary
    nicholas eric jonathan stephen larry justin scott brandon benjamin
    samuel gregory alexander frank patrick raymond jack dennis jerry tyler
    aaron jose adam nathan henry douglas zachary peter kyle noah ethan
    alice bob carlos diana frank grace henry ivan julia""".split()
)
# consumes only the FIRST word and looks ahead for the second, so candidate
# pairs may overlap ("Contact John Smith" must still yield "John Smith"
# after "Contact John" fails the name gate) while the scan stays
# O(candidates), not O(len) zero-width attempts
PERSON_RE = re.compile(r"\b([A-Z][a-z]{2,15})\s+(?=([A-Z][a-z]{2,20})\b)")

# words that look like name-starts but are prose (FP guard)
_NOT_SURNAMES = frozenset(
    "The This That These Those Then There From With When Where What Which "
    "Please Thanks Hello Dear Team Incident Summary Title Description".split()
)

# --- round-2 additions: the reference's remaining 5 entity types
# (pii_detector.py:31-37 ADDRESS, DATE_OF_Birth, IBAN_CODE, NHS, LOCATION)

# IBAN: 2-letter country + 2 check digits + 11-30 alphanumerics, validated
# by the public mod-97 rule (ISO 13616); per-country lengths pin the
# common cases so 'DE44...' truncations don't half-match.
IBAN_RE_STR = r"\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b"
IBAN_RE = re.compile(IBAN_RE_STR)
_IBAN_LEN = {
    "AD": 24, "AT": 20, "BE": 16, "CH": 21, "CZ": 24, "DE": 22, "DK": 18,
    "ES": 24, "FI": 18, "FR": 27, "GB": 22, "GR": 27, "HR": 21, "HU": 28,
    "IE": 22, "IS": 26, "IT": 27, "LI": 21, "LT": 20, "LU": 20, "LV": 21,
    "MC": 27, "MT": 31, "NL": 18, "NO": 15, "PL": 28, "PT": 25, "RO": 24,
    "SE": 24, "SI": 19, "SK": 24, "SM": 27,
}


def iban_valid(s: str) -> bool:
    """ISO 13616 mod-97: move the first 4 chars to the end, map A-Z to
    10-35, and the resulting integer must be ≡ 1 (mod 97)."""
    country = s[:2]
    expected = _IBAN_LEN.get(country)
    if expected is not None and len(s) != expected:
        return False
    rearranged = s[4:] + s[:4]
    total = 0
    for ch in rearranged:
        if ch.isdigit():
            total = total * 10 + (ord(ch) - 48)
        else:
            total = total * 100 + (ord(ch) - 55)  # 'A' -> 10
        total %= 97
    return total == 1


# NHS number: 10 digits (optionally 3-3-4 grouped), validated by the
# public mod-11 check-digit rule (weights 10..2 over the first 9 digits).
NHS_RE_STR = r"\b\d{3}[ -]?\d{3}[ -]?\d{4}\b"
NHS_RE = re.compile(NHS_RE_STR)


def nhs_valid(digits: str) -> bool:
    if len(digits) != 10:
        return False
    total = sum((ord(d) - 48) * (10 - i) for i, d in enumerate(digits[:9]))
    check = 11 - (total % 11)
    if check == 11:
        check = 0
    if check == 10:
        return False
    return check == ord(digits[9]) - 48


# DATE_OF_BIRTH: a date expression within reach of a birth-context cue
# (Presidio ships no DOB recognizer; context-gating is the standard
# regex-only design and keeps plain dates/timestamps out).
_DOB_CONTEXT_RE = re.compile(
    r"\b(?:born(?:\s+on)?|birth\s*date|date\s+of\s+birth|dob|d\.o\.b\.?)"
    r"\b\s*[:=-]?\s*",
    re.IGNORECASE,
)
_DATE_RE = re.compile(
    r"\d{4}-\d{2}-\d{2}"
    r"|\d{1,2}[/-]\d{1,2}[/-]\d{2,4}"
    r"|(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|"
    r"Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|"
    r"Dec(?:ember)?)\.?\s+\d{1,2},?\s+\d{4}"
)

# ADDRESS: street-number + 1-3 capitalized words + suffix, with optional
# unit and city/state/ZIP tail (US-shaped, like Presidio's pattern
# recognizers; NER-grade address parsing is out of scope by design).
ADDRESS_RE_STR = (
    r"\b\d{1,5}\s+(?:[A-Z][A-Za-z]+\s+){1,3}"
    r"(?:Street|St|Avenue|Ave|Road|Rd|Boulevard|Blvd|Lane|Ln|Drive|Dr|"
    r"Court|Ct|Place|Pl|Way|Terrace|Ter)\b\.?"
    r"(?:,?\s*(?:Apt|Suite|Unit)\.?\s*#?\s*\w{1,6})?"
    r"(?:,\s*[A-Z][a-z]+(?:\s+[A-Z][a-z]+)?,\s*[A-Z]{2}\s+\d{5}(?:-\d{4})?)?"
)
ADDRESS_RE = re.compile(ADDRESS_RE_STR)

# LOCATION: gazetteer of major cities / countries / US states — the
# regex-only stand-in for Presidio's NER LOCATION, mirroring the
# FIRST_NAMES allowlist design used for person_name.
_GAZETTEER = (
    "New York", "Los Angeles", "San Francisco", "Chicago", "Houston",
    "Phoenix", "Philadelphia", "San Diego", "Dallas", "Austin", "Seattle",
    "Denver", "Boston", "Atlanta", "Miami", "Portland", "Detroit",
    "Minneapolis", "London", "Paris", "Berlin", "Madrid", "Rome",
    "Amsterdam", "Dublin", "Vienna", "Prague", "Warsaw", "Lisbon",
    "Zurich", "Geneva", "Brussels", "Copenhagen", "Stockholm", "Oslo",
    "Helsinki", "Tokyo", "Osaka", "Seoul", "Beijing", "Shanghai",
    "Singapore", "Sydney", "Melbourne", "Toronto", "Vancouver", "Montreal",
    "Mexico City", "Sao Paulo", "Buenos Aires", "Mumbai", "Delhi",
    "Bangalore", "Dubai", "Tel Aviv", "Cairo", "Lagos", "Nairobi",
    "United States", "United Kingdom", "Germany", "France", "Spain",
    "Italy", "Canada", "Australia", "Japan", "China", "India", "Brazil",
    "California", "Texas", "Florida", "Washington", "Virginia", "Oregon",
    "Colorado", "Arizona", "Nevada", "Georgia",
)
def _trie_pattern(words: tuple) -> str:
    """Compile a word list into a prefix-trie regex: Python's re engine
    tries flat alternations branch-by-branch at every position (measured
    0.38 s vs 0.05 s per 6k docs for the 80-entry gazetteer); a trie
    shares common prefixes so each position fails after ~1 char. Match
    set is identical to the flat alternation because no gazetteer entry
    is a strict prefix of another (asserted below), so leftmost-first
    equals leftmost-longest."""
    trie: dict = {}
    for w in sorted(words):
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}  # end marker

    def emit(node: dict) -> str:
        if list(node) == [""]:
            return ""
        alts, has_end = [], False
        for ch, child in sorted(node.items()):
            if ch == "":
                has_end = True
                continue
            alts.append(re.escape(ch) + emit(child))
        body = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
        return body + "?" if has_end else body

    return emit(trie)


assert not any(
    a != b and b.startswith(a) for a in _GAZETTEER for b in _GAZETTEER
), "gazetteer prefix-entries would change trie match semantics"
LOCATION_RE = re.compile(r"\b(?:" + _trie_pattern(_GAZETTEER) + r")\b")


def luhn_valid(digits: str) -> bool:
    """Luhn checksum — Presidio's CREDIT_CARD recognizer applies this
    internally (SURVEY.md §2.3 D1); we implement it explicitly."""
    total, parity = 0, len(digits) % 2
    for i, ch in enumerate(digits):
        d = ord(ch) - 48
        if d < 0 or d > 9:
            return False
        if i % 2 == parity:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def _valid_ssn(s: str) -> bool:
    area, group, serial = s.split("-")
    return not (
        area in ("000", "666")
        or area.startswith("9")
        or group == "00"
        or serial == "0000"
    )


def _valid_ip(s: str) -> bool:
    return all(0 <= int(o) <= 255 for o in s.split("."))


# D5 — false-positive predicates (reference pii_detector.py:121-140)
_FP_EMAIL = re.compile(r"@(?:example|test|sample)\.(?:com|org|net)$", re.I)


# exact short-circuit gates: a pattern that REQUIRES one of these
# characters/substrings cannot match a text lacking it, so the (much
# cheaper, memchr-backed) `in` test skips whole finditer passes. Clean
# prose — the common case at corpus scale — has no '@', no digits, no
# uppercase runs, so it skips nearly everything. Pure short-circuits:
# zero semantic change, verified by the shared-oracle parity tests.
_DIGIT_RE = re.compile(r"\d")
_UPPER_RE = re.compile(r"[A-Z]")
_HOST_TLDS = (".internal", ".corp", ".local", ".lan")

# Every detect and validate function also takes ``skip``: names of passes
# its caller has already shown to find nothing in the text, which it then
# does not run. The names are the entity types the passes emit, plus
# ``residual_*``/``adversarial_*`` for the validate passes and
# ``exclusion`` for the placeholder mask. The default runs every pass.
NO_SKIP: frozenset = frozenset()


def detect_pii(text: str, skip: frozenset = NO_SKIP) -> list[Span]:
    """D1+D5: core PII entity scan with validation predicates.

    Confidence model mirrors the reference's scored spans
    (``pii_detector.py:50-90``): checksum/structure-validated types score
    0.99; plain pattern matches 0.85-0.95; gated person names 0.85.
    ``skip`` names passes the caller knows find nothing in ``text``.
    """
    spans: list[Span] = []
    has_digit = _DIGIT_RE.search(text) is not None
    if "@" in text and "email" not in skip:
        for m in EMAIL_RE.finditer(text):
            if _FP_EMAIL.search(m.group()):
                continue  # D5: example-domain emails are FPs
            spans.append(Span(m.start(), m.end(), "email", 0.99, m.group()))
    if has_digit:
        if "ssn" not in skip:
            for m in SSN_RE.finditer(text):
                if _valid_ssn(m.group()):
                    spans.append(
                        Span(m.start(), m.end(), "ssn", 0.99, m.group()))
        if "credit_card" not in skip:
            for m in CARD_RE.finditer(text):
                digits = re.sub(r"[- ]", "", m.group())
                if 13 <= len(digits) <= 19 and luhn_valid(digits):
                    spans.append(
                        Span(m.start(), m.end(), "credit_card", 0.99,
                             m.group()))
        if "phone" not in skip:
            for m in PHONE_RE.finditer(text):
                digits = re.sub(r"\D", "", m.group())
                if len(digits) < 10:  # D5: 4-digit "phones" are FPs
                    continue
                spans.append(
                    Span(m.start(), m.end(), "phone", 0.95, m.group()))
        if "ip_address" not in skip:
            for m in IP_RE.finditer(text):
                if _valid_ip(m.group()):
                    spans.append(
                        Span(m.start(), m.end(), "ip_address", 0.95,
                             m.group()))
    # NOT digit-gated: letter-only keys ('sk_abcdef...') are valid matches.
    # Exact gate = the literal prefixes the regex requires.
    if "api_key" not in skip and any(
            p in text for p in ("sk", "pk", "ak", "ghp", "xox", "AKIA")):
        for m in API_KEY_RE.finditer(text):
            spans.append(Span(m.start(), m.end(), "api_key", 0.95, m.group()))
    if "hostname" not in skip and any(t in text for t in _HOST_TLDS):
        for m in HOSTNAME_RE.finditer(text):
            spans.append(Span(m.start(), m.end(), "hostname", 0.9, m.group()))
    has_upper = _UPPER_RE.search(text) is not None
    if has_upper and "person_name" not in skip:
        for m in PERSON_RE.finditer(text):
            first, last = m.group(1), m.group(2)
            if first.lower() in FIRST_NAMES and last not in _NOT_SURNAMES:
                # lookahead groups record positions, so end(2) is valid
                spans.append(
                    Span(m.start(1), m.end(2), "person_name", 0.85,
                         text[m.start(1): m.end(2)])
                )
    # round-2 entity types (reference pii_detector.py:31-37)
    if has_upper and has_digit:
        if "iban" not in skip:
            for m in IBAN_RE.finditer(text):
                if iban_valid(m.group()):
                    spans.append(
                        Span(m.start(), m.end(), "iban", 0.99, m.group()))
        if "address" not in skip:
            for m in ADDRESS_RE.finditer(text):
                spans.append(
                    Span(m.start(), m.end(), "address", 0.85, m.group()))
    if has_digit:
        if "nhs" not in skip:
            for m in NHS_RE.finditer(text):
                if nhs_valid(re.sub(r"[ -]", "", m.group())):
                    spans.append(
                        Span(m.start(), m.end(), "nhs", 0.99, m.group()))
        lower = text.lower()
        if "date_of_birth" not in skip and (
                "birth" in lower or "born" in lower or "dob" in lower):
            for c in _DOB_CONTEXT_RE.finditer(text):
                # date must START within 24 chars of the cue (tolerates a
                # short filler like 'born on the '); endpos leaves room
                # for the longest date form (~18 chars)
                m = _DATE_RE.search(text, c.end(), c.end() + 24 + 18)
                if m is not None and m.start() <= c.end() + 24:
                    spans.append(
                        Span(m.start(), m.end(), "date_of_birth", 0.9,
                             m.group())
                    )
    if has_upper and "location" not in skip:
        for m in LOCATION_RE.finditer(text):
            spans.append(Span(m.start(), m.end(), "location", 0.85, m.group()))
    return spans


# ---------------------------------------------------------------------------
# D3 — custom infra patterns, fixed confidence 0.8
# (reference deterministic_extractor.py:118-125)
# ---------------------------------------------------------------------------

CUSTOM_PATTERNS: dict[str, re.Pattern | _RunScan] = {
    "internal_url": re.compile(
        # \b so '.corp1.com' (public) is not clipped into a '.corp' match
        r"https?://[a-z0-9.-]*\.(?:internal|corp|local)\b(?::\d+)?(?:/\S*)?"
    ),
    "jira_ticket": re.compile(r"\b[A-Z]{2,10}-\d{1,6}\b"),
    "aws_arn": re.compile(r"\barn:aws:[a-z0-9-]+:[a-z0-9-]*:\d{12}:\S+"),
    # the whole match lies in one [a-z0-9-] run; a tail found after a
    # later start is also after the run's first \b-alnum start (the
    # lookahead rules out a run with no '-' in one pass)
    "kubernetes_pod": _RunScan(
        "[a-z0-9-]", r"(?=[a-z0-9]*+-)(?>[a-z0-9-]*?\b(?=[a-z0-9]))",
        r"\b[a-z0-9][a-z0-9-]*-[a-f0-9]{8,10}-[a-z0-9]{5}\b",
    ),
    "slack_channel": re.compile(r"#[a-z0-9][a-z0-9_-]{1,32}\b"),
    # name and path lie in one [a-z0-9._/-] run that must end at the ':';
    # the skip walks its '_'/'/'-separated segments to the first \b whose
    # [a-z0-9.-] segment ends in '/' followed by a path character
    "docker_image": _RunScan(
        "[a-z0-9._/-]",
        r"(?=[a-z0-9._/-]*+:)(?>(?:[a-z0-9.-]*+[_/])*?(?>[a-z0-9.-]*?\b)"
        r"(?=[a-z0-9.-]++/[a-z0-9._/-]))",
        r"\b[a-z0-9.-]++/[a-z0-9._/-]++:[a-zA-Z0-9][a-zA-Z0-9._-]{0,48}\b",
    ),
}


# exact gate per custom pattern: a required literal each regex cannot
# match without (same short-circuit principle as detect_pii's gates)
_CUSTOM_GATES = {
    "internal_url": "http",
    "jira_ticket": "-",
    "aws_arn": "arn:aws:",
    "kubernetes_pod": "-",
    "slack_channel": "#",
    "docker_image": ":",
}


def detect_custom(text: str, existing: list[Span],
                  skip: frozenset = NO_SKIP) -> list[Span]:
    """D3: infra-pattern scan, skipping positions already covered by
    higher-priority detections (reference deterministic_extractor.py:223-265)."""
    covered = covered_positions(existing)
    spans: list[Span] = []
    for name, pat in CUSTOM_PATTERNS.items():
        if name in skip or _CUSTOM_GATES[name] not in text:
            continue
        for m in pat.finditer(text):
            if any(p in covered for p in (m.start(), m.end() - 1)):
                continue
            spans.append(
                Span(m.start(), m.end(), name, 0.8, m.group(), method="regex")
            )
    return spans


# ---------------------------------------------------------------------------
# D4 — keyword-context scan (reference deterministic_extractor.py:128-132,
# 267-301). 15 internal keywords; corrected pattern (the reference template
# at :278 has malformed \b/brace escapes — documented divergence).
# ---------------------------------------------------------------------------

INTERNAL_KEYWORDS = (
    "prod", "staging", "secret", "token", "password", "credential",
    "apikey", "api_key", "internal", "confidential", "database", "admin",
    "root", "vpn", "ssh",
)
_KEYWORD_RE = re.compile(
    r"\b(" + "|".join(INTERNAL_KEYWORDS) + r")\b", re.IGNORECASE
)
# keyword followed by an assigned value => real secret leak, high confidence
_SECRET_ASSIGN_RE = re.compile(
    r"\b(?:secret|token|password|credential|apikey|api_key)\s*[:=]\s*(\S+)",
    re.IGNORECASE,
)


def detect_keywords(text: str, existing: list[Span],
                    skip: frozenset = NO_SKIP) -> list[Span]:
    """D4: secret-assignment spans (REDACT, 0.9) + bare-keyword advisory
    spans (category SECRETS, confidence 0.3 — reference semantics; these
    low-confidence spans rarely survive arbitration, same as the reference
    where 0.3 < the 0.8 splice threshold at deterministic_extractor.py:368-383)."""
    covered = covered_positions(existing)
    spans: list[Span] = []
    # the secret-assignment form needs a separator
    if "secret_value" not in skip and (":" in text or "=" in text):
        for m in _SECRET_ASSIGN_RE.finditer(text):
            s, e = m.start(1), m.end(1)
            if any(p in covered for p in (s, e - 1)):
                continue
            spans.append(
                Span(s, e, "secret_value", 0.9, m.group(1), method="keyword",
                     action=REDACT)
            )
    # exact substring gate before the 15-way alternation scan: clean prose
    # (the common case at corpus scale) contains none of the keywords, and
    # 15 memchr passes beat one backtracking alternation pass. ASCII-only:
    # IGNORECASE matches Unicode case variants ('paſsword', 'İNTERNAL')
    # that a lower() substring test misses, so non-ASCII text always scans
    lower = text.lower()  # once, not once per keyword
    if "internal_keyword" not in skip and (
            not text.isascii() or any(kw in lower for kw in INTERNAL_KEYWORDS)):
        for m in _KEYWORD_RE.finditer(text):
            if m.start() in covered:
                continue
            spans.append(
                Span(m.start(), m.end(), "internal_keyword", 0.3, m.group(),
                     method="keyword")
            )
    return spans


def detect_deterministic(text: str, skip: frozenset = NO_SKIP) -> list[Span]:
    """Full deterministic stage: D1 -> D3 -> D4 -> C1 overlap resolve.

    Mirrors the reference stage orchestration at
    ``deterministic_extractor.py:194-344``.
    """
    spans = detect_pii(text, skip)
    spans += detect_custom(text, spans, skip)
    spans += detect_keywords(text, spans, skip)
    for s in spans:
        s.source = SRC_DETERMINISTIC
    return resolve_overlaps(spans)


# ---------------------------------------------------------------------------
# D6/D7 — contextual finder (reference llm_detector.py:58-173, regex
# simulation path). Base confidence 0.5 + additive context bonuses,
# admit >= 0.6.
# ---------------------------------------------------------------------------

CONTEXTUAL_PATTERNS: dict[str, re.Pattern] = {
    # `\s*[:#]?\s*` would split a run of spaces between its two \s* in
    # every way (quadratic); spaces before the optional [:#] are all
    # taken first either way, so the possessive form matches the same
    "employment_info": re.compile(
        r"\b(?:employee|staff)\s+(?:id|number)\s*+(?:[:#]\s*+)?\w{4,12}\b",
        re.I,
    ),
    "salary_info": re.compile(
        r"\$\s?\d{2,3}(?:,\d{3})+(?:\.\d{2})?\b"
    ),
    "internal_platforms": re.compile(
        r"\b(?:grafana|kibana|jenkins|vault|consul)\.[a-z0-9.-]+\b", re.I
    ),
    "internal_metrics": re.compile(
        r"\b(?:arr|mrr|churn)\s+(?:of\s+)?\$?\d[\d,.]*[km]?\b", re.I
    ),
    "customer_data_refs": re.compile(r"\bcust[_-]?\d{4,10}\b", re.I),
    "intellectual_property": re.compile(
        r"\b(?:patent|proprietary algorithm|trade secret)\s+\S+", re.I
    ),
    "investigation_details": re.compile(
        r"\b(?:case|investigation)\s+(?:id|number)\s*+(?:[:#]\s*+)?\w{4,12}\b",
        re.I,
    ),
}

_PRIVACY_INDICATORS = ("private", "confidential", "sensitive", "do not share")
_INCIDENT_INDICATORS = ("incident", "breach", "outage", "unauthorized")
_CATEGORY_KEYWORDS = {
    "employment_info": ("employee", "hr", "hired"),
    "salary_info": ("salary", "compensation", "pay"),
    "customer_data_refs": ("customer", "account", "subscriber"),
    "investigation_details": ("investigation", "forensics", "legal"),
}


def _context_confidence(category: str, match_text: str, context: str) -> float:
    """D7: base 0.5; +0.2 per matched keyword-category; +0.15 privacy;
    +0.1 incident; ±0.1 by match length; clamp [0,1]
    (reference llm_detector.py:143-173)."""
    conf = 0.5
    ctx = context.lower()
    for kw in _CATEGORY_KEYWORDS.get(category, ()):
        if kw in ctx:
            conf += 0.2
            break
    if any(ind in ctx for ind in _PRIVACY_INDICATORS):
        conf += 0.15
    if any(ind in ctx for ind in _INCIDENT_INDICATORS):
        conf += 0.1
    if len(match_text) >= 12:
        conf += 0.1
    elif len(match_text) < 6:
        conf -= 0.1
    return max(0.0, min(1.0, conf))


# exact gates per contextual family (case-insensitive patterns -> check
# the lowered text; computed once per call)
_CONTEXTUAL_GATES = {
    "employment_info": ("employee", "staff"),
    "salary_info": ("$",),
    "internal_platforms": ("grafana", "kibana", "jenkins", "vault", "consul"),
    "internal_metrics": ("arr", "mrr", "churn"),
    "customer_data_refs": ("cust",),
    "intellectual_property": ("patent", "proprietary", "trade secret"),
    "investigation_details": ("case", "investigation"),
}


def detect_contextual(text: str, existing: list[Span],
                      skip: frozenset = NO_SKIP) -> list[Span]:
    """D6: contextual finder — dedup vs existing spans, admit conf >= 0.6
    (reference llm_detector.py:97-141)."""
    covered = covered_positions(existing)
    spans: list[Span] = []
    lower = text.lower()
    for category, pat in CONTEXTUAL_PATTERNS.items():
        if category in skip or not any(
                g in lower for g in _CONTEXTUAL_GATES[category]):
            continue
        for m in pat.finditer(text):
            if any(p in covered for p in (m.start(), m.end() - 1)):
                continue
            ctx = text[max(0, m.start() - 100): m.end() + 100]  # D8 window
            conf = _context_confidence(category, m.group(), ctx)
            if conf < 0.6:
                continue
            spans.append(
                Span(m.start(), m.end(), category, conf, m.group(),
                     source=SRC_FINDER, method="contextual")
            )
    return resolve_overlaps(spans)


def context_window(text: str, start: int, end: int, radius: int = 50) -> str:
    """D8: ±radius context snippet (reference pii_detector.py:107-119)."""
    return text[max(0, start - radius): min(len(text), end + radius)]
