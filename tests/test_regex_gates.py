"""The scrub operator's per-batch RE2 gates (``operators/scrub.py``) are
exact: each gate matches wherever its Python pattern does on ASCII text,
the gate tables name exactly the passes ``core/`` lets a caller skip, and
the gated batch path equals per-row ``scrub_document`` on every column.

No Spark: ``_process_batch`` is the operator's whole per-batch body.
``make regex-growth`` runs this file with ``tests/test_linear_regex.py``.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from incident_pii_redactor_spark.core import detectors as d
from incident_pii_redactor_spark.core import validate as v
from incident_pii_redactor_spark.core.pipeline import (
    redact_document,
    scrub_document,
    validate_document,
)
from incident_pii_redactor_spark.operators import scrub as op
from incident_pii_redactor_spark.quality.scorer import (
    RULES,
    WEB_DEFAULT,
    quality_signals,
)
from test_linear_regex import HAND_CASES

# the Python pass each detect gate stands for, run on the raw text
DETECT = {
    "email": d.EMAIL_RE, "ssn": d.SSN_RE, "credit_card": d.CARD_RE,
    "phone": d.PHONE_RE, "ip_address": d.IP_RE, "api_key": d.API_KEY_RE,
    "hostname": d.HOSTNAME_RE, "person_name": d.PERSON_RE,
    "iban": d.IBAN_RE, "address": d.ADDRESS_RE, "nhs": d.NHS_RE,
    "date_of_birth": d._DOB_CONTEXT_RE, "location": d.LOCATION_RE,
    "secret_value": d._SECRET_ASSIGN_RE, "internal_keyword": d._KEYWORD_RE,
    **d.CUSTOM_PATTERNS, **d.CONTEXTUAL_PATTERNS,
}
# ... and each validate gate, run on the exclusion-masked scrubbed text
# (the exclusion pattern itself runs on the unmasked text)
VALIDATE = {
    **{f"residual_{k}": DETECT[k] for k in ("email", "ssn", "credit_card",
                                            "phone", "ip_address", "nhs",
                                            "iban")},
    **{f"adversarial_{k}": p for k, p in v.ADVERSARIAL_PATTERNS.items()},
}


def _found(pat, text: str) -> bool:
    return next(iter(pat.finditer(text)), None) is not None


def _gate_hits(gates: dict, texts: list[str]) -> dict[str, list[bool]]:
    arr = pa.array(texts, pa.large_string())
    return {name: pc.match_substring_regex(arr, g).to_pylist()
            for name, g in gates.items()}


def _assert_supersets(texts: list[str]) -> None:
    """A Python match on the raw text implies the detect gate's match, and
    one on the masked text implies the validate gate's on the unmasked."""
    texts = [t for t in texts if t.isascii()]
    masked = [v._mask_exclusions(t) for t in texts]
    detect = _gate_hits(op.DETECT_GATES, texts)
    validate = _gate_hits(op.VALIDATE_GATES, texts)
    for k, t in enumerate(texts):
        for name, pat in DETECT.items():
            assert not _found(pat, t) or detect[name][k], (name, t)
        for name, pat in VALIDATE.items():
            assert not _found(pat, masked[k]) or validate[name][k], (name, t)
        assert (not _found(v._EXCLUSION_RE, t)
                or validate["exclusion"][k]), ("exclusion", t)


# pattern pieces: separators, Python-only whitespace (\v, \x1c-\x1f),
# hex letters, and the literals the patterns and placeholders start with
_CHARS = list("0123456789-.()/:=+_#%@$*, \t\v\x0c\x1c\x1f\nabcdefABCDEFXx")
_PIECES = [
    "123", "45", "6789", "555", "4111 1111 1111 1111", "10.0.0.", "(555) ",
    "Street", "St", "Ave", " Main ", "New York", "Paris", "John", "Smith",
    "secret", "Token", "password", "employee", "Staff", " id", " number",
    "case", "Investigation", "cust", "CUST_", "patent", "grafana.", "arr ",
    "MRR", "churn", " of ", "born", "DOB", "d.o.b", "http://", "https://",
    ".internal", ".corp", ".local", ".lan", "sk_", "ghp", "xoxb", "AKIA",
    "abcdef12", "abcdef0123", "-abcde", "web-", "a--", "reg.io/",
    "lib/app", ":v1", "#ops", "OPS-", "arn:aws:", "iam:", "123456789012",
    "[REDACTED", "[REDACTED_EMAIL]", "]", "Person_", "user_", "@company.com",
    "server-", ".internal", "+1-555-", "CARD-", "SSN-", "***", "REF-",
    "API_", "#channel-", "ENT_", " Elm Street", "City_", "192.168.1.",
    "SEC-", "JIRA-", "@", " @ ", "x@y.com", " . ", "QUJD" * 10, "==",
    "xxx-xx-", "0123456789abcdef" * 2, "GB82WEST12345698765432", "DE44",
    "$", "$ 120", ",000", ".00", "Kelvin", "k", "s",
]
_TEXT = st.lists(st.one_of(st.sampled_from(_CHARS), st.sampled_from(_PIECES)),
                 max_size=50).map("".join)


@settings(max_examples=400, deadline=None)
@given(text=_TEXT)
def test_gate_matches_wherever_its_pattern_does(text):
    _assert_supersets([text])


# a kubernetes_pod gate '[a-z0-9]-[a-f0-9]{8,10}-...' misses this match:
# the name part may end in '-'
POD_TRAP = "a--abcdef12-abcde"

# one match each: a gate that spells \s as RE2's class, shortens a middle
# {m,n} or narrows a class or a placeholder prefix misses one of these
EDGE_CASES = (
    POD_TRAP,
    "John\vSmith", "Mary\x1cJones", "in New York",
    "(555)\v867-5309", "555.867.5309", "+1 555-867-5309",
    "12\x1cMain\vStreet", "9 Elm Rd",
    "born\x1f1990-01-02", "dob: 3/4/1985",
    "secret\v=\vhunter2", "token: abc", "root",
    "employee\vid\x1c:\x1fABCD", "case\x1cnumber\v#1234",
    "$\v120,000", "$99,000.00",
    "ARR\vof\x1c$5m", "mrr $5k", "patent\vX", "trade secret Y",
    "jane\v.\x1cdoe\v@\x1fexample\v.\x1corg", "a. @ b.c",
    "555\v867\x1c5309",
    "[REDACTED]", "[REDACTED_EMAIL]", "Person_abcdef",
    "user_abcd@company.com", "server-abc.internal", "+1-555-abc-abcd",
    "CARD-****-****-****-abcd", "SSN-***-**-abcd", "CUST_abcdef12",
    "API_abcdef123456", "REF-abcdef", "#channel-abcd", "ENT_abcdef",
    "123 Elm Street", "City_abcd", "192.168.1.25", "SEC-12",
    "10.200.30.4", "x.@y.com", "4111-1111-1111-1111", "123-45-6789",
    "943 476 5919", "GB82WEST12345698765432",
    "db-01.corp", "sk_abcdefabcdefabcdef", "http://a.local/x", "grafana.io",
    "cust_1234", "OPS-12", "#ops-alerts", "arn:aws:s3::123456789012:b",
    "reg.io/lib/app:v1", "QUJD" * 10 + "==", "0123456789abcdef" * 2,
    "xxx-xx-1234",
)


def test_gates_on_hand_cases():
    assert _found(d.CUSTOM_PATTERNS["kubernetes_pod"], POD_TRAP)
    _assert_supersets(list(HAND_CASES) + list(EDGE_CASES))


def test_every_gate_has_a_hand_case_its_pattern_matches():
    cases = list(HAND_CASES) + list(EDGE_CASES)
    masked = [v._mask_exclusions(t) for t in cases]
    missing = [n for n, p in DETECT.items()
               if not any(_found(p, t) for t in cases)]
    missing += [n for n, p in VALIDATE.items()
                if not any(_found(p, t) for t in masked)]
    assert not missing


def test_gates_on_pages(pages_pdf):
    texts = pages_pdf["text"].dropna().tolist()
    scrubbed = [scrub_document(t).text_scrubbed for t in texts[:300]]
    _assert_supersets(texts + list(INFRA_PAGES.values()) + scrubbed)


def test_non_ascii_text_skips_nothing():
    accented, plain = op._skip_sets(["café", "plain"], op.DETECT_GATES)
    assert accented == frozenset() and plain == frozenset(op.DETECT_GATES)


class _Consulted(frozenset):
    """An empty skip set that records every name core asks it about."""

    def __new__(cls):
        self = super().__new__(cls)
        self.names = set()
        return self

    def __contains__(self, name):
        self.names.add(name)
        return False


# passes every literal gate in core/, so each skip name is asked about
_EVERY_PASS = (
    "John Smith of New York mailed a@b.com and x . y @ z . org, born "
    "1990-01-02, ssn 123-45-6789, dial 555-867-5309 or 555  867  5309, "
    "xxx-xx-1234, QUJD" + "QUJD" * 10 + "== sk_abcdefabcdefabcdef, "
    "db.internal http://a.internal #ops OPS-1 arn:aws:s3::123456789012:x "
    "secret: hunter2 employee id 1234 staff case id 9876 $120,000 "
    "grafana.io arr of 5 cust_12345 patent X [REDACTED_EMAIL]"
)


def test_gate_tables_name_exactly_the_passes_core_consults():
    detect, validate = _Consulted(), _Consulted()
    validate_document(_EVERY_PASS,
                      redact_document(_EVERY_PASS, skip=detect), validate)
    assert detect.names == set(op.DETECT_GATES) == set(DETECT)
    assert validate.names == set(op.VALIDATE_GATES) == (
        set(VALIDATE) | {"exclusion"})


# --- the batch path ---------------------------------------------------------

_PROSE = ("The platform team reviewed the incident report with the on-call "
          "engineers and agreed on the follow-up work for the next sprint. ")

# pages neither benchmark corpus has, one per detector or validate scan
INFRA_PAGES = {
    "kubernetes_pod": "The pod web-7d9f8b6c5d-x2k4p restarted twice.",
    "docker_image": "We pinned the image registry.io/team/app:v1.2 today.",
    "jira_ticket": "The fix is tracked in OPS-1234 and ships this week.",
    "aws_arn": "The role arn:aws:iam::123456789012:role/deploy rotated.",
    "slack_channel": "Please follow up in #ops-alerts after the review.",
    "internal_url": "The runbook is at https://a.internal/runbooks/db now.",
    "employment_info": "The HR file lists employee id: EMP48213 for him.",
    "investigation_details": ("Legal opened investigation number: INV20931 "
                              "after the forensics review."),
    "base64_blob": ("The dump was QUJDREVGR0hJSktMTU5PUFFSU1RVVldYWVo0NTY3== "
                    "in the log."),
    "spaced_email": "Reach the reviewer at jane . doe @ example . org today.",
    "spaced_phone": "The desk number is 555  867  5309 in office hours.",
    "partial_ssn": "Their record shows xxx-xx-1234 in the old export.",
    "hex_run": "The digest 0123456789abcdef0123456789abcdef01 was reverted.",
}
INFRA_PAGES = {k: _PROSE * 3 + line + " " + _PROSE * 2
               for k, line in INFRA_PAGES.items()}


@pytest.mark.parametrize("name", sorted(INFRA_PAGES))
def test_infra_page_fires(name):
    r = scrub_document(INFRA_PAGES[name])
    assert (name in r.redactions_by_type
            or f"adversarial_{name}" in {i["issue_type"] for i in r.issues})


def _oracle(texts: list[str], scrub_dropped: bool) -> pd.DataFrame:
    """``_process_batch``'s columns, computed with per-row scrub_document."""
    sig = quality_signals(pd.Series(texts), WEB_DEFAULT)
    rows = []
    for i, text in enumerate(texts):
        row = {c: sig[c].iloc[i] for c in op._SIGNAL_COLS}
        row["rule_flags"] = {r: bool(sig[f"rule_{r}"].iloc[i]) for r in RULES}
        r = (scrub_document(text) if row["keep"] or scrub_dropped
             else None)
        row.update(
            text_scrubbed=r and r.text_scrubbed,
            n_redactions=r.n_redactions if r else 0,
            redactions_by_type=r and dict(sorted(r.redactions_by_type.items())),
            residual_pii=r.metrics.get("residual_pii_count", 0) if r else 0,
            issue_count=len(r.issues) if r else 0,
            quality_score=(r.metrics.get("overall_quality_score", 1.0)
                           if r else 1.0),
            text_reduction_pct=(
                (len(text) - len(r.text_scrubbed)) / len(text) * 100.0
                if r and text else 0.0),
        )
        rows.append(row)
    return pd.DataFrame(rows)


def _batch(texts: list[str], scrub_dropped: bool, **kw) -> pd.DataFrame:
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    return op._process_batch(pdf, "text", ("doc_id",), WEB_DEFAULT,
                             scrub_dropped, **kw)


def _rows(frame: pd.DataFrame) -> list[tuple]:
    cols = [c for c in frame.columns if c != "doc_id"]
    return [tuple(None if v is pd.NA else v for v in row)
            for row in frame[cols].astype(object).itertuples(index=False)]


@pytest.mark.parametrize("scrub_dropped", [False, True])
def test_batch_equals_per_row_scrub_document(pages_pdf, scrub_dropped):
    texts = (list(INFRA_PAGES.values())
             + pages_pdf["text"].fillna("").tolist())
    got, want = _batch(texts, scrub_dropped), _oracle(texts, scrub_dropped)
    assert list(got.columns[1:]) == list(want.columns)
    for g, w in zip(_rows(got), _rows(want)):
        assert g == w


def test_mask_toxic_error_quarantines_only_its_row(monkeypatch):
    texts = list(INFRA_PAGES.values())
    texts.insert(3, _PROSE * 4 + "POISON")
    clean = _batch(texts, False, mask_toxicity=True)
    mask = op.mask_toxic

    def mask_or_raise(text):
        if "POISON" in text:
            raise RuntimeError("poison row")
        return mask(text)

    monkeypatch.setattr(op, "mask_toxic", mask_or_raise)
    got = _batch(texts, False, mask_toxicity=True)
    assert clean["keep"][3] and clean["text_scrubbed"][3] is not pd.NA
    assert got["drop_reason"][3] == "error:RuntimeError"
    assert not got["keep"][3] and got["text_scrubbed"][3] is pd.NA
    assert got["n_redactions"][3] == 0 and got["redactions_by_type"][3] is None
    others = [i for i in range(len(texts)) if i != 3]
    assert ([_rows(got)[i] for i in others]
            == [_rows(clean)[i] for i in others])
