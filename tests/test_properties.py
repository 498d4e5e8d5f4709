"""Property-based tests (hypothesis) for the span algebra and scoring —
invariants no example-based test pins down (SURVEY.md §5 notes the
reference has none; these guard the byte-identity contract's foundations)."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from incident_pii_redactor_spark.core.detectors import detect_pii, luhn_valid
from incident_pii_redactor_spark.core.pipeline import scrub_document
from incident_pii_redactor_spark.core.spans import (
    REDACT,
    Span,
    resolve_overlaps,
    splice,
)

spans_strategy = st.lists(
    st.tuples(
        st.integers(0, 200), st.integers(1, 30),
        st.sampled_from(["email", "phone", "ssn", "ip_address"]),
        st.floats(0.1, 1.0),
    ).map(lambda t: Span(t[0], t[0] + t[1], t[2], round(t[3], 2), "x" * t[1])),
    max_size=20,
)


@given(spans_strategy)
def test_resolve_overlaps_invariants(spans):
    out = resolve_overlaps(spans)
    # non-overlapping and start-sorted
    for a, b in zip(out, out[1:]):
        assert a.end <= b.start
    # subset of input (identity-preserving)
    ids = {id(s) for s in spans}
    assert all(id(s) in ids for s in out)
    # deterministic under input permutation
    assert resolve_overlaps(list(reversed(spans))) == out


@given(st.text(alphabet="ab @.\n0123456789-", max_size=120))
def test_splice_length_arithmetic(text):
    spans = detect_pii(text)
    resolved = resolve_overlaps(spans)
    for s in resolved:
        s.action = REDACT
        s.replacement = "[X]"
    out, lineage = splice(text, resolved)
    applied = [r for r in lineage if r["action"] != "SKIPPED_NO_MATCH"]
    expected = len(text) + sum(
        len("[X]") - (r["end"] - r["start"]) for r in applied
    )
    assert len(out) == expected


@given(st.text(max_size=300))
def test_scrub_never_crashes_and_is_deterministic(text):
    a = scrub_document(text)
    b = scrub_document(text)
    assert a.text_scrubbed == b.text_scrubbed
    assert a.n_redactions == b.n_redactions
    # line structure preserved (A11 invariant: splice never adds newlines
    # unless a replacement contains one — ours never do)
    assert a.text_scrubbed.count("\n") == text.count("\n")


@given(st.integers(0, 10**14))
def test_luhn_check_digit_construction(n):
    body = str(n)
    digits = [int(c) for c in body]
    total = 0
    for i, d in enumerate(reversed(digits)):
        if i % 2 == 0:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    full = body + str((10 - total % 10) % 10)
    assert luhn_valid(full)
    # and exactly one check digit validates
    assert sum(luhn_valid(body + str(k)) for k in range(10)) == 1


@given(st.lists(st.text(alphabet="abcdefgh @.#\n", min_size=0, max_size=80),
                min_size=1, max_size=30))
@settings(max_examples=30, deadline=None)
def test_quality_signals_batch_order_invariance(texts):
    import pandas as pd

    from incident_pii_redactor_spark.quality.scorer import quality_signals

    fwd = quality_signals(pd.Series(texts))
    rev = quality_signals(pd.Series(list(reversed(texts))))
    for i in range(len(texts)):
        j = len(texts) - 1 - i
        assert bool(fwd["keep"][i]) == bool(rev["keep"][j])
        assert fwd["drop_reason"][i] == rev["drop_reason"][j]
        assert abs(fwd["ppl"][i] - rev["ppl"][j]) < 1e-9
        # bit for bit: reversing moves the last doc of the batch
        assert fwd["lang_conf"][i] == rev["lang_conf"][j]


def test_lang_conf_of_a_page_is_independent_of_its_batch():
    """Page 28 of the 2,000 conftest pages scored alone, where it is the
    last doc of its batch, and scored before page 29 got confidences
    that differed in the 8th digit when the last doc's float32 trigram
    sum was split differently from every other doc's."""
    import pandas as pd

    from incident_pii_redactor_spark.quality.scorer import quality_signals
    from incident_pii_redactor_spark.sources.pages import synth_pages

    texts = synth_pages(2000)["text"]
    alone = quality_signals(pd.Series([texts[28]]))
    paired = quality_signals(pd.Series([texts[28], texts[29]]))
    assert alone["lang_conf"][0] == paired["lang_conf"][0]
    assert alone["lang_pred"][0] == paired["lang_pred"][0]


@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=200))
@settings(max_examples=50, deadline=None)
def test_langid_total_on_arbitrary_unicode(text):
    from incident_pii_redactor_spark.quality.langid import predict_language

    langs, conf = predict_language([text])
    assert langs[0] in ("en", "de", "es", "fr", "zh", "und")
    assert 0.0 <= conf[0] <= 1.0


@given(st.integers(min_value=0, max_value=999_999_999))
@settings(max_examples=50, deadline=None)
def test_nhs_check_digit_uniqueness(body9):
    """For any 9-digit body, at most one check digit validates (mod-11
    admits zero valid digits when the remainder maps to 10), and a valid
    full number is redacted by the scrub."""
    from incident_pii_redactor_spark.core import scrub_document
    from incident_pii_redactor_spark.core.detectors import nhs_valid

    body = f"{body9:09d}"
    valid = [k for k in range(10) if nhs_valid(body + str(k))]
    assert len(valid) <= 1
    for k in valid:
        out = scrub_document(f"id {body}{k} end").text_scrubbed
        assert "[REDACTED_NHS]" in out


@given(st.integers(min_value=0, max_value=10**18 - 1))
@settings(max_examples=50, deadline=None)
def test_iban_mod97_construction(bban_num):
    """Constructed IBANs (check digits computed per ISO 13616) always
    validate and get redacted; perturbing one digit never validates."""
    from incident_pii_redactor_spark.core import scrub_document
    from incident_pii_redactor_spark.core.detectors import iban_valid

    bban = f"{bban_num:018d}"  # DE BBAN: 18 digits
    # check digits: 98 - (BBAN + 'DE00' as digits) mod 97
    as_digits = int(bban + "131400")  # D=13, E=14, 00
    check = 98 - (as_digits % 97)
    iban = f"DE{check:02d}{bban}"
    assert iban_valid(iban)
    out = scrub_document(f"pay to {iban} now").text_scrubbed
    assert "[REDACTED_IBAN]" in out and iban not in out
    # single-digit perturbation breaks mod-97
    mutated = iban[:6] + str((int(iban[6]) + 1) % 10) + iban[7:]
    assert not iban_valid(mutated)


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_clean_unicode_idempotent(t):
    """clean(clean(x)) == clean(x): NFC is idempotent and every
    replacement/strip step is too — re-cleaning merged corpora is safe."""
    from incident_pii_redactor_spark.quality.unicode_clean import (
        clean_unicode)

    once = clean_unicode(t)
    assert clean_unicode(once) == once


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
               max_size=120),
       st.integers(1, 6))
@settings(max_examples=100, deadline=None)
def test_bpe_segment_reconstructs_word(word, n_merges):
    """Concatenating a word's BPE segments always reconstructs
    word + END — segmentation never loses or duplicates bytes under any
    merge list learned from any corpus."""
    from incident_pii_redactor_spark.functions.bpe import (
        END, _segment, train_bpe_from_counts)

    word = word.replace(" ", "")  # words are whitespace-free by construction
    merges = [(a, b) for a, b, _ in
              train_bpe_from_counts([(word, 3), ("shared text", 2)],
                                    n_merges)]
    segs = _segment(word, merges)
    assert "".join(segs) == word + END


# --- round 5: crawl-ingestion round-trip invariants -----------------------

_url_strategy = st.from_regex(
    r"https://[a-z]{1,8}\.example\.com/[A-Za-z0-9_.~-]{0,20}",
    fullmatch=True)


@given(
    st.lists(
        st.tuples(_url_strategy,
                  st.binary(max_size=400),
                  st.integers(0, 10**9)),
        min_size=1, max_size=8, unique_by=lambda t: t[0]),
    st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_warc_roundtrip_arbitrary_binary_bodies(rows, gz):
    """WARC write->parse is byte-identity for ARBITRARY html bodies
    (incl. bytes that look like record separators, gzip magic, or
    CRLF CRLF) — the north rule's per-row invariant, adversarially."""
    import pandas as pd

    from incident_pii_redactor_spark.sources.warc import (
        records_to_page_rows,
        write_warc,
    )

    base = pd.Timestamp("2025-01-01", tz="UTC")
    pages = pd.DataFrame([
        {"url": u, "warc_ts": base + pd.Timedelta(seconds=s),
         "html": b, "text": "", "lang": "en"}
        for u, b, s in rows
    ])
    import io as _io
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "x.warc.gz" if gz else "x.warc")
        write_warc(p, pages, gzip_per_record=gz)
        got = list(records_to_page_rows(open(p, "rb").read()))
    assert len(got) == len(pages)
    for g, e in zip(got, pages.itertuples(index=False)):
        assert g["url"] == e.url
        assert g["html"] == bytes(e.html)


@given(st.lists(st.tuples(
    _url_strategy,
    st.text(alphabet="0123456789ABCDEF", min_size=8, max_size=16),
    st.integers(0, 10**12), st.integers(1, 10**6)),
    min_size=1, max_size=8))
@settings(max_examples=40, deadline=None)
def test_cdxj_roundtrip_preserves_fields(rows):
    import tempfile, os

    import pandas as pd

    from incident_pii_redactor_spark.sources.cdx import write_cdxj

    base = pd.Timestamp("2025-01-01", tz="UTC")
    recs = [
        {"url": u, "warc_ts": base + pd.Timedelta(seconds=i),
         "digest": dg, "mime": "text/html", "status": 200,
         "warc_file": "w.warc.gz", "warc_offset": off, "warc_length": ln}
        for i, (u, dg, off, ln) in enumerate(rows)
    ]
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "i.cdxj")
        write_cdxj(p, recs)
        lines = open(p).read().splitlines()
    import json as _json
    assert len(lines) == len(recs)
    for line, r in zip(lines, recs):
        payload = _json.loads(line.split(" ", 2)[2])
        assert payload["url"] == r["url"]
        assert payload["digest"] == r["digest"]
        assert int(payload["offset"]) == r["warc_offset"]


@given(st.text(alphabet=st.sampled_from("ab*/$x"), max_size=12),
       st.text(alphabet=st.sampled_from("ab/x"), max_size=12))
@settings(max_examples=100, deadline=None)
def test_robots_pattern_match_equals_naive(pattern, path):
    """The compiled robots pattern matcher agrees with a naive
    backtracking reference on arbitrary */$ patterns."""
    from incident_pii_redactor_spark.sources.robots import _pattern_re

    def naive(pat: str, s: str) -> bool:
        anchored = pat.endswith("$")
        if anchored:
            pat = pat[:-1]

        def match(pi: int, si: int) -> bool:
            if pi == len(pat):
                return si == len(s) if anchored else True
            if pat[pi] == "*":
                return any(match(pi + 1, j) for j in range(si, len(s) + 1))
            return (si < len(s) and s[si] == pat[pi]
                    and match(pi + 1, si + 1))

        return match(0, 0)

    assert bool(_pattern_re(pattern).match(path)) == naive(pattern, path)
