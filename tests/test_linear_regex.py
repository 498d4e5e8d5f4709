"""The scrub's detect (D1/D3) and validate (D9-D11) patterns scan in linear
time, and the linear rewrites return exactly what the plain patterns do.

``make regex-growth`` runs this file alone.
"""

from __future__ import annotations

import glob
import os
import re
import string
import time
import types

import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from incident_pii_redactor_spark.core import detectors, validate
from incident_pii_redactor_spark.core.pipeline import scrub_document

# The plain forms, kept only here, as the reference each rewrite must
# equal. Each is super-linear on some run of characters: spaced_email is
# cubic, the others quadratic.
REFERENCE = {
    "email": (
        detectors.EMAIL_RE,
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    "kubernetes_pod": (
        detectors.CUSTOM_PATTERNS["kubernetes_pod"],
        r"\b[a-z0-9][a-z0-9-]*-[a-f0-9]{8,10}-[a-z0-9]{5}\b"),
    "docker_image": (
        detectors.CUSTOM_PATTERNS["docker_image"],
        r"\b[a-z0-9.-]+/[a-z0-9._/-]+:[a-zA-Z0-9][a-zA-Z0-9._-]{0,48}\b"),
    "spaced_email": (
        validate.ADVERSARIAL_PATTERNS["spaced_email"],
        r"\b[\w.+-]+(?:\s*\.\s*[\w+-]+)*\s+@\s+[\w-]+(?:\s*\.\s*[\w-]+)+"),
    "base64_blob": (
        validate.ADVERSARIAL_PATTERNS["base64_blob"],
        r"\b[A-Za-z0-9+/]{40,}={1,2}(?!\w)"),
    # quadratic in a run of spaces after the keyword
    "employment_info": (
        detectors.CONTEXTUAL_PATTERNS["employment_info"],
        r"\b(?:employee|staff)\s+(?:id|number)\s*[:#]?\s*\w{4,12}\b"),
    "investigation_details": (
        detectors.CONTEXTUAL_PATTERNS["investigation_details"],
        r"\b(?:case|investigation)\s+(?:id|number)\s*[:#]?\s*\w{4,12}\b"),
}

HAND_CASES = (
    "a.b. x @ c.d",             # an atomic local part would start at 5
    "j . doe @ mail . com ok",
    "a@b.com_x@y.com",          # a match starts where the previous ended
    "web-7d9f8b6c5d-x2k4p",
    "Employee ID  :  ab12cd Case number\t\tx case id #  1234567",
    "-ab/c:d-/x:y",
    "a_-b/c:t registry.io/team/app:v1.2",
    " . b @ c.d x. .y @ e.f",
    "QUJD" * 10 + "== " + "+" + "QUJD" * 10 + "=x",
)


def _matches(pat, text: str) -> list:
    return [(m.span(), m.groups()) for m in pat.finditer(text)]


def _assert_same(name: str, texts) -> None:
    new = REFERENCE[name][0]
    ref = re.compile(REFERENCE[name][1], getattr(new, "flags", 0))
    for text in texts:
        assert _matches(new, text) == _matches(ref, text), (name, text)


# each pattern's metacharacters, whitespace \s knows beyond ' ', \w
# characters outside ASCII, and pieces that make matches likely
_CHARS = list(".-@/:=+_#% \t\v\x1c\n\x00abcdefABCDEF0123456789é٣１")
_PIECES = ["a.b", " . ", " @ ", "x@y.com", "mail . com", "j . doe", "web-",
           "7d9f8b6c5d", "-x2k4p", "reg.io/", "lib/app", ":v1.2",
           "QUJD" * 10, "==", "a_b", "1.1.", "a1-", "employee id",
           "Case Number", "staff  ", ": ", "#"]
_TEXT = st.lists(st.one_of(st.sampled_from(_CHARS), st.sampled_from(_PIECES)),
                 max_size=60).map(lambda parts: "".join(parts)[:200])


@pytest.mark.parametrize("name", sorted(REFERENCE))
@settings(max_examples=300, deadline=None)
@given(text=_TEXT)
def test_rewrite_equals_reference_on_generated_text(name, text):
    _assert_same(name, [text])


@pytest.mark.parametrize("name", sorted(REFERENCE))
def test_rewrite_equals_reference_on_hand_cases(name):
    _assert_same(name, HAND_CASES)


def _fixture_texts() -> list[str]:
    here = os.path.join(os.path.dirname(__file__), "fixtures")
    texts = []
    for path in sorted(glob.glob(os.path.join(here, "*.parquet"))):
        table = pq.read_table(path)
        for name, typ in zip(table.schema.names, table.schema.types):
            if str(typ) == "string":
                texts += [t for t in table.column(name).to_pylist() if t]
    return texts


@pytest.mark.parametrize("name", sorted(REFERENCE))
def test_rewrite_equals_reference_on_fixtures_and_pages(name, pages_pdf):
    texts = _fixture_texts() + pages_pdf["text"].dropna().tolist()
    # validate's patterns see the scrubbed text with our placeholders masked
    _assert_same(name, texts + [validate._mask_exclusions(t) for t in texts])


# --- growth ---------------------------------------------------------------

def _scanners() -> dict:
    """Every pattern object core/detectors.py and core/validate.py define,
    as module attributes or as values of their pattern dicts."""
    found, seen = {}, set()
    for mod in (detectors, validate):
        short = mod.__name__.rpartition(".")[2]
        for attr, value in vars(mod).items():
            items = (value.items() if isinstance(value, dict)
                     else [(None, value)])
            for key, pat in items:
                if (callable(getattr(pat, "finditer", None))
                        and not isinstance(pat, (type, types.ModuleType))
                        and id(pat) not in seen):
                    seen.add(id(pat))
                    found[f"{short}.{attr}" + (f"[{key}]" if key else "")] = pat
    return found


_SCANNERS = _scanners()


def _dotted(n: int) -> str:
    # the benchmark's hostile tokens (perfbench/corpora.py)
    return ".".join(string.ascii_lowercase[i % 26] for i in range(n))[:n]


def _dashed(n: int) -> str:
    parts, length, i = [], 0, 1
    while length < n:
        parts.append(str(i))
        length += len(parts[-1]) + 1
        i += 1
    return "-".join(parts)[:n]


def _repeat(unit: str):
    return lambda n: (unit * (n // len(unit) + 1))[:n]


UNITS = {u: _repeat(u) for u in ("a.", "a1-", "a-b-", "1.1.", "a/", "a_",
                                  "a . ")}
UNITS["dotted line"] = lambda n: f"mirror {_dotted(n)} then ask the desk @ noon"
UNITS["dashed line"] = lambda n: f"build {_dashed(n)} done"
UNITS["spaces after keywords"] = lambda n: "".join(
    kw + " " * (n // 2) for kw in ("employee id", "case id"))
# each pattern's gate character, alone or after a space; " @ b.c" makes the
# spaced-email scan walk the whole token
GATES = ("", "@", " @", "=", " =", ":", " :", "#", "-", " @ b.c")

N = 1024
RATIO = 8       # linear grows ~4x from N to 4N chars, quadratic ~16x
FLOOR_S = 2e-3  # below this at 4N, timer noise dominates the ratio
CAP_S = 0.25    # a scan this slow at N is not linear on a 1 KB input


def _best(fn, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
        if best > CAP_S:
            break  # no need to repeat a run this slow
    return best


def _growth(run, make, n: int = N) -> tuple[float, float]:
    """Best-of-3 seconds of ``run(make(n))`` and ``run(make(4 * n))``; the
    second is inf when the first already passed CAP_S."""
    small, large = make(n), make(4 * n)
    t_small = _best(lambda: run(small))
    if t_small >= CAP_S:
        return t_small, float("inf")
    return t_small, _best(lambda: run(large))


def _linear(t_small: float, t_large: float) -> bool:
    return t_small < CAP_S and (t_large < FLOOR_S or t_large < RATIO * t_small)


@pytest.mark.parametrize("name", sorted(_SCANNERS))
def test_pattern_scans_in_linear_time(name):
    pat = _SCANNERS[name]
    runs = {
        f"{unit!r} + {gate!r}": _growth(lambda s: list(pat.finditer(s)),
                                        lambda n: make(n) + gate)
        for unit, make in UNITS.items() for gate in GATES
    }
    label, (t_small, t_large) = max(runs.items(),
                                    key=lambda kv: kv[1][1] / kv[1][0])
    # `make regex-growth` shows these lines (pytest -s)
    print(f"\n{name}: worst {N}->{4 * N} chars {t_large / t_small:.1f}x on "
          f"{label} ({t_small * 1e3:.2f} -> {t_large * 1e3:.2f} ms)")
    slow = [k for k, (a, b) in runs.items() if not _linear(a, b)]
    assert not slow, f"{name} grows faster than linear on {slow}"


def test_scrub_document_linear_in_hostile_token():
    """A page with the benchmark's hostile line: a dotted token of 512
    and then 2,048 chars, and an '@' that gates the spaced-email scan."""
    page = ("The desk is open on weekdays and answers by phone. " * 40
            + "\nmirror {} then ask the desk @ noon\n"
            + "Contact alice.jones@acme.com for access.")
    t_small, t_large = _growth(scrub_document,
                               lambda n: page.format(_dotted(n)), n=512)
    print(f"\nscrub_document: 512->2048-char token {t_large / t_small:.1f}x "
          f"({t_small * 1e3:.2f} -> {t_large * 1e3:.2f} ms)")
    assert _linear(t_small, t_large), (t_small, t_large)
