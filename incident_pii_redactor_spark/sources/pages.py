"""Deterministic synthesis of the `pages` input table (FIXTURES.md F1).

Authoritative input shape (BASELINE.json input_hint):
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Content classes in known proportion, tagged via the url path so tests can
assert per-class behavior; hosts are Zipf-skewed over ~50 synthetic
domains so a few hosts dominate (host skew).
Everything is seeded per-row (``random.Random(seed<<32 | row)``) so any
subset of rows can be regenerated independently and in parallel — no
sequential RNG state, no wall clock.
"""

from __future__ import annotations

import datetime as dt
import random

import numpy as np
import pandas as pd

from incident_pii_redactor_spark.quality.langid import LANG_SEEDS

_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

_WORDS = {lang: seed.split() for lang, seed in LANG_SEEDS.items()}

# (class tag, relative weight)
CLASSES = (
    ("clean", 36),
    ("pii", 15),
    ("short", 8),
    ("symbol", 6),
    ("lowstop", 6),
    ("dupline", 6),
    ("nonen", 10),
    ("adversarial", 5),
    ("premarked", 4),
    ("toxic", 4),
)
_CLASS_TAGS = [c for c, w in CLASSES for _ in range(w)]

HOSTS = [f"site{i:02d}.example{i % 7}.com" for i in range(50)]
# Zipf-skewed host choice: host rank r with weight 1/(r+1)
_HOST_W = np.array([1.0 / (r + 1) for r in range(len(HOSTS))])
_HOST_CDF = np.cumsum(_HOST_W / _HOST_W.sum())

_FIRST = ["john", "mary", "james", "linda", "robert", "susan", "david", "karen"]
_LAST = ["Smith", "Jones", "Brown", "Garcia", "Miller", "Davis", "Wilson", "Moore"]

# Luhn-valid test PANs (standard public test card prefixes, checksum fixed)
def _luhn_complete(prefix15: str) -> str:
    digits = [int(c) for c in prefix15]
    total = 0
    for i, d in enumerate(reversed(digits)):
        if i % 2 == 0:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return prefix15 + str((10 - total % 10) % 10)


def _prose(rng: random.Random, lang: str, n_words: int) -> str:
    pool = _WORDS[lang]
    words = [pool[rng.randrange(len(pool))] for _ in range(n_words)]
    # sentence-ish lines of ~12 words
    lines = [
        " ".join(words[i: i + 12]) + "."
        for i in range(0, len(words), 12)
    ]
    return "\n".join(lines)


def _make_text(rng: random.Random, cls: str) -> tuple[str, str]:
    """Returns (text, true_lang)."""
    if cls == "clean":
        return _prose(rng, "en", rng.randint(60, 220)), "en"
    if cls == "pii":
        base = _prose(rng, "en", rng.randint(60, 160))
        first = rng.choice(_FIRST)
        last = rng.choice(_LAST)
        email = f"{first}.{last.lower()}@corp{rng.randint(1, 9)}.com"
        phone = f"+1-555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}"
        ssn = f"{rng.randint(100, 665)}-{rng.randint(10, 99)}-{rng.randint(1000, 9999)}"
        ip = f"10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}"
        card = _luhn_complete("453201511283" + f"{rng.randint(100, 999)}")
        bad = card[:-1] + str((int(card[-1]) + 5) % 10)  # Luhn-INVALID near miss
        inserts = [
            f"Contact {first.capitalize()} {last} at {email} or {phone}.",
            f"Reported SSN {ssn} from host {ip}.",
            f"Payment card {card} was flagged but {bad} is a typo.",
            f"See https://wiki.corp{rng.randint(1, 9)}.com/u/{email} for details.",
        ]
        lines = base.split("\n")
        for ins in inserts:
            lines.insert(rng.randrange(len(lines) + 1), ins)
        return "\n".join(lines), "en"
    if cls == "short":
        return _prose(rng, "en", rng.randint(5, 30)), "en"
    if cls == "symbol":
        base = _prose(rng, "en", rng.randint(60, 120))
        junk = " ".join("#" * rng.randint(1, 4) for _ in range(40))
        return base + "\n" + junk + " ... ... ...", "en"
    if cls == "lowstop":
        # keyword stuffing: no stop words at all
        kw = ["widget", "gadget", "pricing", "review", "discount", "cheap",
              "best", "buy", "deal", "sale"]
        words = [kw[rng.randrange(len(kw))] for _ in range(rng.randint(80, 150))]
        return " ".join(words), "en"
    if cls == "dupline":
        base = _prose(rng, "en", 40)
        boiler = "subscribe to our newsletter for updates and offers."
        lines = base.split("\n") + [boiler] * rng.randint(8, 15)
        return "\n".join(lines), "en"
    if cls == "nonen":
        lang = rng.choice(["de", "es", "fr", "zh"])
        return _prose(rng, lang, rng.randint(60, 200)), lang
    if cls == "adversarial":
        base = _prose(rng, "en", rng.randint(60, 120))
        extras = [
            f"reach me at j . doe{rng.randint(1, 99)} @ mail . com",
            f"call {rng.randint(100, 999)} {rng.randint(100, 999)} {rng.randint(1000, 9999)}",
            "blob " + "QWJjZGVmZ2hpamtsbW5vcHFyc3R1dnd4eXo0Mg" + "==",
            "trace " + "".join(rng.choice("0123456789abcdef") for _ in range(40)),
        ]
        return base + "\n" + "\n".join(extras), "en"
    if cls == "toxic":
        from incident_pii_redactor_spark.quality.toxicity import BLOCK_WORDS

        base = _prose(rng, "en", rng.randint(60, 120)).split("\n")
        bad = sorted(BLOCK_WORDS)
        rant = " ".join(bad[rng.randrange(len(bad))] for _ in range(20))
        lines = base + [f"comments: {rant}", f"more: {rant}"]
        return "\n".join(lines), "en"
    if cls == "premarked":
        base = _prose(rng, "en", rng.randint(60, 120))
        return (
            base
            + "\nPreviously scrubbed: [REDACTED_EMAIL] and Person_ab12cd met."
        ), "en"
    raise ValueError(cls)


def synth_pages(n_rows: int, seed: int = 42, size_mult: int = 1) -> pd.DataFrame:
    """Generate n_rows deterministic pages. Column order per input_hint.
    ``size_mult`` scales per-doc size (1 -> ~730 B/doc; 6 -> ~4 KB, the
    realistic Common-Crawl page size) by repeating each class's OWN
    content pattern, so per-class keep/drop behavior is preserved at any
    size (padding with clean prose would dilute the rule-violating
    classes' signals and flip their verdicts)."""
    rows = []
    for i in range(n_rows):
        rng = random.Random((seed << 32) | i)
        cls = _CLASS_TAGS[rng.randrange(len(_CLASS_TAGS))]
        text, true_lang = _make_text(rng, cls)
        if size_mult > 1 and cls != "short":  # short must stay short
            blocks = [text] + [
                _make_text(rng, cls)[0] for _ in range(size_mult - 1)
            ]
            text = "\n".join(blocks)
        host = HOSTS[int(np.searchsorted(_HOST_CDF, rng.random()))]
        url = f"https://{host}/{cls}/{i}"
        # ~10% deliberately wrong lang tag (langid must override)
        lang = true_lang
        if rng.random() < 0.10:
            lang = rng.choice([l for l in LANG_SEEDS if l != true_lang])
        rows.append(
            {
                "url": url,
                "warc_ts": _EPOCH + dt.timedelta(seconds=i),
                "html": b"<html><body>" + text.encode("utf-8") + b"</body></html>",
                "text": text,
                "lang": lang,
            }
        )
    return pd.DataFrame(rows)


def write_pages_parquet(path: str, n_rows: int, seed: int = 42) -> str:
    """Materialize a pages table as a single parquet file (tests/bench)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = synth_pages(n_rows, seed)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),  # Spark can't read NANOS
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    pq.write_table(table, path)
    return path
