"""Text-analysis Column expressions: token counts, quality ratios, language
heuristics, fingerprints, regex scrub — all pure Catalyst expressions
(inside WholeStageCodegen, zero Python).

Each builder documents its DuckDB oracle twin; `__spark_entry__.py` pairs
them for the driver's correctness gate. These JVM-side versions exist
alongside the vectorized-pandas versions in ``quality/`` on purpose:
cheap pre-filters expressed natively push down / fold into the scan plan
(SURVEY.md §4.2 "express keep/drop cheap pre-filters as native
predicates"), while the full model-based scoring lives in the Arrow UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 30 common English stop words — shared constant with the SQL twin
STOPWORDS_SQL = (
    "'the','be','to','of','and','a','in','that','have','i','it','for','not',"
    "'on','with','he','as','you','do','at','this','but','his','by','from',"
    "'they','we','say','her','she','or'"
)

# email regex shared by Spark and DuckDB twins (RE2-safe subset)
EMAIL_RE_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"


def words(text: str | Column = "text") -> Column:
    """Non-empty tokens split on ANY whitespace run (newlines included —
    a single-space split undercounted newline-separated words, making the
    prefilter drop docs the full scorer would keep).
    DuckDB twin: ``list_filter(string_split_regex(text, '\\s+'), x -> x <> '')``."""
    return F.filter(F.split(text, "\\s+"), lambda w: w != "")


def word_count(text: str | Column = "text") -> Column:
    return F.size(words(text))


def mean_word_len(text: str | Column = "text") -> Column:
    """Mean token length; 0 for empty docs.
    DuckDB twin: ``list_sum(list_transform(words, w -> len(w))) / count``."""
    w = words(text)
    total = F.aggregate(
        w, F.lit(0).cast("double"), lambda acc, x: acc + F.length(x)
    )
    return F.when(F.size(w) > 0, total / F.size(w)).otherwise(F.lit(0.0))


def stopword_ratio(text: str | Column = "text") -> Column:
    """Fraction of lowercase tokens in the 30-word stop list."""
    w = words(F.lower(text))
    stops = F.array(*[F.lit(s.strip("'")) for s in STOPWORDS_SQL.split(",")])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stops, x)))
    return F.when(F.size(w) > 0, n_stop / F.size(w)).otherwise(F.lit(0.0))


def symbol_ratio(text: str | Column = "text") -> Column:
    """Gopher symbol-to-word ratio: ('#' + '...') occurrences / words."""
    c = F.col(text) if isinstance(text, str) else text
    hashes = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    dots = (
        F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    ) / 3
    wc = word_count(c)
    return F.when(wc > 0, (hashes + dots) / wc).otherwise(F.lit(0.0))


def token_count_bpe_ish(text: str | Column = "text") -> Column:
    """BPE-ish token estimate: count of word-piece-like matches
    (letter runs, digit runs, single punctuation) — a standard cheap
    proxy for tokenizer counts at corpus scale.
    DuckDB twin: ``len(regexp_extract_all(text, pattern))``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE_SQL), F.lit(0)))


TOKEN_RE_SQL = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def fingerprint(text: str | Column = "text") -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    DuckDB twin: ``md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(c), "\\s+", " "))


def redact_emails(text: str | Column = "text") -> Column:
    """JVM-side single-entity scrub (the cheap pre-scrub for pipelines that
    only need email removal; the full arbitrated scrub is the Arrow UDF).
    DuckDB twin: ``regexp_replace(text, <re>, '[REDACTED_EMAIL]', 'g')``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(c, EMAIL_RE_SQL, "[REDACTED_EMAIL]")


def _email_matches_desc(c: Column) -> Column:
    """Distinct email matches ordered (length DESC, value DESC).
    Processing order matters when one match contains another (prefix
    'a@b.co' in 'a@b.com', or suffix 'a@b.com' in 'Aa@b.com'): the
    CONTAINER must be rewritten first or the contained match's
    replacement corrupts it (plain lexicographic desc got 'Aa@b.com'
    wrong — 'a' > 'A' in binary order). Sorting (length, value) structs
    and reversing gives the same order as DuckDB's
    list_reverse(list_sort(list_transform(..., {'l','m'}))) twin, so
    outputs stay identical."""
    arr = F.array_distinct(
        F.regexp_extract_all(c, F.lit(EMAIL_RE_SQL), F.lit(0))
    )
    sorted_structs = F.array_sort(
        F.transform(arr, lambda m: F.struct(F.length(m).alias("l"),
                                            m.alias("m")))
    )
    return F.transform(F.reverse(sorted_structs), lambda s: s.getField("m"))


def anonymize_emails(text: str | Column = "text",
                     method: str = "replace") -> Column:
    """R7 parity — Presidio-style anonymize operators as pure Catalyst
    expressions (reference ``src/core/pii_redactor.py:90-121``):

    * ``replace``: token substitution (Presidio ``replace`` config)
    * ``hash``:    each match becomes its sha256 hex (Presidio ``hash``)
    * ``mask``:    last <=4 chars become ``*`` (Presidio ``mask`` with
                   masking_char='*', chars_to_mask=4)
    * ``remove``:  match deleted (Presidio ``replace`` with '')

    Single-entity (email) JVM-side variants — the full multi-entity path
    applies the same operators span-wise inside the arbitrated scrub.
    DuckDB twin: ``list_reduce(list_prepend(text, matches), ...)``."""
    c = F.col(text) if isinstance(text, str) else text
    if method == "replace":
        return F.regexp_replace(c, EMAIL_RE_SQL, "[EMAIL]")
    if method == "remove":
        return F.regexp_replace(c, EMAIL_RE_SQL, "")
    ms = _email_matches_desc(c)
    if method == "hash":
        return F.aggregate(
            ms, c, lambda acc, m: F.replace(acc, m, F.sha2(m, 256))
        )
    if method == "mask":
        def masked(m: Column) -> Column:
            return F.concat(
                F.substr(m, F.lit(1), F.greatest(F.length(m) - 4, F.lit(0))),
                F.repeat(F.lit("*"), F.least(F.length(m), F.lit(4))),
            )

        return F.aggregate(
            ms, c, lambda acc, m: F.replace(acc, m, masked(m))
        )
    raise ValueError(f"anonymize_emails: unknown method {method!r}")


def quality_prefilter(
    text: str | Column = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    max_symbol_ratio: float = 0.1,
) -> Column:
    """Cheap JVM-side keep pre-filter (word bounds + symbol ratio). At
    scale this runs BEFORE the Arrow stage so obviously-bad docs never
    cross into Python at all."""
    wc = word_count(text)
    return (
        (wc >= min_words) & (wc <= max_words)
        & (symbol_ratio(text) <= max_symbol_ratio)
    )


# ---------------------------------------------------------------------------
# URL canonicalization (webtext: cross-snapshot / tracking-param dedup)
# ---------------------------------------------------------------------------

# scheme://host[:port] prefix (everything before the first /, ? or #)
URL_HEAD_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
# tracking query params dropped by canonicalization
_TRACK_PARAMS = "(utm_[A-Za-z]+|fbclid|gclid|ref_src)"
# a RUN of tracking params right after '?', each followed by '&' (i.e.
# more params follow) — replaced by a bare '?' so the first surviving
# param keeps its '?' without any blanket '&'->'?' promotion (review
# round 3: the blanket promotion rewrote literal '&' in query-less
# paths, e.g. https://x.y/a&b -> https://x.y/a?b)
URL_TRACK_HEAD_RE = f"\\?({_TRACK_PARAMS}=[^&#]*&)+"
URL_TRACK_RE = f"[?&]{_TRACK_PARAMS}=[^&#]*"


def canonical_url(url: str | Column = "url") -> Column:
    """Canonical form of a web URL, the key for cross-snapshot dedup:

    1. lowercase the scheme://host[:port] prefix,
    2. strip default ports ``:80`` / ``:443``,
    3. strip the ``#fragment``,
    4. strip tracking params (``utm_*``, ``fbclid``, ``gclid``,
       ``ref_src``); when the run of params directly after ``?`` is all
       tracking, the ``?`` itself survives onto the first kept param —
       a literal ``&`` in a query-less path is never rewritten,
    5. strip a trailing ``/`` from the path.

    Pure Catalyst (regexp chain, WholeStageCodegen). The DuckDB twin
    lives in :func:`canonical_url_sql`; patterns are shared constants and
    are RE2-safe (no lookaround), so Java regex and RE2 agree. Spark's
    ``regexp_replace`` replaces ALL matches — the twin passes the ``'g'``
    flag wherever that matters.
    """
    c = F.col(url) if isinstance(url, str) else url
    head_raw = F.regexp_extract(c, URL_HEAD_RE, 0)
    # default-port stripping is SCHEME-conditional (review round 5):
    # http://host:443 serves different content than http://host — only
    # the scheme's own default port is equivalent to no port
    head = F.lower(head_raw)
    head = F.regexp_replace(head, "^(http://.*):80$", "$1")
    head = F.regexp_replace(head, "^(https://.*):443$", "$1")
    tail = c.substr(F.length(head_raw) + F.lit(1), F.length(c))
    tail = F.regexp_replace(tail, "#.*", "")
    # '?utm_x=1&utm_y=2&id=3' -> '?id=3' in two steps: collapse the
    # ?-leading tracking run to a bare '?', then drop the rest
    tail = F.regexp_replace(tail, URL_TRACK_HEAD_RE, "?")
    tail = F.regexp_replace(tail, URL_TRACK_RE, "")
    tail = F.regexp_replace(tail, "/$", "")
    return F.concat(head, tail)


def canonical_url_sql(expr: str) -> str:
    """DuckDB twin of :func:`canonical_url` — same constants, same step
    order; 'g' flags where Spark replaces all; RE2 backref ``\\1`` where
    Spark uses ``$1``."""
    head_raw = f"regexp_extract({expr}, '{URL_HEAD_RE}')"
    head = f"regexp_replace(lower({head_raw}), '^(http://.*):80$', '\\1')"
    head = f"regexp_replace({head}, '^(https://.*):443$', '\\1')"
    tail = f"substring({expr}, length({head_raw}) + 1)"
    tail = f"regexp_replace({tail}, '#.*', '')"
    tail = f"regexp_replace({tail}, '{URL_TRACK_HEAD_RE}', '?', 'g')"
    tail = f"regexp_replace({tail}, '{URL_TRACK_RE}', '', 'g')"
    tail = f"regexp_replace({tail}, '/$', '')"
    return f"({head} || {tail})"


# junk-path patterns (C4-era URL rules): non-content page families that
# survive canonicalization — shared with the DuckDB twin, RE2-safe
URL_JUNK_RE = (
    "(?i)/(wp-admin|wp-login|login|signup|register|cart|checkout|"
    "search|tag|category|feed|trackback)([/?#]|$)"
    # asset extension must terminate the PATH — '://host/…' ahead of it
    # so a hostname that happens to end in .js/.css (https://foo.js) is
    # not an asset (RE2-safe: structure, not lookbehind)
    "|://[^/?#]+/[^?#]*\\.(xml|rss|atom|css|js)([?#]|$)"
)


def url_is_junk(url: str | Column = "url") -> Column:
    """True for URL shapes that are overwhelmingly non-content (admin
    and auth pages, carts, search/tag/category indexes, feeds, asset
    files) — the cheap URL-level filter crawl pipelines apply BEFORE
    fetching or extracting anything. Pure Catalyst rlike; DuckDB twin:
    ``regexp_matches(url, URL_JUNK_RE)``."""
    c = F.col(url) if isinstance(url, str) else url
    return c.rlike(URL_JUNK_RE)


# C4 line-level cleaning rules (Raffel et al. 2020 "Exploring the Limits
# of Transfer Learning" §2.2 — the rules that produced the C4 corpus):
# keep a line only if it ends in terminal punctuation (period /
# exclamation / question mark, optionally followed by a closing quote),
# carries at least 5 words, and does not mention "javascript" (the
# enable-JS warning boilerplate). Page-level: reject pages containing
# "lorem ipsum" (template filler), a curly brace (code), or fewer than
# 3 sentences after line cleaning. Constants are shared verbatim with
# the DuckDB twin; RE2-safe (no lookaround), no apostrophe in the
# pattern so both engines quote it identically. The explicit \r? is
# engine parity, not cosmetics: lines split on \n keep a trailing \r on
# CRLF text (trim strips only spaces on both engines), and Java's '$'
# matches BEFORE a final \r while RE2's does not — without \r? the two
# engines disagree on every CRLF-terminated line (review round 5).
C4_TERMINAL_RE = '[.!?]["”]?\\r?$'
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3


def c4_kept_lines(text: str | Column = "text") -> Column:
    """array<string> of trimmed lines surviving the C4 line rules."""
    c = F.col(text) if isinstance(text, str) else text
    lines = F.transform(F.split(c, "\n"), lambda x: F.trim(x))
    return F.filter(
        lines,
        lambda x: (
            x.rlike(C4_TERMINAL_RE)
            & (F.size(F.filter(F.split(x, " "), lambda w: w != ""))
               >= C4_MIN_LINE_WORDS)
            & ~F.lower(x).contains("javascript")
        ),
    )


def clean_lines_c4(text: str | Column = "text") -> Column:
    """Rebuild the document from its C4-surviving lines (newline-joined;
    empty string when nothing survives). Pure Catalyst — at corpus scale
    this is a narrow map over the scan, no shuffle, no Python."""
    return F.array_join(c4_kept_lines(text), "\n")


def c4_kept_lines_sql(expr: str) -> str:
    """DuckDB twin of :func:`c4_kept_lines` — same constants, same rule
    order."""
    keep = (f"regexp_matches(x, '{C4_TERMINAL_RE}') AND "
            f"len(list_filter(string_split(x, ' '), w -> w <> '')) "
            f">= {C4_MIN_LINE_WORDS} AND "
            f"NOT contains(lower(x), 'javascript')")
    return (f"list_filter(list_transform(string_split({expr}, chr(10)), "
            f"x -> trim(x)), x -> {keep})")


def c4_page_keep(text: str | Column = "text",
                 cleaned: Column | None = None) -> Column:
    """C4 page-level verdict: the lorem-ipsum and curly-brace checks
    run on the RAW text (per the C4 paper — a code brace anywhere
    condemns the page even if line cleaning removes it); only the
    sentence count uses the LINE-CLEANED text, via its terminal
    punctuation marks (every kept line ends in one, so this
    lower-bounds at one per kept line)."""
    c = F.col(text) if isinstance(text, str) else text
    cleaned = clean_lines_c4(c) if cleaned is None else cleaned
    low = F.lower(c)
    n_sent = F.size(F.regexp_extract_all(cleaned, F.lit("[.!?]"), F.lit(0)))
    return (~low.contains("lorem ipsum") & ~c.contains("{")
            & (n_sent >= C4_MIN_SENTENCES))


def c4_line_filter(df: DataFrame, text: str = "text") -> DataFrame:
    """Drop the pages ``c4_page_keep`` rejects and replace ``text`` by
    its C4-cleaned lines, columns in place. The line cleaning runs ONCE
    per page: in the Project under a generator that emits the cleaned
    text for a kept page and no row otherwise. A ``.filter`` on the
    cleaned column would be pushed below that Project and clean every
    page twice (once in the Filter, once in the Project)."""
    cleaned = df.withColumn("_c4", clean_lines_c4(text))
    kept = F.explode(F.when(c4_page_keep(text, cleaned=F.col("_c4")),
                            F.array("_c4")))
    return cleaned.select(*[kept.alias(c) if c == text else c
                            for c in df.columns])
