"""Output checks. Each returns (rows_failed, problems); any problem fails
the run.

Scrub: per url, ``keep``, ``drop_reason`` and sha256(``text_scrubbed``)
must equal a single-process oracle (``quality.scorer.quality_signals`` in
1024-row batches, the Arrow batch size, then ``core.pipeline.
scrub_document`` on kept rows); every input url appears exactly once; the
manifest's ``rows_in`` sums to the input rows.

Dedup: output urls are input urls, no two output rows share a content
hash, no injected exact copy survives beside its source. A row missing
from the output counts as failed unless a member of its copy group (the
source and its injected copies) survived.
"""

from __future__ import annotations

import hashlib
import os
import random

import pandas as pd
import pyarrow.dataset as ds

from incident_pii_redactor_spark.core import pipeline
from incident_pii_redactor_spark.quality import scorer

BATCH = 1024  # spark.sql.execution.arrow.maxRecordsPerBatch in build_session
SAMPLE = 200


def _sha(text) -> str | None:
    return None if text is None else hashlib.sha256(text.encode()).hexdigest()


def _read(path: str, columns: list[str]) -> pd.DataFrame:
    # partition directories are named _bucket=N, so only dot files and the
    # _SUCCESS marker are skipped
    dataset = ds.dataset(path, format="parquet", partitioning="hive",
                         ignore_prefixes=[".", "_SUCCESS"])
    return dataset.to_table(columns=columns).to_pandas()


def oracle(texts: list[str]) -> list[tuple]:
    """(keep, drop_reason, sha256 of scrubbed text) per text, computed the
    way the job's operator computes it, in one process. Calls go through
    the module attributes, so the traced run can wrap them in spans."""
    out: list[tuple] = []
    for lo in range(0, len(texts), BATCH):
        batch = texts[lo: lo + BATCH]
        sig = scorer.quality_signals(pd.Series(batch), scorer.WEB_DEFAULT)
        for text, keep, reason in zip(batch, sig["keep"],
                                      sig["drop_reason"]):
            scrubbed = None
            if keep:
                scrubbed = pipeline.scrub_document(text).text_scrubbed
            out.append((bool(keep), reason, _sha(scrubbed)))
    return out


def check_scrub(corpus, out_dir: str, sample: int | None, seed: int,
                expected: dict | None = None) -> tuple[int, list[str]]:
    """``sample`` urls (all when None) are compared to the oracle; pass
    ``expected`` (url -> oracle tuple) to reuse an oracle already run."""
    problems: list[str] = []
    got = _read(os.path.join(out_dir, "out"),
                ["url", "keep", "drop_reason", "text_scrubbed"])
    counts = got["url"].value_counts()
    inputs = set(corpus.pages["url"])
    missing = inputs - set(counts.index)
    extra = set(counts.index) - inputs
    dupes = counts[counts > 1]
    unstated = got[~got["keep"] & (got["drop_reason"].fillna("") == "")]
    failed = len(missing) + len(unstated)
    if missing or extra or len(dupes):
        problems.append(f"urls: {len(missing)} missing, {len(extra)} unknown,"
                        f" {len(dupes)} repeated")
    if len(unstated):
        problems.append(f"{len(unstated)} dropped rows without a reason")
    manifest = _read(os.path.join(out_dir, "manifest"), ["rows_in"])
    if int(manifest["rows_in"].sum()) != corpus.rows:
        problems.append(f"manifest rows_in {int(manifest['rows_in'].sum())}"
                        f" != input rows {corpus.rows}")

    pages = corpus.pages
    if sample is not None and sample < len(pages):
        pages = pages.iloc[sorted(random.Random(seed).sample(
            range(len(pages)), sample))]
    if expected is None:
        expected = dict(zip(pages["url"],
                            oracle(pages["text"].fillna("").tolist())))
    got = got.drop_duplicates("url").set_index("url")
    wrong = 0
    for url in pages["url"]:
        if url not in got.index:
            continue
        row = got.loc[url]
        actual = (bool(row["keep"]), row["drop_reason"] or "",
                  _sha(row["text_scrubbed"]
                       if isinstance(row["text_scrubbed"], str) else None))
        if actual != expected[url]:
            wrong += 1
    if wrong:
        problems.append(f"{wrong} of {len(pages)} urls differ from the oracle")
    return failed, problems


def check_dedup(corpus, out_dir: str) -> tuple[int, list[str]]:
    problems: list[str] = []
    got = _read(os.path.join(out_dir, "out"), ["url", "text"])
    inputs = set(corpus.pages["url"])
    out_urls = set(got["url"])
    if not out_urls <= inputs:
        problems.append(f"{len(out_urls - inputs)} output urls not in input")
    hashes = got["text"].map(
        lambda t: None if t is None else hashlib.md5(t.encode()).hexdigest())
    shared = int(hashes.dropna().duplicated().sum())
    if shared:
        problems.append(f"{shared} output rows share a content hash")
    exact = corpus.truth["exact_copies"]
    beside = sum(1 for c, s in exact.items() if c in out_urls and s in out_urls)
    if beside:
        problems.append(f"{beside} exact copies survived beside their source")

    group = {u: u for u in inputs}
    for copy, src in {**exact, **corpus.truth["near_copies"]}.items():
        group[copy] = src
    survived = {group[u] for u in out_urls if u in group}
    failed = sum(1 for u in inputs if group[u] not in survived)
    return failed, problems

