"""Seeded input corpora for the benchmark workloads.

Every corpus is a pure function of (workload, seed): the same seed gives
byte-identical parquet shards. The jobs receive only the parquet
directory; the facts the output checks need (which urls carry hostile
tokens, which rows are injected copies of which source) are written
beside it in ``truth.json`` and never shown to the job.

Corpora are cached under ``.perfbench_cache/`` at the repository root,
which git ignores; only the newest ``_KEEP`` corpora are kept.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import string
from dataclasses import dataclass, replace

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from incident_pii_redactor_spark.quality.scorer import quality_signals
from incident_pii_redactor_spark.sources.pages import synth_pages

# bump when any generator below changes, so stale cache entries are not reused
GEN_VERSION = 1
_KEEP = 6
SHARDS = 16

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),  # Spark cannot read NANOS
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


@dataclass(frozen=True)
class Spec:
    """Sizing of one workload's corpus and job."""

    kind: str               # "scrub" or "dedup"
    rows: int               # base pages before injected copies
    size_mult: int          # sources.pages.synth_pages size multiplier
    job_args: tuple = ()    # options passed to the job after its paths
    hostile_frac: float = 0.0
    exact_copy_frac: float = 0.0
    near_copy_frac: float = 0.0


# Two bucket groups, not the job's default eight: each group costs a few
# seconds of fixed Spark work whatever its size, and eight of them would
# not fit a run in the time a benchmark run is given. Two still show the
# per-group re-scan and write.
_SCRUB_ARGS = ("--n-buckets", "8", "--bucket-group-size", "4")
SPECS = {
    "scrub_web_4kb": Spec("scrub", rows=2000, size_mult=6,
                          job_args=_SCRUB_ARGS),
    "scrub_adversarial": Spec("scrub", rows=2000, size_mult=6,
                              job_args=_SCRUB_ARGS, hostile_frac=0.006),
    "dedup_near_dup": Spec("dedup", rows=4000, size_mult=1,
                           job_args=("--mode", "both"),
                           exact_copy_frac=0.20, near_copy_frac=0.10),
}
# The corpus each set-up warms the JVM and the Python workers on. At 64
# rows the first timed job still ran ~15% slower than the next one (JIT);
# at 512 the gap is about half that.
WARMUP_ROWS = 512


@dataclass
class Corpus:
    path: str            # directory of parquet shards (the job's --input)
    pages: pd.DataFrame  # url, text (the oracle's view of the same rows)
    truth: dict          # generator facts the checks use

    @property
    def rows(self) -> int:
        return len(self.pages)

    @property
    def text_bytes(self) -> int:
        return int(self.pages["text"].str.encode("utf-8").str.len().sum())


def _dotted(n: int) -> str:
    # varied letters: a run of one letter would trip the top-bigram rule
    # and drop the page before the scrub
    return ".".join(string.ascii_lowercase[i % 26] for i in range(n))[:n]


def _dashed(n: int) -> str:
    parts, length, i = [], 0, 1
    while length < n:
        parts.append(str(i))
        length += len(parts[-1]) + 1
        i += 1
    return "-".join(parts)[:n]


def _with_line(text: str, line: str) -> str:
    lines = text.split("\n")
    lines.insert(len(lines) // 2, line)
    return "\n".join(lines)


def _add_hostile(pdf: pd.DataFrame, frac: float, rng: random.Random) -> dict:
    """Give ~frac of the pages one hostile token, only on clean-class pages
    that stay keep=true with it (a dropped page never reaches the scrub).
    Token lengths are evenly spaced over their ranges, so every seed carries
    the same total hostile work and only its placement varies."""
    n = max(2, round(len(pdf) * frac))
    n_dot = n // 2
    lengths = ([("dotted", 256 + (256 * i) // max(n_dot - 1, 1))
                for i in range(n_dot)]
               + [("dashed", 4096 + (12288 * i) // max(n - n_dot - 1, 1))
                  for i in range(n - n_dot)])
    candidates = [i for i, u in enumerate(pdf["url"]) if "/clean/" in u]
    rng.shuffle(candidates)
    hostile = {}
    for kind, length in lengths:
        while True:
            if not candidates:
                raise RuntimeError("not enough clean pages for hostile tokens")
            i = candidates.pop()
            if kind == "dotted":
                # the validator's spaced-email scan is gated on an '@'
                # anywhere in the text; this one is not part of an email
                line = f"mirror {_dotted(length)} then ask the desk @ noon"
            else:
                line = f"build {_dashed(length)} done"
            text = _with_line(pdf.at[i, "text"], line)
            if bool(quality_signals(pd.Series([text]))["keep"][0]):
                break
        pdf.at[i, "text"] = text
        pdf.at[i, "html"] = b"<html><body>" + text.encode() + b"</body></html>"
        hostile[pdf.at[i, "url"]] = f"{kind}:{length}"
    return {"hostile": hostile}


def _add_copies(pdf: pd.DataFrame, spec: Spec,
                rng: random.Random) -> tuple[pd.DataFrame, dict]:
    """Append exact copies and one-word-edit near copies of base pages on
    new urls; record each copy's source url."""
    n = len(pdf)
    picks = rng.sample(range(n), round(n * (spec.exact_copy_frac
                                            + spec.near_copy_frac)))
    n_exact = round(n * spec.exact_copy_frac)
    rows, exact, near = [], {}, {}
    for j, i in enumerate(picks):
        src = pdf.iloc[i]
        text = src["text"]
        if j >= n_exact:
            words = text.split(" ")
            k = rng.randrange(len(words))
            words[k] = "zq" + words[k]
            text = " ".join(words)
        url = f"https://mirror{rng.randrange(100):02d}.example.net/copy/{j}"
        (exact if j < n_exact else near)[url] = src["url"]
        rows.append({**src.to_dict(), "url": url, "text": text,
                     "html": b"<html><body>" + text.encode()
                     + b"</body></html>"})
    out = pd.concat([pdf, pd.DataFrame(rows)], ignore_index=True)
    # shuffle so copies do not all land in the last shards
    out = out.sample(frac=1.0, random_state=rng.randrange(2**32))
    return out.reset_index(drop=True), {"exact_copies": exact,
                                        "near_copies": near}


def generate(spec: Spec, seed: int) -> tuple[pd.DataFrame, dict]:
    rng = random.Random(seed)
    pdf = synth_pages(spec.rows, seed=seed, size_mult=spec.size_mult)
    truth: dict = {}
    if spec.hostile_frac:
        truth.update(_add_hostile(pdf, spec.hostile_frac, rng))
    if spec.exact_copy_frac or spec.near_copy_frac:
        pdf, copies = _add_copies(pdf, spec, rng)
        truth.update(copies)
    return pdf, truth


def write_shards(pdf: pd.DataFrame, path: str, shards: int = SHARDS) -> None:
    os.makedirs(path, exist_ok=True)
    for s in range(shards):
        table = pa.Table.from_pandas(pdf.iloc[s::shards], schema=PAGES_SCHEMA,
                                     preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{s:05d}.parquet"))


def _entry_name(workload: str, seed: int) -> str:
    spec = hashlib.sha256(repr(SPECS[workload]).encode()).hexdigest()[:12]
    return f"{workload}-s{seed}-v{GEN_VERSION}-{spec}"


def materialize(workload: str, seed: int, cache_dir: str
                ) -> tuple[Corpus, bool]:
    """Generate (or reuse) the workload's corpus for ``seed``; also returns
    whether it came from the cache."""
    spec = SPECS[workload]
    entry = os.path.join(cache_dir, _entry_name(workload, seed))
    pages_dir = os.path.join(entry, "pages")
    truth_path = os.path.join(entry, "truth.json")
    cached = os.path.exists(truth_path)
    if not cached:
        shutil.rmtree(entry, ignore_errors=True)
        pdf, truth = generate(spec, seed)
        tmp = entry + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_shards(pdf, os.path.join(tmp, "pages"))
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
        os.replace(tmp, entry)
        _prune(cache_dir)
    os.utime(entry)
    pages = pq.read_table(pages_dir, columns=["url", "text"]).to_pandas()
    with open(truth_path) as f:
        truth = json.load(f)
    return Corpus(pages_dir, pages, truth), cached


def warmup_corpus(workload: str, seed: int, path: str) -> str:
    """A WARMUP_ROWS-page corpus of the workload's kind, without hostile
    tokens, for set-up."""
    spec = replace(SPECS[workload], rows=WARMUP_ROWS, hostile_frac=0.0)
    pdf, _ = generate(spec, seed)
    write_shards(pdf, path, shards=4)
    return path


def _prune(cache_dir: str) -> None:
    entries = sorted(
        (os.path.join(cache_dir, e) for e in os.listdir(cache_dir)
         if ".tmp" not in e),
        key=os.path.getmtime, reverse=True)
    for old in entries[_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)

