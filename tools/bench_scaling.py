"""N -> 4N scaling ladder of the real scrub job (north-star criterion:
throughput scaling efficiency >= 0.8 between N and 4N executors).

One host has no cluster, so the ladder runs ``jobs/scrub.py`` over the
benchmark's ``scrub_adversarial`` corpus at ``local[N]`` and ``local[4N]``,
N = max(1, usable cores // 4), each pass in a fresh JVM through
``perfbench/scaling.py::spark_leg`` (the set-up and warm-up job of a timed
benchmark run); a level reports its best pass. A bare ``multiprocessing``
control makes the same per-document calls on the same corpus in N and 4N
forked processes, with no Spark: when both lose efficiency together, the
limit is the host, not the engine.

Each run prints a JSON summary and appends one dated section to
``BENCH/BASELINE.md`` under "Real-job ladder (`jobs/scrub.py`)".

Usage: python tools/bench_scaling.py [--passes 2]
"""

from __future__ import annotations

import argparse
import datetime
import json
import multiprocessing as mp
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(REPO, "perfbench"), REPO]

import corpora  # noqa: E402
import harness  # noqa: E402
import scaling  # noqa: E402

WORKLOAD = "scrub_adversarial"
SEED = 1
LEG_TIMEOUT_S = 900
BASELINE = os.path.join(REPO, "BENCH", "BASELINE.md")
HEADING = "## Real-job ladder (`jobs/scrub.py`)"

_TEXTS: list[str] = []  # fork-inherited (copy-on-write), never pickled


def _scrub_all(_: int) -> int:
    return scaling._mp_work(_TEXTS)


def _raw_mp_throughput(procs: int) -> float:
    """Docs/s of ``procs`` forked processes, each scoring and scrubbing
    the whole corpus it inherited: only the per-document work is timed,
    with no input sent to the workers."""
    with mp.get_context("fork").Pool(procs) as pool:
        pool.map(_scrub_all, range(procs))  # warm-up: imports, lazy tables
        t0 = time.perf_counter()
        done = sum(pool.map(_scrub_all, range(procs)))
        return done / (time.perf_counter() - t0)


def append_section(summary: dict) -> None:
    n, n4 = summary["levels"]
    rows = [f"| local[{lv}] | {summary['docs_per_s'][lv]:.1f} | "
            f"{', '.join(f'{s:.2f}' for s in summary['job_s'][lv])} | "
            f"{summary['control_docs_per_s'][lv]:.1f} |" for lv in (n, n4)]
    with open(BASELINE) as f:
        has_heading = HEADING in f.read()
    with open(BASELINE, "a") as f:
        if not has_heading:
            f.write(f"\n{HEADING}\n\nAppended by `make scaling`, one section"
                    " per run (`tools/bench_scaling.py`).\n")
        f.write(
            f"\n### {summary['date']}\n\n"
            f"`{WORKLOAD}` seed {SEED} ({summary['rows']:,} pages), best of "
            f"{summary['passes']} fresh-JVM passes per level, "
            f"{summary['cores']} usable cores.\n\n"
            "| level | docs/s (Spark, best pass) | job s, every pass | "
            "docs/s (fork control) |\n|---|---|---|---|\n"
            + "\n".join(rows) +
            f"\n\nEfficiency {n} -> {n4}: Spark "
            f"**{summary['efficiency']:.3f}**, control "
            f"{summary['control_efficiency']:.3f}.\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--passes", type=int, default=2)
    a = ap.parse_args()

    harness.adopt_orphans()
    work = os.path.join(harness.WORK_ROOT, f"scaling-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    n = max(1, cores // 4)
    levels = (n, 4 * n)
    try:
        corpus, _ = corpora.materialize(WORKLOAD, SEED, harness.CACHE_DIR)
        warm = corpora.warmup_corpus(WORKLOAD, SEED,
                                     os.path.join(work, "warm_in"))
        job_s = {lv: [scaling.spark_leg(WORKLOAD, f"local[{lv}]", corpus.path,
                                        warm, os.path.join(work, f"leg{lv}"),
                                        LEG_TIMEOUT_S)
                      for _ in range(a.passes)] for lv in levels}
        _TEXTS[:] = corpus.pages["text"].fillna("").tolist()
        control = {lv: _raw_mp_throughput(lv) for lv in levels}
    finally:
        harness.reap_all()
        shutil.rmtree(work, ignore_errors=True)

    rate = {lv: corpus.rows / min(job_s[lv]) for lv in levels}
    summary = {
        "date": datetime.datetime.now(datetime.timezone.utc)
        .strftime("%Y-%m-%d %H:%M UTC"),
        "rows": corpus.rows, "passes": a.passes, "cores": cores,
        "levels": levels, "job_s": job_s, "docs_per_s": rate,
        "control_docs_per_s": control,
        "efficiency": rate[4 * n] / (4 * rate[n]),
        "control_efficiency": control[4 * n] / (4 * control[n]),
    }
    print(json.dumps(summary))
    append_section(summary)


if __name__ == "__main__":
    main()
