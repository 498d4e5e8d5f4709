"""Scaling leg of the traced run: the scrub job at ``local[1]`` in a fresh
JVM (a child process), next to a bare-``multiprocessing`` control that
makes the same per-document calls with no Spark at all (as
``tools/bench_scaling.py`` does). When both lose efficiency together,
the limit is the host, not the engine.

Run as a script, this file is the child: it sets up a session at the
given master, warms it, runs one job and prints ``RESULT <json>``.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import subprocess
import sys
import time
from multiprocessing import resource_tracker

import harness

DOCS_PER_PROC = 256


def spark_leg(workload: str, master: str, corpus_dir: str, warm_dir: str,
              work: str, timeout: float) -> float:
    """Job seconds of the workload's job at ``master`` in a fresh JVM, after
    the same set-up a timed run makes."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--master", master,
         "--input", corpus_dir, "--warm", warm_dir, "--work", work],
        capture_output=True, text=True, timeout=timeout)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])["job_s"]
    raise RuntimeError(f"{master} leg failed:\n{out.stderr[-3000:]}")


def _mp_work(texts: list[str]) -> int:
    import pandas as pd

    from incident_pii_redactor_spark.core.pipeline import scrub_document
    from incident_pii_redactor_spark.quality.scorer import (
        WEB_DEFAULT, quality_signals)

    sig = quality_signals(pd.Series(texts), WEB_DEFAULT)
    for text, keep in zip(texts, sig["keep"]):
        if keep:
            scrub_document(text)
    return len(texts)


def mp_docs_per_s(texts: list[str], procs: int) -> tuple[float, float]:
    """Docs/s of one spawned worker scoring and scrubbing ``procs`` ×
    DOCS_PER_PROC documents, and of ``procs`` workers at once, each taking
    DOCS_PER_PROC of the same documents. Every worker first warms itself
    (imports, lazy tables) on a few documents."""
    chunks = [texts[i * DOCS_PER_PROC: (i + 1) * DOCS_PER_PROC]
              for i in range(procs)]
    with mp.get_context("spawn").Pool(procs, initializer=_mp_work,
                                      initargs=(texts[:8],)) as pool:
        rates = []
        for batch in ([sum(chunks, [])], chunks):
            t0 = time.perf_counter()
            done = sum(pool.map(_mp_work, batch, chunksize=1))
            rates.append(done / (time.perf_counter() - t0))
    # the spawn context's resource tracker would outlive the pool until
    # this process exits; end it now and wait for it
    resource_tracker._resource_tracker._stop()
    return rates[0], rates[1]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--master", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--warm", required=True)
    ap.add_argument("--work", required=True)
    a = ap.parse_args()
    harness.adopt_orphans()
    harness.prepare_env(a.work)
    import corpora  # needs the package root prepare_env puts on the path

    spec = corpora.SPECS[a.workload]
    spark, _ = harness.setup(spec, a.master, a.work, a.warm)
    try:
        job_s, _ = harness.run_job(spec, spark, a.input,
                                   os.path.join(a.work, "job"))
    finally:
        harness.shutdown(spark)
    print("RESULT " + json.dumps({"job_s": job_s}), flush=True)


if __name__ == "__main__":
    main()
