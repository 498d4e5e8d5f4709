"""Per-layer measurement for the traced run, taken from outside the
program: spans around calls into each layer's public functions, and the
task and SQL metrics in Spark's own event log.

``LAYER_METRICS`` is the layer -> end-to-end metric -> workload table:
for each per-layer metric, the end-to-end metric it should move and the
workloads on which it should move (on the others the prediction is no
change).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

SCRUB = ("scrub_web_4kb", "scrub_adversarial")
ADVERSARIAL = ("scrub_adversarial",)  # on scrub_web_4kb: no change
DEDUP = ("dedup_near_dup",)
ALL = SCRUB + DEDUP

# name -> (unit, end-to-end metric it should move, workloads where it moves)
LAYER_METRICS: dict[str, tuple[str, str, tuple]] = {
    "quality.factorized_tokens_s": ("s", "docs_per_s", SCRUB),
    "quality.heuristic_signals_s": ("s", "docs_per_s", SCRUB),
    "quality.predict_language_s": ("s", "docs_per_s", SCRUB),
    "quality.perplexity_batch_s": ("s", "docs_per_s", SCRUB),
    "quality.toxicity_ratio_s": ("s", "docs_per_s", SCRUB),
    "quality.verdict_s": ("s", "docs_per_s", SCRUB),
    "quality.kept_frac": ("frac", "docs_per_s", SCRUB),
    "core.detect_deterministic_s": ("s", "job_s", SCRUB),
    "core.detect_contextual_s": ("s", "job_s", SCRUB),
    "core.arbitrate_s": ("s", "job_s", SCRUB),
    "core.splice_s": ("s", "job_s", SCRUB),
    "core.validate_s": ("s", "job_s", SCRUB),
    "core.spans_detected": ("count", "job_s", SCRUB),
    "core.redaction_yield": ("frac", "job_s", SCRUB),
    "core.scrub_document_ms.p50": ("ms", "job_s", ADVERSARIAL),
    "core.scrub_document_ms.p99": ("ms", "job_s", ADVERSARIAL),
    "core.scrub_document_ms.max": ("ms", "job_s", ADVERSARIAL),
    "spark.task_s.max_over_median": ("ratio", "job_s", ADVERSARIAL),
    "scan.records_per_input_row": ("ratio", "job_s", SCRUB),
    "spark.jobs": ("count", "job_s", SCRUB),
    "spark.core_busy_frac": ("frac", "job_s", SCRUB),
    "plans.scan_parallelism_floor_s": ("s", "job_s", SCRUB),
    "sources.read_pages_s": ("s", "job_s", SCRUB),
    "arrow.bytes_to_python": ("bytes", "docs_per_s", SCRUB),
    "arrow.bytes_from_python": ("bytes", "docs_per_s", SCRUB),
    "dedup.minhash_lsh_pairs_s": ("s", "job_s", DEDUP),
    "dedup.candidate_pairs": ("count", "job_s", DEDUP),
    "dedup.jaccard_on_pairs_s": ("s", "job_s", DEDUP),
    "dedup.verify_yield": ("frac", "job_s", DEDUP),
    "spark.shuffle_write_bytes": ("bytes", "job_s", DEDUP),
    "spark.shuffle_read_records": ("count", "job_s", DEDUP),
    "spark.spill_bytes": ("bytes", "job_s", DEDUP),
    "spark.executor_cpu_s": ("s", "job_s peak_rss_mb", ALL),
    "spark.gc_s": ("s", "job_s peak_rss_mb", ALL),
    "spark.output_bytes": ("bytes", "job_s peak_rss_mb", ALL),
    "scaling.docs_per_s_local1": ("1/s", "north-star N->4N", SCRUB),
    "scaling.eff_1_to_k": ("ratio", "north-star N->4N", SCRUB),
    "scaling.mp_eff_1_to_k": ("ratio", "none (control)", SCRUB),
    "check.rows_failed_frac": ("frac", "docs_per_s", ALL),
    "trace.overhead_frac": ("frac", "none", ALL),
}


class Tracer:
    """In-memory spans: (id, parent id, name, start, end), plus counters.
    A span's self time is its duration minus its children's durations
    (children run inside their parent, one after another)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    @contextmanager
    def wrapped(self, module, attr: str, name: str, counter=None):
        """Replace ``module.attr`` by a spanned call for the duration of the
        block; ``counter(result)`` adds to the counter of the same name."""
        original = getattr(module, attr)

        def call(*args, **kwargs):
            with self.span(name):
                result = original(*args, **kwargs)
            if counter is not None:
                self.count(name, counter(result))
            return result

        setattr(module, attr, call)
        try:
            yield
        finally:
            setattr(module, attr, original)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time(self, name: str) -> float:
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        return sum(s["end"] - s["start"] - child.get(s["id"], 0.0)
                   for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


# --- Spark event log -------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def event_log_metrics(log_dir: str, job_group: str) -> dict:
    """Sum the task metrics of every job started under ``job_group``."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {paths}")
    stages: set[int] = set()
    jobs = 0
    tasks: dict[int, list[dict]] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get("spark.jobGroup.id") == job_group:
                    jobs += 1
                    stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)
    m = {"jobs": jobs, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
         "records_read": 0, "output_bytes": 0, "shuffle_write_bytes": 0,
         "shuffle_read_records": 0, "spill_bytes": 0, "py_sent": 0,
         "py_recv": 0, "max_over_median": 0.0}
    for stage in stages:
        durations, python_stage = [], False
        for ev in tasks.get(stage, []):
            tm = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            m["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["records_read"] += tm.get("Input Metrics", {}).get(
                "Records Read", 0)
            m["output_bytes"] += tm.get("Output Metrics", {}).get(
                "Bytes Written", 0)
            m["shuffle_write_bytes"] += tm.get(
                "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            m["shuffle_read_records"] += tm.get(
                "Shuffle Read Metrics", {}).get("Total Records Read", 0)
            m["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PY_SENT:
                    m["py_sent"] += int(acc.get("Update", 0))
                    python_stage = True
                elif acc.get("Name") == PY_RECV:
                    m["py_recv"] += int(acc.get("Update", 0))
            durations.append(info["Finish Time"] - info["Launch Time"])
        # straggler ratio of the stages that run the Python map
        if python_stage and durations and statistics.median(durations) > 0:
            m["max_over_median"] = max(
                m["max_over_median"],
                max(durations) / statistics.median(durations))
    return m
