"""Benchmark of the two production jobs, ``jobs/scrub.py`` and
``jobs/dedup.py``, run in process on a session this script builds.

    python3 perfbench/run.py --workload scrub_adversarial --seed 1 \
        --seconds 15 --trace 0

One closed-loop client: one job at a time at ``local[k]`` (k = half the
cores this process may use, see ``harness.cores``); the next job starts
when the previous one returned. Each run makes the workload's corpus from
``--seed`` (its generation time is printed, and excluded from every
metric), sets up once (process start until the session is built and
warmed by one job over a 512-page corpus), then runs jobs for up to
``--seconds`` (at least one; another starts only while it is expected to
end in time), checking every job's output. The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; a run whose output is wrong prints ``"correct": false`` and
exits 1.

``--trace 0`` reports the end-to-end metrics (medians; the lines before
the result give each one's samples and quartiles). ``--trace 1`` is a
separate run that reports the per-layer metrics of ``trace.LAYER_METRICS``:
two untraced jobs, one job on a session with Spark's event log on, the
single-process oracle over every row with spans around each layer's
public functions, and for the scrub job a ``local[1]`` leg plus a bare
multiprocessing control. Spans are written to
``.perfbench_work/spans-<workload>.json``.

attempted / failed count input rows over all jobs of the run; a row fails
when it is neither in the output nor dropped with a stated reason, or
when its job raised.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from contextlib import ExitStack  # noqa: E402

import harness  # noqa: E402

sys.path.insert(0, harness.REPO)

import checks  # noqa: E402
import corpora  # noqa: E402
import scaling  # noqa: E402
import trace  # noqa: E402

IMPORT_S = time.perf_counter() - _T0
# A run must end within 180 s; the traced run's optional legs are skipped
# (and reported unavailable) when a slow host leaves too little of it.
DEADLINE_S = 165.0
JOB_GROUP = "perfbench-job"


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def report(name: str, unit: str, values: list[float]) -> None:
    q1, med, q3 = quartiles(values)
    print(f"metric {name} median={med:.6g} {unit} n={len(values)} "
          f"q1={q1:.6g} q3={q3:.6g} values="
          + ",".join(f"{v:.6g}" for v in values), flush=True)


class Run:
    def __init__(self, a):
        self.a = a
        self.spec = corpora.SPECS[a.workload]
        self.kind = self.spec.kind
        self.k = harness.cores()
        self.master = f"local[{self.k}]"
        self.work = os.path.join(harness.WORK_ROOT, f"run-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.jobs = 0
        self.peaks: list[tuple[int, int]] = []

    def prepare(self) -> None:
        t0 = time.perf_counter()
        self.corpus, cached = corpora.materialize(
            self.a.workload, self.a.seed, harness.CACHE_DIR)
        gen_s = time.perf_counter() - t0
        print(f"corpus {self.a.workload} seed={self.a.seed} rows="
              f"{self.corpus.rows} text_mb={self.corpus.text_bytes / 1e6:.2f}"
              f" generation_s={gen_s:.3f} cached={cached}", flush=True)
        self.warm = corpora.warmup_corpus(
            self.a.workload, self.a.seed, os.path.join(self.work, "warm_in"))

    def job(self, spark, check_sample: int | None,
            rss: harness.RssSampler | None = None) -> float | None:
        """One timed job plus its output check; returns job seconds (None
        when the job raised). With ``rss``, the job's peak memory is kept
        in ``self.peaks``."""
        out = os.path.join(self.work, "job")
        self.attempted += self.corpus.rows
        self.jobs += 1
        if rss:
            rss.take()
        try:
            job_s, _ = harness.run_job(self.spec, spark, self.corpus.path, out)
            if rss:
                self.peaks.append(rss.take())
        except Exception:
            traceback.print_exc()
            self.failed += self.corpus.rows
            self.problems.append(f"job {self.jobs} raised")
            return None
        if self.kind == "scrub":
            failed, problems = checks.check_scrub(
                self.corpus, out, check_sample,
                seed=self.a.seed * 1000 + self.jobs)
        else:
            failed, problems = checks.check_dedup(self.corpus, out)
        self.failed += failed
        self.problems += [f"job {self.jobs}: {p}" for p in problems]
        return job_s

    # -- --trace 0 -------------------------------------------------------
    def timed(self) -> dict:
        times = []
        with harness.RssSampler() as rss:
            spark, setup_s = harness.setup(self.spec, self.master, self.work,
                                           self.warm)
            setup_s += IMPORT_S
            try:
                # jobs run back to back; another starts only while it is
                # expected to end within --seconds (there is always one)
                start = time.perf_counter()
                while True:
                    t = self.job(spark, checks.SAMPLE, rss)
                    if t is not None:
                        times.append(t)
                    spent = time.perf_counter() - start
                    if spent + spent / self.jobs > self.a.seconds:
                        break
            finally:
                harness.shutdown(spark)
        if not times:
            return {}
        rows, mb = self.corpus.rows, self.corpus.text_bytes / 1e6
        series = {
            "setup_s": ("s", [setup_s]),
            "job_s": ("s", times),
            "docs_per_s": ("1/s", [rows / t for t in times]),
            "text_mb_per_s": ("MB/s", [mb / t for t in times]),
            "peak_rss_mb": ("MB", [p[0] / 2**20 for p in self.peaks]),
        }
        for name, (unit, values) in series.items():
            report(name, unit, values)
        report("peak_rss_mb_jvm_part", "MB",
               [p[1] / 2**20 for p in self.peaks])
        return {name: {"value": statistics.median(values), "unit": unit}
                for name, (unit, values) in series.items()}

    # -- --trace 1 -------------------------------------------------------
    def traced(self) -> dict:
        tracer = trace.Tracer()
        m: dict[str, float] = {}
        reasons: dict[str, str] = {}
        spark, _ = harness.setup(self.spec, self.master, self.work, self.warm)
        try:
            # the first job after the cold set-up is the one a timed run
            # measures (the scaling leg's local[k] side); the second runs
            # in a JVM as warm as the traced job's (the overhead baseline)
            first = self.job(spark, checks.SAMPLE)
            second = self.job(spark, checks.SAMPLE)
            spark.stop()
            spark, _ = harness.setup(self.spec, self.master, self.work,
                                     self.warm, event_log=True)
            spark.sparkContext.setJobGroup(JOB_GROUP, "timed job")
            out = os.path.join(self.work, "job")
            shutil.rmtree(out, ignore_errors=True)
            self.attempted += self.corpus.rows
            self.jobs += 1
            traced_s, _ = harness.run_job(self.spec, spark, self.corpus.path,
                                          out)
            spark.sparkContext.setJobGroup("perfbench-layers", "layer calls")
            self.spark_layers(spark, tracer, m)
            if self.kind == "dedup" and remaining() > 60:
                self.spark_layers_dedup(spark, tracer, m)
            elif self.kind == "dedup":
                reasons.update(dict.fromkeys(
                    [n for n in trace.LAYER_METRICS if n.startswith("dedup.")],
                    "skipped: too little of the run's time left"))
        finally:
            harness.shutdown(spark)
        ev = trace.event_log_metrics(os.path.join(self.work, "eventlog"),
                                     JOB_GROUP)
        if first is None or second is None:
            return {}
        m["trace.overhead_frac"] = traced_s / second - 1
        m.update(self.spark_metrics(ev, traced_s))

        if self.kind == "scrub":
            expected = self.oracle_layers(tracer, m)
            failed, problems = checks.check_scrub(
                self.corpus, out, None, self.a.seed, expected=expected)
            try:
                m.update(self.scaling(first))
            except (RuntimeError, subprocess.TimeoutExpired) as e:
                reasons.update({n: f"scaling leg not run: {e}"[:200]
                                for n in trace.LAYER_METRICS
                                if n.startswith("scaling.")})
        else:
            failed, problems = checks.check_dedup(self.corpus, out)
        self.failed += failed
        self.problems += [f"traced job: {p}" for p in problems]
        m["check.rows_failed_frac"] = self.failed / self.attempted

        spans = os.path.join(harness.WORK_ROOT,
                             f"spans-{self.a.workload}.json")
        tracer.write(spans)
        print(f"spans written to {os.path.relpath(spans, harness.REPO)}")
        metrics = {}
        for name, (unit, moves, on) in trace.LAYER_METRICS.items():
            if name not in m:
                reason = reasons.get(name, f"not on the {self.kind} job's path")
                print(f"unavailable {name}: {reason} (reported as 0)")
            metrics[name] = {"value": m.get(name, 0), "unit": unit}
            print(f"layer {name} = {metrics[name]['value']:.6g} {unit}; "
                  f"should move {moves} on {', '.join(on)}")
        return metrics

    def spark_metrics(self, ev: dict, job_s: float) -> dict:
        m = {
            "spark.jobs": ev["jobs"],
            "spark.core_busy_frac": ev["run_s"] / (job_s * self.k),
            "spark.executor_cpu_s": ev["cpu_s"],
            "spark.gc_s": ev["gc_s"],
            "spark.output_bytes": ev["output_bytes"],
            "spark.shuffle_write_bytes": ev["shuffle_write_bytes"],
            "spark.shuffle_read_records": ev["shuffle_read_records"],
            "spark.spill_bytes": ev["spill_bytes"],
            "scan.records_per_input_row": ev["records_read"] / self.corpus.rows,
        }
        if self.kind == "scrub":
            m.update({
                "spark.task_s.max_over_median": ev["max_over_median"],
                "arrow.bytes_to_python": ev["py_sent"],
                "arrow.bytes_from_python": ev["py_recv"],
            })
        return m

    def spark_layers(self, spark, tracer: trace.Tracer, m: dict) -> None:
        """The input read and the scan-parallelism floor both jobs call."""
        from incident_pii_redactor_spark.plans.session import (
            scan_parallelism_floor)
        from incident_pii_redactor_spark.sources.catalog import read_pages

        with tracer.span("sources.read_pages") as s:
            df = read_pages(spark, self.corpus.path)
        m["sources.read_pages_s"] = s["end"] - s["start"]
        with tracer.span("plans.scan_parallelism_floor") as s:
            scan_parallelism_floor(df.select("url", "text"))
        m["plans.scan_parallelism_floor_s"] = s["end"] - s["start"]

    def spark_layers_dedup(self, spark, tracer: trace.Tracer,
                           m: dict) -> None:
        """The near-dup layer functions over the rows the job's near stage
        sees (the exact-deduplicated corpus), timed by counting each."""
        from pyspark.sql import functions as F

        from incident_pii_redactor_spark.functions.dedup import (
            jaccard_on_pairs, minhash_lsh_pairs)
        from jobs.dedup import parse_args, run

        exact = os.path.join(self.work, "exact")
        args = parse_args(["--input", self.corpus.path, "--output", exact,
                           "--mode", "exact", "--no-stage-counts"])
        run(args, spark)
        docs = spark.read.parquet(exact)
        with tracer.span("dedup.minhash_lsh_pairs") as s:
            pairs = minhash_lsh_pairs(
                docs, id_col="url", text_col="text", n=args.shingle_words,
                n_perm=args.n_perm, bands=args.bands).persist()
            candidates = pairs.count()
        m["dedup.minhash_lsh_pairs_s"] = s["end"] - s["start"]
        with tracer.span("dedup.jaccard_on_pairs") as s:
            verified = jaccard_on_pairs(
                pairs, docs, id_col="url", text_col="text",
                n=args.shingle_words,
            ).filter(F.col("jaccard") >= args.jaccard_threshold).count()
        m["dedup.jaccard_on_pairs_s"] = s["end"] - s["start"]
        pairs.unpersist()
        m["dedup.candidate_pairs"] = candidates
        m["dedup.verify_yield"] = verified / candidates if candidates else 0.0

    def oracle_layers(self, tracer: trace.Tracer, m: dict) -> dict:
        """Run the oracle over every row with a span around each call into
        the quality and core layers; returns url -> oracle tuple."""
        from incident_pii_redactor_spark.core import pipeline
        from incident_pii_redactor_spark.quality import (
            perplexity, scorer, toxicity)

        wraps = [
            (scorer, "quality_signals", "quality.quality_signals", None),
            (perplexity, "factorized_tokens", "quality.factorized_tokens",
             None),
            (scorer, "heuristic_signals", "quality.heuristic_signals", None),
            (scorer, "predict_language", "quality.predict_language", None),
            (scorer, "perplexity_batch", "quality.perplexity_batch", None),
            (toxicity, "toxicity_ratio", "quality.toxicity_ratio", None),
            (pipeline, "scrub_document", "core.scrub_document",
             lambda r: r.n_redactions),
            (pipeline, "detect_deterministic", "core.detect_deterministic",
             len),
            (pipeline, "detect_contextual", "core.detect_contextual", len),
            (pipeline, "arbitrate", "core.arbitrate", None),
            (pipeline, "splice", "core.splice", None),
            (pipeline, "validate", "core.validate", None),
        ]
        texts = self.corpus.pages["text"].fillna("").tolist()
        with ExitStack() as stack:
            for module, attr, name, counter in wraps:
                stack.enter_context(tracer.wrapped(module, attr, name,
                                                   counter))
            results = checks.oracle(texts)
        for name in ("factorized_tokens", "heuristic_signals",
                     "predict_language", "perplexity_batch",
                     "toxicity_ratio"):
            m[f"quality.{name}_s"] = tracer.self_time(f"quality.{name}")
        m["quality.verdict_s"] = tracer.self_time("quality.quality_signals")
        m["quality.kept_frac"] = sum(r[0] for r in results) / len(results)
        for name in ("detect_deterministic", "detect_contextual",
                     "arbitrate", "splice", "validate"):
            m[f"core.{name}_s"] = tracer.self_time(f"core.{name}")
        detected = (tracer.counts.get("core.detect_deterministic", 0)
                    + tracer.counts.get("core.detect_contextual", 0))
        m["core.spans_detected"] = detected
        m["core.redaction_yield"] = (
            tracer.counts.get("core.scrub_document", 0) / detected
            if detected else 0.0)
        per_doc = [d * 1e3 for d in tracer.durations("core.scrub_document")]
        pct = statistics.quantiles(per_doc, n=100)
        m["core.scrub_document_ms.p50"] = pct[49]
        m["core.scrub_document_ms.p99"] = pct[98]
        m["core.scrub_document_ms.max"] = max(per_doc)
        for url, kind in self.corpus.truth.get("hostile", {}).items():
            i = self.corpus.pages.index[self.corpus.pages["url"] == url][0]
            print(f"hostile {kind} url={url} kept={results[i][0]}")
        return dict(zip(self.corpus.pages["url"], results))

    def scaling(self, job_s_k: float) -> dict:
        leg_work = os.path.join(self.work, "local1")
        # keep ~15 s for the multiprocessing control and the report
        budget = remaining() - 15
        if budget < 30:
            raise RuntimeError("too little of the run's time left")
        job_s_1 = scaling.spark_leg(self.a.workload, "local[1]",
                                    self.corpus.path, self.warm, leg_work,
                                    timeout=budget)
        rate_1 = self.corpus.rows / job_s_1
        rate_k = self.corpus.rows / job_s_k
        texts = self.corpus.pages["text"].fillna("").tolist()
        mp_1, mp_k = scaling.mp_docs_per_s(texts, self.k)
        print(f"scaling k={self.k}: spark local[1] {rate_1:.1f} docs/s, "
              f"local[{self.k}] {rate_k:.1f} docs/s; multiprocessing 1 proc "
              f"{mp_1:.1f} docs/s, {self.k} procs {mp_k:.1f} docs/s")
        return {"scaling.docs_per_s_local1": rate_1,
                "scaling.eff_1_to_k": rate_k / (self.k * rate_1),
                "scaling.mp_eff_1_to_k": mp_k / (self.k * mp_1)}


def remaining() -> float:
    return DEADLINE_S - (time.perf_counter() - _T0)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(corpora.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    # every process started below is waited for before the result line,
    # on every path out, a SIGTERM included
    harness.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(a)
    harness.prepare_env(run.work)
    load_before, calib_before = harness.loadavg(), harness.calibration_s()
    ticks_before = harness.cpu_ticks()
    try:
        run.prepare()
        metrics = run.traced() if a.trace else run.timed()
    finally:
        harness.reap_all()
        shutil.rmtree(run.work, ignore_errors=True)
    steal, total = (now - then for now, then in zip(harness.cpu_ticks(),
                                                    ticks_before))
    print(f"host steal_frac={steal / max(total, 1):.4f} "
          f"loadavg_before={load_before} loadavg_after="
          f"{harness.loadavg()} calibration_s_before={calib_before:.4f} "
          f"calibration_s_after={harness.calibration_s():.4f} "
          f"cores={len(os.sched_getaffinity(0))} spark_slots={run.k}")
    for p in run.problems:
        print(f"CHECK FAILED {p}")
    correct = not run.problems and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
