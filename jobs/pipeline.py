"""End-to-end corpus pipeline: dedup -> quality-filter+scrub in ONE
spark-submit, sharing a session and an intermediate parquet handoff —
the full production path a training-data run takes.

    spark-submit --py-files dist/engine.zip jobs/pipeline.py \
        --input /data/pages --workdir /data/run1 \
        [--dedup-mode both] [--paragraph] [--salt]

Stages (each independently restartable — the scrub stage's manifest
makes rerunning this CLI resume instead of recompute):

1. ``jobs/dedup.py`` logic: exact and/or near dedup (+ optional
   paragraph rewrite) from --input into <workdir>/deduped.
2. ``jobs/scrub.py`` logic: manifest-resumable quality+scrub pass from
   <workdir>/deduped into <workdir>/scrubbed (+ <workdir>/manifest).

The dedup stage is re-run on a restart only when its output is absent —
its output directory is the stage's commit marker (parquet _SUCCESS)."""

from __future__ import annotations

import os
import sys

# allow direct `python jobs/pipeline.py` from the repo root (the
# documented CLI surface): the script dir is jobs/, so the package
# root one level up must be importable without PYTHONPATH
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse

from incident_pii_redactor_spark.operators.resume import committed
from incident_pii_redactor_spark.plans import build_session


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--workdir", required=True,
                   help="run directory: deduped/ scrubbed/ manifest/")
    p.add_argument("--dedup-mode", choices=("exact", "near", "both", "none"),
                   default="both")
    p.add_argument("--paragraph", action="store_true")
    p.add_argument("--url-canonical", action="store_true",
                   help="cross-snapshot latest-wins URL dedup first")
    p.add_argument("--clean-unicode", action="store_true",
                   help="normalize text before dedup hashing")
    p.add_argument("--against", default=None,
                   help="historical corpus for incremental ingestion")
    p.add_argument("--from-html", action="store_true",
                   help="scrub stage derives text from the html column")
    p.add_argument("--exact-clusters", action="store_true")
    p.add_argument("--salt", action="store_true")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--bucket-group-size", type=int, default=8)
    p.add_argument("--run-id", default="run1")
    args = p.parse_args(argv)
    if args.dedup_mode == "none":
        # fail fast instead of silently ignoring dedup-stage flags
        # (review round 5): each of these only takes effect inside the
        # dedup stage, which --dedup-mode none skips entirely
        offending = [name for name, on in (
            ("--paragraph", args.paragraph),
            ("--url-canonical", args.url_canonical),
            ("--clean-unicode", args.clean_unicode),
            ("--against", args.against),
            ("--exact-clusters", args.exact_clusters),
        ) if on]
        if offending:
            p.error(f"--dedup-mode none ignores {', '.join(offending)}: "
                    "these run inside the dedup stage")
    return args


def run(args, spark=None) -> dict:
    from jobs.dedup import parse_args as dedup_args, run as dedup_run
    from jobs.scrub import parse_args as scrub_args, run as scrub_run

    owns = spark is None
    if owns:
        spark = build_session("pii-pipeline")
    try:
        deduped = os.path.join(args.workdir, "deduped")
        stats: dict = {}
        if args.dedup_mode == "none":
            deduped = args.input
        elif committed(spark, deduped):
            stats["dedup"] = "skipped (committed output present)"
        else:
            dargs = ["--input", args.input, "--output", deduped,
                     "--mode", args.dedup_mode]
            if args.paragraph:
                dargs.append("--paragraph")
            if args.url_canonical:
                dargs.append("--url-canonical")
            if args.clean_unicode:
                dargs.append("--clean-unicode")
            if args.against:
                dargs += ["--against", args.against]
            if args.from_html:
                # extraction must happen BEFORE dedup: hashing a stale
                # text column would collapse the corpus (review round 3)
                dargs.append("--from-html")
            if args.exact_clusters:
                dargs.append("--exact-clusters")
            stats["dedup"] = dedup_run(dedup_args(dargs), spark=spark)

        sargs = ["--input", deduped,
                 "--output", os.path.join(args.workdir, "scrubbed"),
                 "--manifest", os.path.join(args.workdir, "manifest"),
                 "--run-id", args.run_id,
                 "--n-buckets", str(args.n_buckets),
                 "--bucket-group-size", str(args.bucket_group_size)]
        if args.salt:
            sargs.append("--salt")
        if args.from_html and not args.paragraph:
            # ALWAYS re-extract in the scrub stage too (not only when
            # dedup was skipped): the html column survives into the
            # deduped handoff and extraction is deterministic, so this
            # is idempotent-safe AND covers the resume case where a
            # committed deduped/ from an earlier run WITHOUT --from-html
            # still carries stale text (review round 3). The one
            # exception is --paragraph: its stage REWRITES text, so the
            # handoff text is authoritative and re-extraction would
            # undo the paragraph dedup — there the dedup stage (which
            # got --from-html above) must have extracted; changing
            # --from-html between a --paragraph run and its resume is
            # unsupported (the manifest cannot record provenance).
            sargs.append("--from-html")
        stats["scrub"] = scrub_run(scrub_args(sargs), spark=spark)
        return stats
    finally:
        if owns:
            spark.stop()


if __name__ == "__main__":
    print(run(parse_args()))
