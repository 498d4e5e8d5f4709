"""Physical-plan audit over every __spark_entry__ query: counts exchanges,
join strategies, scan column width, pushed filters, and WholeStageCodegen
coverage. The '.explain until it's the plan you'd want' loop, automated.

Usage: python tools/explain_audit.py [sf_dir] [query ...] [--md PLANS.md]
                                     [--dump DIR]
(--md writes the audit as a markdown table — the committed PLANS.md
artifact lets a reviewer read every query's plan shape without Spark.
--dump writes each query's ``explain("formatted")`` to DIR/<query>.txt;
a before/after comparison is two --dump directories. Query names limit
the run to those queries.)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _count_struct_cols(s: str) -> int:
    """Count TOP-LEVEL fields of a struct<...> string (nested <>/() types
    contain commas and '>' that a flat regex miscounts)."""
    depth = 0
    cols = 0
    for ch in s[len("struct<"):]:
        if ch in "<(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == ">":
            if depth == 0:
                return cols + 1
            depth -= 1
        elif ch == "," and depth == 0:
            cols += 1
    return cols + 1


def audit(sf_dir: str, md_path: str | None = None,
          dump_dir: str | None = None, only: list[str] = ()) -> None:
    import __spark_entry__ as entrymod
    from incident_pii_redactor_spark.plans import build_session

    queries = entrymod.queries()
    unknown = sorted(set(only) - set(queries))
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = build_session("plan-audit", master="local[4]")
    # AQE wraps everything in AdaptiveSparkPlan(isFinalPlan=false), which
    # hides WholeStageCodegen spans until execution — disable it for the
    # audit so the static plan shows codegen structure (execution configs
    # are unchanged; this session only explains)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    if dump_dir:
        os.makedirs(dump_dir, exist_ok=True)
    rows = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            if dump_dir:
                with open(os.path.join(dump_dir, f"{name}.txt"), "w") as f:
                    f.write(spark._jvm.PythonSQLUtils.explainString(
                        qe, "formatted"))
        except Exception as e:
            rows.append((name, None, str(e)[:80]))
            continue
        exch = len(re.findall(r"\bExchange\b", plan))
        bhj = len(re.findall(r"BroadcastHashJoin", plan))
        smj = len(re.findall(r"SortMergeJoin", plan))
        bnl = len(re.findall(r"BroadcastNestedLoopJoin", plan))
        # codegen stages appear as '*(N)' operator prefixes in the
        # non-AQE plan string; count DISTINCT stage ids
        wscg = len(set(re.findall(r"\*\((\d+)\)", plan)))
        scans = []
        for m in re.finditer(r"ReadSchema: (struct<.*)", plan):
            scans.append(_count_struct_cols(m.group(1)))
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        rows.append((name, (exch, bhj, smj, bnl, wscg, scans, pushed), ""))
    spark.stop()

    print(f"{'query':28s} {'exch':>4} {'bhj':>3} {'smj':>3} {'bnl':>3} "
          f"{'wscg':>4}  scans(cols) / pushed")
    for name, stats, err in rows:
        if stats is None:
            print(f"{name:28s} ERROR {err}")
            continue
        exch, bhj, smj, bnl, wscg, scans, pushed = stats
        print(f"{name:28s} {exch:4d} {bhj:3d} {smj:3d} {bnl:3d} {wscg:4d}  "
              f"scans={scans} pushed={pushed}")

    if md_path:
        lines = [
            "# PLANS — physical-plan audit of every driver query",
            "",
            f"Generated by `python tools/explain_audit.py {sf_dir} --md "
            f"{md_path}`. Columns: Exchange (shuffle) count, broadcast-"
            "hash / sort-merge / nested-loop join counts, WholeStage"
            "Codegen spans, per-scan projected column counts, scans with "
            "pushed filters. The plan-shape invariants (no BNLJ outside "
            "the capped oracle, no html reads, model scorers broadcast) "
            "are ENFORCED by tests/test_plan_sweep.py; this table is the "
            "human-readable view.",
            "",
            "| query | exchanges | BHJ | SMJ | BNLJ | codegen | "
            "scan cols | pushed |",
            "|---|---|---|---|---|---|---|---|",
        ]
        for name, stats, err in rows:
            if stats is None:
                safe = err.replace("|", "\\|").replace("\n", " ")
                lines.append(f"| {name} | ERROR: {safe} | | | | | | |")
                continue
            exch, bhj, smj, bnl, wscg, scans, pushed = stats
            lines.append(
                f"| {name} | {exch} | {bhj} | {smj} | {bnl} | {wscg} | "
                f"{scans} | {pushed} |")
        with open(md_path, "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"wrote {md_path}")


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*", help="only these queries")
    ap.add_argument("--md", default=None,
                    help="also write the audit as a markdown table")
    ap.add_argument("--dump", default=None, metavar="DIR",
                    help="write each formatted plan to DIR/<query>.txt")
    ns = ap.parse_args()
    if not os.path.isdir(ns.sf_dir):  # no sf_dir given, only query names
        ns.queries.insert(0, ns.sf_dir)
        ns.sf_dir = ap.get_default("sf_dir")
    audit(ns.sf_dir, ns.md, ns.dump, ns.queries)
