"""C4 line-level cleaning (functions/text.py): rule semantics, DuckDB
twin parity, and the scrub job's --c4-line-filter path."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from incident_pii_redactor_spark.functions.text import (
    c4_kept_lines,
    c4_kept_lines_sql,
    c4_line_filter,
    c4_page_keep,
    clean_lines_c4,
)

GOOD1 = "this is a perfectly reasonable sentence about spark engines."
GOOD2 = "does the line survive when it ends with a question mark?"
GOOD3 = "quoted speech should also count as terminal, he said.”"
BAD_SHORT = "too short here."                       # < 5 words
BAD_NOPUNCT = "this line has plenty of words but no terminal mark"
BAD_JS = "please enable javascript to view this content."
BAD_EMPTY = "   "


def test_line_rules_keep_and_drop(spark):
    text = "\n".join([GOOD1, BAD_SHORT, GOOD2, BAD_NOPUNCT, BAD_JS,
                      BAD_EMPTY, GOOD3])
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(clean_lines_c4("text").alias("t")).head()["t"]
    assert got == "\n".join([GOOD1, GOOD2, GOOD3])


def test_page_rules(spark):
    three_good = "\n".join([GOOD1, GOOD2, GOOD3])
    rows = [
        (1, three_good, True),
        (2, three_good + "\nlorem ipsum dolor sit amet.", False),
        (3, three_good + "\nfunction f() { return 1; }", False),
        (4, "\n".join([GOOD1, GOOD2]), False),  # only 2 sentences
        (5, BAD_NOPUNCT, False),                # nothing survives
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows],
                               "id int, text string")
    got = {r["id"]: r["k"] for r in
           df.select("id", c4_page_keep("text").alias("k")).collect()}
    assert got == {i: k for i, t, k in rows}


def test_duckdb_twin_matches_spark(spark, pages_pdf):
    """Engine parity on the real synthetic crawl (all content classes),
    plus the hand-built edge cases."""
    texts = list(pages_pdf["text"].head(300))
    texts += ["\n".join([GOOD1, BAD_SHORT, GOOD2, BAD_NOPUNCT, BAD_JS,
                         BAD_EMPTY, GOOD3]), "", "no newline at all.",
              # CRLF endings: Java '$' matches before a final \r, RE2's
              # does not — the shared pattern's \r? keeps the engines
              # agreeing (review round 5)
              GOOD1 + "\r\n" + GOOD2 + "\r\n" + BAD_NOPUNCT + "\r"]
    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                "id long, text string")
    s_got = {r["id"]: r["kept"] for r in
             sdf.select("id", c4_kept_lines("text").alias("kept")).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"id": range(len(texts)), "text": texts}))
    d_got = {i: kept for i, kept in con.execute(
        f"SELECT id, {c4_kept_lines_sql('text')} FROM t").fetchall()}
    assert s_got == d_got


def test_c4_line_filter_cleans_each_page_once(spark, pages_parquet):
    """c4_line_filter returns exactly the rows and columns of the
    filter-then-replace it stands for, and its plan cleans each page's
    lines once (one ``javascript`` rule): the filter form is pushed
    below the Project that computes the cleaned text, and its plan
    cleans twice."""
    def naive(df):
        cleaned = clean_lines_c4("text")
        return (df.filter(c4_page_keep("text", cleaned=cleaned))
                .withColumn("text", cleaned))

    def plan(f):
        return f._jdf.queryExecution().executedPlan().toString()

    df = spark.read.parquet(pages_parquet)
    assert plan(naive(df)).count("javascript") == 2
    assert plan(c4_line_filter(df)).count("javascript") == 1

    edge = spark.createDataFrame(
        [("https://e/1", None), ("https://e/2", ""),
         ("https://e/3", "\n".join([GOOD1, GOOD2, GOOD3, BAD_SHORT])),
         ("https://e/4", "\n".join([GOOD1, GOOD2, GOOD3]) + " {")],
        "url string, text string")
    df = df.unionByName(edge, allowMissingColumns=True)
    got, want = c4_line_filter(df), naive(df)
    assert got.columns == df.columns
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    assert {r.url for r in got.filter(F.col("url").startswith("https://e/"))
            .collect()} == {"https://e/3"}


def test_scrub_job_c4_line_filter(spark, pages_parquet, tmp_path_factory):
    from jobs.scrub import parse_args, run

    d = tmp_path_factory.mktemp("c4job")
    stats = run(parse_args(
        ["--input", pages_parquet, "--output", str(d / "out"),
         "--manifest", str(d / "mf"), "--n-buckets", "4",
         "--bucket-group-size", "4", "--c4-line-filter"]), spark=spark)
    assert stats["buckets_done"] == 4
    out = spark.read.parquet(str(d / "out"))
    n_filtered = out.count()
    assert 0 < n_filtered < 2000  # pages dropped by the C4 page rules
    # every surviving SOURCE line ends in terminal punctuation (scrub
    # may rewrite spans but never adds/removes lines)
    bad = out.select(F.explode(F.split("text_scrubbed", "\n")).alias("l")) \
        .filter(~F.col("l").rlike('[.!?]["”]?$')).count()
    assert bad == 0
