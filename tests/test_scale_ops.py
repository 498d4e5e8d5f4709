"""Scale-machinery tests: streaming checkpoint recovery, exchange-free
near-dup and range joins."""

import pytest
from pyspark.sql import functions as F


def test_streaming_checkpoint_recovery(spark, tmp_path_factory):
    """Stop after batch 1, restart from the same checkpoint: every input
    row lands exactly once."""
    from incident_pii_redactor_spark.sources.pages import write_pages_parquet
    from incident_pii_redactor_spark.streaming.scrub_stream import (
        read_pages_stream,
        scrub_stream,
    )

    d = tmp_path_factory.mktemp("ckpt_in")
    out = tmp_path_factory.mktemp("ckpt_out")
    write_pages_parquet(str(d / "f1.parquet"), 100, seed=3)
    write_pages_parquet(str(d / "f2.parquet"), 100, seed=4)

    def start():
        return (
            scrub_stream(read_pages_stream(spark, str(d), max_files_per_trigger=1))
            .writeStream.format("parquet")
            .option("path", str(out / "data"))
            .option("checkpointLocation", str(out / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    # stop mid-stream after the first file commits (bounded poll: a broken
    # stream must fail the test, not hang the suite)
    import time

    deadline = time.time() + 120
    while not q.recentProgress:
        assert q.exception() is None, q.exception()
        assert time.time() < deadline, "stream produced no progress in 120s"
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    # restart from checkpoint; availableNow drains the rest
    q2 = start()
    q2.awaitTermination(180)
    assert not q2.isActive  # availableNow must TERMINATE (timer-bug guard)
    got = spark.read.parquet(str(out / "data"))
    assert got.count() == 200  # reads via the sink's _spark_metadata commit log
    # exactly-once: a replayed batch would produce full-row duplicates
    # (urls can legitimately collide across the two seeded fixture files,
    # so fingerprint rows by url + content-derived signals)
    assert got.select("url", "ppl", "word_count").distinct().count() == 200


def test_embedding_near_dup_lsh_equals_exact(spark):
    """Bucketed near-dup (banded sign-LSH + exact verify) must equal the
    exact all-pairs result, and its plan must contain no nested-loop or
    cartesian join (VERDICT round-1: the all-pairs BNLJ was the one
    scale-killer)."""
    from incident_pii_redactor_spark.functions.similarity import (
        cosine,
        embedding_near_dup_pairs,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lsh = embedding_near_dup_pairs(e, threshold=0.30).orderBy("id_a", "id_b")
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    exact = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.30)
        .orderBy("id_a", "id_b")
    )
    want = [tuple(r) for r in exact.collect()]
    assert [tuple(r) for r in lsh.collect()] == want

    # string ids pass through the Arrow verify with their own type
    # (zero-padded so id_a < id_b keeps the numeric pairing)
    s = e.withColumn("vec_id", F.format_string("v%06d", "vec_id"))
    got = embedding_near_dup_pairs(s, threshold=0.30).orderBy("id_a", "id_b")
    assert dict(got.dtypes)["id_a"] == "string"
    assert [tuple(r) for r in got.collect()] == [
        (f"v{a:06d}", f"v{b:06d}", c) for a, b, c in want]

    # ragged rows whose lengths sum to n*dim (3 + 5 = 2*4) in one batch
    # must fail loudly, never reshape misaligned
    from incident_pii_redactor_spark.functions.similarity import (
        _verify_pairs_arrow,
    )

    ragged = spark.createDataFrame(
        [(1, 2, [1.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0]),
         (3, 4, [1.0, 2.0, 3.0, 4.0, 5.0], [1.0, 2.0, 3.0, 4.0])],
        "id_a long, id_b long, ea array<float>, eb array<float>",
    ).coalesce(1)
    with pytest.raises(Exception, match="embedding of length 3 in a dim-4"):
        _verify_pairs_arrow(ragged, 4).collect()


def test_asof_join_semantics(spark):
    """As-of semantics: latest right row with ts <= left ts (inclusive),
    deterministic tie-break at duplicate timestamps, NULL when nothing
    precedes, and NULL right-columns must not mix values across right
    rows (struct payload, not per-column carry)."""
    import datetime as dt

    from incident_pii_redactor_spark.operators.asof import asof_join

    d = lambda s: dt.datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [(1, 10, d("2024-01-05")), (2, 10, d("2024-01-01")),
         (3, 10, d("2024-01-10")), (4, 99, d("2024-01-05"))],
        "event_id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, d("2024-01-05"), 100, "a"),   # equal-ts: inclusive
         (10, d("2024-01-05"), 101, None),  # same ts, higher id wins tie
         (10, d("2024-01-02"), 90, "b")],
        "k long, rts timestamp, oid long, tag string",
    )
    got = {r.event_id: r for r in asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        right_cols=["oid", "tag"], right_order=["rts", "oid"],
    ).collect()}
    assert got[2].oid_asof is None          # nothing precedes 01-01
    assert got[1].oid_asof == 101           # 01-05 inclusive, max oid wins
    assert got[1].tag_asof is None          # from row 101, NOT row 100's 'a'
    assert got[3].oid_asof == 101           # carried forward past 01-05
    assert got[4].oid_asof is None          # key with no right rows


def test_asof_join_null_timestamps(spark):
    """Review regression: NULL right_ts rows must never match (SQL
    `right_ts <= left_ts` is false for NULL), and NULL left_ts rows get
    a NULL payload, not the nulls-first neighbor."""
    import datetime as dt

    from incident_pii_redactor_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, dt.datetime(2024, 1, 1)), (2, 10, None)],
        "event_id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, None, 7)], "k long, rts timestamp, oid long"
    )
    got = {r.event_id: r for r in asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        right_cols=["oid"], right_order=["oid"],
    ).collect()}
    assert got[1].oid_asof is None
    assert got[2].oid_asof is None


def test_asof_join_date_vs_timestamp(spark):
    """Review regression: a date-typed left side must compare at
    timestamp precision (date = midnight), not truncate the right side's
    intraday time."""
    import datetime as dt

    from incident_pii_redactor_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, dt.date(2024, 1, 5))], "event_id long, k long, d date"
    )
    right = spark.createDataFrame(
        [(10, dt.datetime(2024, 1, 5, 23, 0), 7),
         (10, dt.datetime(2024, 1, 4, 9, 0), 3)],
        "k long, rts timestamp, oid long",
    )
    got = asof_join(left, right, on="k", left_ts="d", right_ts="rts",
                    right_cols=["oid"], right_order=["oid"]).collect()
    # 01-05 23:00 is AFTER date 2024-01-05 (midnight) -> only oid 3 matches
    assert got[0].oid_asof == 3


def test_operator_input_validation(spark):
    import datetime as dt

    import pytest as _pytest

    from incident_pii_redactor_spark.operators.asof import asof_join, range_join

    df = spark.createDataFrame(
        [(1, 10, dt.datetime(2024, 1, 1))], "eid long, k long, ts timestamp"
    )
    with _pytest.raises(ValueError, match="bin_seconds"):
        range_join(df, df.withColumnRenamed("ts", "s")
                   .withColumn("e", F.col("s")), "ts", "s", "e",
                   bin_seconds=0)
    with _pytest.raises(ValueError, match="_bin"):
        range_join(df.withColumn("_bin", F.lit(1)),
                   df.withColumnRenamed("ts", "s").withColumn("e", F.col("s")),
                   "ts", "s", "e")
    with _pytest.raises(ValueError, match="collide"):
        asof_join(df.withColumn("_k", F.lit(1)), df, on="k",
                  left_ts="ts", right_ts="ts")


def test_range_join_no_bnl_and_matches_naive(spark):
    """Binned range join must avoid nested-loop/cartesian plans and match
    the naive inequality join exactly, including intervals that span
    multiple bins and empty-match rows."""
    import datetime as dt

    from incident_pii_redactor_spark.operators.asof import range_join

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, base + dt.timedelta(hours=7 * i)) for i in range(60)],
        "eid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, base + dt.timedelta(days=1), base + dt.timedelta(days=9)),
         (2, base + dt.timedelta(days=3), base + dt.timedelta(days=3, hours=2)),
         (3, base + dt.timedelta(days=100), base + dt.timedelta(days=101))],
        "wid long, s timestamp, e timestamp",
    )
    binned = range_join(left, right, "ts", "s", "e", bin_seconds=86400)
    plan = binned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    naive = left.join(
        right, (F.col("s") <= F.col("ts")) & (F.col("ts") < F.col("e"))
    )
    key = lambda df: sorted((r.eid, r.wid) for r in df.collect())
    assert key(binned) == key(naive)
    assert len(key(binned)) > 0


def test_asof_join_output_name_collision_raises(spark):
    """ADVICE round 2: a left column named '<right_col>_asof' must raise
    instead of silently duplicating the name in the output."""
    import pytest

    from incident_pii_redactor_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "boom")], "k long, ts long, v_asof string")
    right = spark.createDataFrame([(1, 5, "x")], "k long, ts long, v string")
    with pytest.raises(ValueError, match="suffix"):
        asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                  right_cols=["v"])
    # a different suffix resolves it
    got = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    right_cols=["v"], suffix="_prior").collect()
    assert got[0].v_prior == "x" and got[0].v_asof == "boom"


def test_distributed_percent_rank_equals_window(spark):
    """functions/rank.py: the range-partition + offset construction must
    be BIT-identical to Window percent_rank on a total order — including
    skewed groups (one giant group = the CCNet per-lang hazard), single-
    row groups, and duplicate order values broken by the unique key."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from incident_pii_redactor_spark.functions.rank import (
        distributed_percent_rank,
    )

    rows = []
    # giant skewed group with duplicate scores (ties -> doc_id tiebreak)
    for i in range(997):
        rows.append(("en", i, float(i % 13)))
    for i in range(40):
        rows.append(("de", 10_000 + i, float(i % 3)))
    rows.append(("xx", 99_999, 7.0))  # single-row group -> pr = 0.0
    df = spark.createDataFrame(rows, "lang string, doc_id long, s double")

    order = [F.desc("s"), F.asc("doc_id")]
    got = {
        r.doc_id: r.pr
        for r in distributed_percent_rank(
            df, "lang", order, out="pr", num_partitions=7
        ).collect()
    }
    want = {
        r.doc_id: r.pr
        for r in df.withColumn(
            "pr",
            F.percent_rank().over(Window.partitionBy("lang").orderBy(*order)),
        ).collect()
    }
    assert got == want  # exact float equality, not approx
    assert want[99_999] == 0.0
    # scale shape: the ROW-level ranking window partitions by
    # (lang, _pid) — never by lang alone (the remaining lang-only
    # windows in the plan run over the aggregated (lang, pid) count
    # frame, bounded by num_partitions rows per lang)
    import re

    plan = distributed_percent_rank(
        df, "lang", order, num_partitions=7
    )._jdf.queryExecution().optimizedPlan().toString()
    rn = re.search(r"row_number\(\) windowspecdefinition\(([^)]*)", plan)
    assert rn and "_pid#" in rn.group(1), (
        f"ranking window lost its range-partition key: {rn}")


def test_distributed_percent_rank_keeps_null_groups(spark):
    """NULL group rows must survive and rank within their own NULL
    partition, exactly like Window.partitionBy (review round 5: the
    plain equi join dropped them)."""
    from pyspark.sql import Window

    from incident_pii_redactor_spark.functions.rank import (
        distributed_percent_rank,
    )

    rows = [(i, None if i % 3 == 0 else f"g{i % 2}", float(i))
            for i in range(30)]
    df = spark.createDataFrame(rows, "id long, lang string, score double")
    got = distributed_percent_rank(df, "lang", ["score", "id"],
                                   out="pr", num_partitions=4)
    w = Window.partitionBy("lang").orderBy("score", "id")
    exp = df.withColumn("pr", F.percent_rank().over(w))
    g = {r.id: r.pr for r in got.collect()}
    e = {r.id: r.pr for r in exp.collect()}
    assert g == e  # includes every NULL-group row, bit-identical


def test_embedding_trainers_tolerate_null_vectors(spark):
    """One NULL embedding row must not kill training (review round 5)."""
    import numpy as np

    from incident_pii_redactor_spark.functions.similarity import (
        kmeans_fit,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(40)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert train_ivf_centroids(df, n_list=4).shape[1] == 8
    books = train_pq_codebooks(df, m=2, ksub=4)
    assert len(books) == 2
    cents = kmeans_fit(df, k=3, n_iter=2)
    assert cents.shape == (3, 8)


SF01 = "/root/testdata/sf0.01"


def _rand_rows(ids, dim, seed=5):
    import numpy as np

    rng = np.random.RandomState(seed)
    return [(i, [float(x) for x in rng.randn(dim)]) for i in ids]


def test_embedding_null_row_gets_null_outputs(spark):
    """A NULL embedding passes through the assignment UDFs with NULL
    outputs instead of failing the task or taking the zero vector's
    code, and SemDeDup keeps it."""
    from incident_pii_redactor_spark.functions.similarity import (
        kmeans_assign, kmeans_fit, pq_codes, semdedup)

    df = spark.createDataFrame(_rand_rows(range(40), 8) + [(99, None)],
                               "vec_id long, embedding array<float>")
    pq_rows = {r.vec_id: r for r in pq_codes(df, m=2, ksub=4).collect()}
    assert pq_rows[99].code is None and pq_rows[99].recon_err is None
    assert all(r.code and r.recon_err is not None
               for i, r in pq_rows.items() if i != 99)
    km = {r.vec_id: r for r in
          kmeans_assign(df, kmeans_fit(df, k=3, n_iter=2)).collect()}
    assert km[99].cluster is None and km[99].dist is None
    sd = {r.vec_id: r for r in semdedup(df, k=3, n_iter=2).collect()}
    assert len(sd) == 41
    assert sd[99].cluster is None and sd[99].keep is True


RAGGED_CALLS = {
    "ivf_ann_topk": lambda S, df: S.ivf_ann_topk(df, [1.0] * 8, n_list=4),
    "pq_codes": lambda S, df: S.pq_codes(df, m=2, ksub=4),
    "semdedup": lambda S, df: S.semdedup(df, k=3, n_iter=2),
    "embedding_near_dup_pairs": lambda S, df: S.embedding_near_dup_pairs(df),
}


@pytest.mark.parametrize("entry", sorted(RAGGED_CALLS))
def test_ragged_embedding_column_fails_loudly(spark, entry):
    """Vectors of two lengths in one partition fail the first UDF that
    reads them with a ValueError naming both lengths (np.stack used to
    raise an unnamed shape error, or reshape them misaligned)."""
    from incident_pii_redactor_spark.functions import similarity as S

    rows = _rand_rows(range(20), 8) + _rand_rows(range(20, 40), 6)
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").coalesce(1)
    with pytest.raises(Exception, match=r"ValueError: ragged embedding "
                                        r"column: vector lengths \[6, 8\]"):
        RAGGED_CALLS[entry](S, df).collect()


def test_near_dup_pairs_catch_ragged_rows_across_partitions(spark):
    """Each partition uniform, the column ragged: no batch sees two
    lengths, so the band-key UDF cannot tell; the min/max length observed
    on the band-key materialization raises on the driver before any
    pair is scored."""
    from incident_pii_redactor_spark.functions.similarity import (
        embedding_near_dup_pairs)

    schema = "vec_id long, embedding array<float>"
    df = spark.createDataFrame(_rand_rows(range(20), 8), schema).union(
        spark.createDataFrame(_rand_rows(range(20, 40), 6), schema))
    with pytest.raises(ValueError,
                       match=r"ragged embedding column: vector lengths "
                             r"\[6, 8\]"):
        embedding_near_dup_pairs(df)


def test_embedding_paths_spark_job_counts(spark):
    """Spark jobs per embedding path at sf0.01, counted as
    test_scrub_job_count does. No path probes the column's dim with a
    head() job: UDFs read it off their batch, trainers off the
    centroids they collect, and embedding_near_dup_pairs observes it on
    the band-key checkpoint. Each count was one higher with the probe."""
    from incident_pii_redactor_spark.functions import similarity as S

    e = spark.read.parquet(f"{SF01}/embeddings.parquet")
    sc = spark.sparkContext
    paths = {
        "train_ivf_centroids": (lambda: S.train_ivf_centroids(e), 2),
        "train_pq_codebooks": (lambda: S.train_pq_codebooks(e), 2),
        "kmeans_fit": (lambda: S.kmeans_fit(e, k=8, n_iter=3), 8),
        "semdedup": (lambda: S.semdedup(e).collect(), 13),
        "embedding_near_dup_pairs":
            (lambda: S.embedding_near_dup_pairs(e).collect(), 6),
        "pq_codes": (lambda: S.pq_codes(e).collect(), 3),
    }
    got = {}
    for name, (run, _) in paths.items():
        group = f"emb_jobs_{name}"
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert got == {name: n for name, (_, n) in paths.items()}


@pytest.mark.parametrize("query", ["emb_ann_methods", "emb_pq_codes",
                                   "emb_semdedup"])
def test_fixture_backed_embedding_query_matches_oracle(spark, query):
    """The Spark side of the golden-fixture embedding queries against
    their oracle SQL at sf0.01, hashed as tools/check_correctness.py
    does. The fixtures are numpy replays that never call the Spark code,
    so regenerating them cannot catch a Spark-side drift; this can."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_correctness import row_keys, value_hash

    sdf = entry.queries()[query](spark, SF01)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{SF01}/embeddings.parquet')")
    orel = con.sql(entry.oracle_sql()[query])
    srows = [tuple(r) for r in sdf.collect()]
    orows = orel.fetchall()
    assert len(srows) == len(orows)
    assert value_hash(sorted(row_keys(srows, sdf.columns))) == \
        value_hash(sorted(row_keys(orows, orel.columns)))
