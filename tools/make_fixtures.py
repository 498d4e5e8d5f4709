"""Generate golden-oracle parquet fixtures for the two driver queries that
have no SQL-expressible DuckDB twin (VERDICT.md round-1 item #4):

* ``scrub_documents`` — expected output of the fused quality+scrub stage
  on the sf0.01 ``documents`` table, computed by the shared pure-pandas
  core (``operators.scrub._process_batch`` — the same function the Spark
  ``mapInPandas`` stage runs per batch; it is row-independent, so one
  whole-table batch equals any Spark batching). This is the repo's
  established byte-identity pattern: core/ shared verbatim between the
  Spark UDF and the single-node oracle (CLAUDE.md).

* ``emb_lsh_ann`` — expected sign-LSH top-k on the sf0.01 ``embeddings``
  table, computed WITHOUT Spark by replaying the bucket spec
  (``functions.similarity._hyperplanes`` + sign bits + Hamming-1 probes)
  and emulating the Spark Column fold op-for-op: per-element double
  products, sequential left-fold adds, sqrt, divide, then
  BigDecimal-HALF_UP rounding to 6 places (= ``F.round(double, 6)``).

The DuckDB twins in ``__spark_entry__.oracle_sql()`` are then plain
``SELECT ... FROM read_parquet(<fixture>)``; the driver's gate hashes
them against the live Spark run at sf0.01.

Usage: python tools/make_fixtures.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import decimal
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def spark_round6(x: float) -> float:
    """F.round(double, 6): Java BigDecimal.valueOf(x) (shortest decimal
    repr, = Python repr) then setScale(6, HALF_UP)."""
    return float(
        decimal.Decimal(repr(float(x))).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def fold_dot(a, b) -> float:
    """Emulate F.aggregate(zip_with(a,b,x*y), 0.0, acc+v): per-element
    double product, then sequential left-fold addition."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (float(x) * float(y))
    return acc


def fold_norm(a) -> float:
    acc = 0.0
    for x in a:
        acc = acc + (float(x) * float(x))
    return float(np.sqrt(acc))


def make_scrub_fixture(sf_dir: str, out_path: str) -> int:
    import duckdb

    from incident_pii_redactor_spark.operators.scrub import _process_batch
    from incident_pii_redactor_spark.quality.scorer import DRIVER_DOCS

    pdf = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).df()
    out = _process_batch(pdf, "text", ("doc_id",), DRIVER_DOCS,
                         scrub_dropped=False)
    table = pa.table({
        "doc_id": pa.array(out["doc_id"].astype("int64"), pa.int64()),
        "lang_pred": pa.array(out["lang_pred"].astype(object), pa.string()),
        "ppl": pa.array(out["ppl"].astype("float64"), pa.float64()),
        "word_count": pa.array(out["word_count"].astype("int64"), pa.int64()),
        "keep": pa.array(out["keep"].astype(bool), pa.bool_()),
        "drop_reason": pa.array(out["drop_reason"].astype(object), pa.string()),
        "text_scrubbed": pa.array(
            [None if v is pd.NA or v is None else str(v)
             for v in out["text_scrubbed"]], pa.string()),
        "n_redactions": pa.array(out["n_redactions"].astype("int64"), pa.int64()),
        "residual_pii": pa.array(out["residual_pii"].astype("int64"), pa.int64()),
        "quality_score": pa.array(out["quality_score"].astype("float64"),
                                  pa.float64()),
    })
    pq.write_table(table, out_path)
    return len(out)


def make_lsh_ann_fixture(sf_dir: str, out_path: str, k: int = 10,
                         n_planes: int = 8, seed: int = 42) -> int:
    import duckdb

    from incident_pii_redactor_spark.functions.similarity import _hyperplanes

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    by_id = {int(r[0]): r[1] for r in rows}
    qv = by_id[0]
    dim = len(qv)
    planes = _hyperplanes(dim, n_planes, seed)

    def sig_of(vec) -> int:
        v = np.asarray(vec, dtype=np.float64)
        s = 0
        for b in range(n_planes):
            if float(planes[b] @ v) > 0:
                s |= 1 << b
        return s

    qsig = sig_of(qv)
    probes = {qsig} | {qsig ^ (1 << b) for b in range(n_planes)}
    qn = fold_norm(qv)
    scored = []
    for vid, vec in by_id.items():
        if vid == 0:
            continue
        # same bucket rule as signbit_bucket_udf (matmul sign bits)
        v = np.asarray(vec, dtype=np.float64)
        signs = (v @ planes.T) > 0
        bucket = 0
        for b in range(n_planes):
            if signs[b]:
                bucket |= 1 << b
        if bucket not in probes:
            continue
        cos = fold_dot(vec, qv) / (fold_norm(vec) * qn)
        scored.append((vid, spark_round6(cos)))
    scored.sort(key=lambda t: (-t[1], t[0]))
    top = scored[:k]
    table = pa.table({
        "vec_id": pa.array([t[0] for t in top], pa.int64()),
        "cos_sim": pa.array([t[1] for t in top], pa.float64()),
    })
    pq.write_table(table, out_path)
    return len(top)


def make_ivf_ann_fixture(sf_dir: str, out_path: str, k: int = 10,
                         n_list: int = 16, n_probe: int = 4,
                         seed: int = 42) -> int:
    """Replay ``functions.similarity.ivf_ann_topk`` without Spark.
    Bit-determinism rests on train_ivf_centroids sorting each bucket by
    vec_id before the numpy mean (pairwise summation is order-sensitive)
    — this replay uses the same numpy calls on the same sorted input, so
    centroids, probe sets, assignments, and fold-cosines all match."""
    import math

    import duckdb

    from incident_pii_redactor_spark.functions.similarity import _hyperplanes

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    by_id = {int(r[0]): r[1] for r in rows}
    qv = by_id[0]
    dim = len(qv)
    corpus = [(vid, v) for vid, v in sorted(by_id.items()) if vid != 0]

    # --- train_ivf_centroids: sign-bucket, sort by id, numpy mean ---
    n_planes = max(1, int(math.log2(n_list)))
    planes = _hyperplanes(dim, n_planes, seed)
    buckets: dict[int, list] = {}
    for vid, vec in corpus:  # already vec_id-sorted
        v = np.asarray(vec, dtype=np.float64)
        signs = (v @ planes.T) > 0  # same matmul rule as signbit_bucket_udf
        b = 0
        for p in range(n_planes):
            if signs[p]:
                b |= 1 << p
        buckets.setdefault(b, []).append(v)
    centroids = np.array(
        [np.stack(buckets[b]).mean(axis=0) for b in sorted(buckets)])

    # --- ivf_ann_topk driver-side probe selection ---
    qvn = np.asarray(qv, dtype=np.float64)
    qn_unit = qvn / max(float(np.linalg.norm(qvn)), 1e-12)
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    probes = {int(i) for i in (cn @ qn_unit).argsort()[::-1][:n_probe]}

    # --- assignment + exact fold-cosine scoring of probed lists ---
    qn = fold_norm(qv)
    scored = []
    for vid, vec in corpus:
        v = np.asarray(vec, dtype=np.float64)
        vu = v / max(float(np.linalg.norm(v)), 1e-12)
        if int((vu @ cn.T).argmax()) not in probes:
            continue
        cos = fold_dot(vec, qv) / (fold_norm(vec) * qn)
        scored.append((vid, spark_round6(cos)))
    scored.sort(key=lambda t: (-t[1], t[0]))
    top = scored[:k]
    table = pa.table({
        "vec_id": pa.array([t[0] for t in top], pa.int64()),
        "cos_sim": pa.array([t[1] for t in top], pa.float64()),
    })
    pq.write_table(table, out_path)
    return len(top)


def make_pq_fixture(sf_dir: str, out_path: str, m: int = 4,
                    ksub: int = 16, seed: int = 42) -> int:
    """Replay ``functions.similarity.pq_codes`` without Spark: same
    sign-bucket codebook training (per-subspace planes seeded seed+j,
    buckets from a whole-corpus matmul, per-bucket mean over vec_id-
    sorted full vectors sliced to the subspace) and the same
    ||c||^2 - 2 x.c argmin encode. At sf0.01 the 500-row corpus is one
    Arrow batch, so these whole-corpus numpy calls are literally the
    calls the pandas UDFs make."""
    import duckdb

    from incident_pii_redactor_spark.functions.similarity import _hyperplanes

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([int(r[0]) for r in rows])
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    dim = mat.shape[1]
    dsub = dim // m
    n_planes = max(1, int(math_log2_int(ksub)))
    planes_arr = np.stack([_hyperplanes(dsub, n_planes, seed + j)
                           for j in range(m)])

    # --- train: bucket per subspace (batch matmul), sorted-mean ---
    books = []
    for j in range(m):
        sub = mat[:, j * dsub:(j + 1) * dsub]
        signs = (sub @ planes_arr[j].T) > 0
        buckets = signs @ (1 << np.arange(n_planes))
        cents = []
        for b in sorted(set(int(x) for x in buckets)):
            grp = mat[buckets == b]  # ids are pre-sorted ascending
            cents.append(grp[:, j * dsub:(j + 1) * dsub].mean(axis=0))
        books.append(np.array(cents))

    # --- encode: same d2 expression, argmin, reconstruction ---
    codes = np.zeros((len(mat), m), dtype=np.int32)
    recon = np.zeros_like(mat)
    for j in range(m):
        sub = mat[:, j * dsub:(j + 1) * dsub]
        c = books[j]
        d2 = (c * c).sum(axis=1)[None, :] - 2.0 * (sub @ c.T)
        codes[:, j] = d2.argmin(axis=1)
        recon[:, j * dsub:(j + 1) * dsub] = c[codes[:, j]]
    err = np.sqrt(((mat - recon) ** 2).sum(axis=1))

    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "code": pa.array(["|".join(str(int(x)) for x in row)
                          for row in codes], pa.string()),
        "recon_err": pa.array([spark_round6(e) for e in err], pa.float64()),
    })
    pq.write_table(table, out_path)
    return len(ids)


def math_log2_int(x: int) -> int:
    import math

    return int(math.log2(x))


def _load_embeddings(sf_dir: str):
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([int(r[0]) for r in rows])
    # float32 first: the Spark UDFs stack Arrow float32 then upcast
    mat = np.stack([np.asarray(r[1], dtype=np.float32)
                    for r in rows]).astype(np.float64)
    return ids, mat, rows


def _kmeans_replay(mat, k: int, n_iter: int, seed: int):
    """Replay ``functions.similarity.kmeans_fit`` + assignment without
    Spark: same sign-bucket init (n_planes+1 bits, k most-populated
    buckets, ties -> lower bucket), same argmin assign, same row-sorted
    float64 means, empty clusters keep their centroid."""
    import math

    from incident_pii_redactor_spark.functions.similarity import _hyperplanes

    dim = mat.shape[1]
    n_planes = max(1, int(math.log2(max(2, k))))
    planes = _hyperplanes(dim, n_planes + 1, seed)
    signs = (mat @ planes.T) > 0
    buckets = signs @ (1 << np.arange(n_planes + 1))
    stats = []
    for b in sorted(set(int(x) for x in buckets)):
        m = buckets == b
        stats.append((int(m.sum()), b,
                      mat[m].mean(axis=0)))  # ids pre-sorted ascending
    stats.sort(key=lambda t: (-t[0], t[1]))
    cents = np.array([c for _, _, c in stats[:k]])
    for _ in range(n_iter):
        d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (mat @ cents.T)
        cl = d2.argmin(axis=1)
        new = cents.copy()
        for b in range(k):
            m = cl == b
            if m.any():
                new[b] = mat[m].mean(axis=0)
        cents = new
    d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (mat @ cents.T)
    return cents, d2.argmin(axis=1)


def make_kmeans_fixture(sf_dir: str, out_path: str, k: int = 8,
                        n_iter: int = 3, seed: int = 42) -> int:
    ids, mat, _ = _load_embeddings(sf_dir)
    cents, cl = _kmeans_replay(mat, k, n_iter, seed)
    diff = mat - cents[cl]
    dist = np.sqrt((diff * diff).sum(axis=1))
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "cluster": pa.array(cl.astype("int64"), pa.int64()),
        "dist": pa.array([spark_round6(x) for x in dist], pa.float64()),
    })
    pq.write_table(table, out_path)
    return len(ids)


def make_semdedup_fixture(sf_dir: str, out_path: str, k: int = 8,
                          n_iter: int = 3, threshold: float = 0.40,
                          seed: int = 42) -> int:
    """Replay ``functions.similarity.semdedup``: kmeans assignment, then
    within-cluster pairwise fold-cosine (the column-sequential op order
    of _verify_pairs_arrow == fold_dot/fold_norm), spark_round6, min-id-
    wins keep."""
    ids, mat, rows = _load_embeddings(sf_dir)
    _, cl = _kmeans_replay(mat, k, n_iter, seed)
    vec_by_id = {int(r[0]): r[1] for r in rows}
    by_cluster = {}
    for i, vid in enumerate(ids):
        by_cluster.setdefault(int(cl[i]), []).append(int(vid))
    dropped = set()
    for members in by_cluster.values():
        members.sort()
        norms = {v: fold_norm(vec_by_id[v]) for v in members}
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                denom = norms[a] * norms[b]
                if denom == 0:
                    continue
                cos = spark_round6(
                    fold_dot(vec_by_id[a], vec_by_id[b]) / denom)
                if cos >= threshold:
                    dropped.add(b)
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "cluster": pa.array([int(c) for c in cl], pa.int64()),
        "keep": pa.array([int(v) not in dropped for v in ids], pa.bool_()),
    })
    pq.write_table(table, out_path)
    return len(ids)


def make_bpe_fixture(sf_dir: str, out_path: str,
                     n_merges: int = 12) -> int:
    """Replay functions.bpe.train_bpe via the SHARED pure-Python merge
    loop over DuckDB's word counts (word-split parity with Spark's
    words(lower(text)) is pinned by the SQL-twinned token queries)."""
    import duckdb

    from incident_pii_redactor_spark.functions.bpe import (
        train_bpe_from_counts)

    rows = duckdb.sql(
        f"""SELECT w, COUNT(*) AS n FROM (
              SELECT unnest(list_filter(
                  string_split_regex(lower(text), '\\s+'),
                  x -> x <> '')) AS w
              FROM read_parquet('{sf_dir}/documents.parquet'))
            GROUP BY w"""
    ).fetchall()
    merges = train_bpe_from_counts([(w, int(n)) for w, n in rows], n_merges)
    table = pa.table({
        "rank": pa.array(range(1, len(merges) + 1), pa.int64()),
        "left": pa.array([m[0] for m in merges], pa.string()),
        "right": pa.array([m[1] for m in merges], pa.string()),
        "pair_count": pa.array([m[2] for m in merges], pa.int64()),
    })
    pq.write_table(table, out_path)
    return len(merges)


def make_compression_fixture(sf_dir: str, out_path: str) -> int:
    """Replay quality/compression.py without Spark: same zlib level on
    the same utf-8 bytes; ratio = exact double division."""
    import duckdb

    from incident_pii_redactor_spark.quality.compression import (
        LEVEL, _lens)

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    recs = []
    for did, text in rows:
        raw, comp = _lens(text if isinstance(text, str) else "")
        ratio = (comp / raw) if raw > 0 else 0.0
        recs.append((int(did), raw, comp, ratio,
                     0.30 <= ratio <= 0.99))
    table = pa.table({
        "doc_id": pa.array([r[0] for r in recs], pa.int64()),
        "raw_len": pa.array([r[1] for r in recs], pa.int64()),
        "comp_len": pa.array([r[2] for r in recs], pa.int64()),
        "ratio": pa.array([r[3] for r in recs], pa.float64()),
        "keep": pa.array([r[4] for r in recs], pa.bool_()),
    })
    pq.write_table(table, out_path)
    return len(recs)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "tests", "fixtures")
    os.makedirs(out_dir, exist_ok=True)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    n1 = make_scrub_fixture(
        sf_dir, os.path.join(out_dir, f"scrub_documents_{sf_tag}.parquet"))
    n2 = make_lsh_ann_fixture(
        sf_dir, os.path.join(out_dir, f"emb_lsh_ann_{sf_tag}.parquet"))
    n3 = make_ivf_ann_fixture(
        sf_dir, os.path.join(out_dir, f"emb_ivf_ann_{sf_tag}.parquet"))
    n4 = make_pq_fixture(
        sf_dir, os.path.join(out_dir, f"emb_pq_codes_{sf_tag}.parquet"))
    n5 = make_compression_fixture(
        sf_dir, os.path.join(out_dir, f"doc_compression_ratio_{sf_tag}.parquet"))
    n6 = make_kmeans_fixture(
        sf_dir, os.path.join(out_dir, f"emb_kmeans_{sf_tag}.parquet"))
    n7 = make_semdedup_fixture(
        sf_dir, os.path.join(out_dir, f"emb_semdedup_{sf_tag}.parquet"))
    n8 = make_bpe_fixture(
        sf_dir, os.path.join(out_dir, f"doc_bpe_merges_{sf_tag}.parquet"))
    print(f"wrote scrub_documents_{sf_tag}.parquet ({n1} rows), "
          f"emb_lsh_ann_{sf_tag}.parquet ({n2} rows), "
          f"emb_ivf_ann_{sf_tag}.parquet ({n3} rows), "
          f"emb_pq_codes_{sf_tag}.parquet ({n4} rows), "
          f"doc_compression_ratio_{sf_tag}.parquet ({n5} rows), "
          f"emb_kmeans_{sf_tag}.parquet ({n6} rows), "
          f"emb_semdedup_{sf_tag}.parquet ({n7} rows), "
          f"doc_bpe_merges_{sf_tag}.parquet ({n8} merges) to {out_dir}")


if __name__ == "__main__":
    main()
