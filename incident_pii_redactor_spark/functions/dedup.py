"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard.

All scale-bearing parts are Catalyst expressions or key-partitioned
joins; the only shuffle in each is the groupBy/join on the (small)
signature key. Hash functions are md5-based so the DuckDB oracle can
reproduce signatures bit-for-bit (Spark ``xxhash64`` has no DuckDB twin).

Scale design:
* exact dedup = one hash-aggregate on md5(text) — map-side partial
  aggregation makes the shuffle carry (hash, count, min_id), not text.
* MinHash LSH = signatures per doc (narrow), then one key per (doc,
  band) — the band id followed by that band's minhashes, exact — and
  ``band_pairs``, the candidate-pair skeleton embedding LSH shares: a
  self equi-join on the key, candidate pairs only; never all-pairs.
  Minhashes are uniform, so the join keys are too — no skew.
* Jaccard verify = the candidate pairs, spread over every slot by
  ``band_pairs``, broadcast-joined to their shingle sets: one
  ``array_intersect`` per pair (the union size is derived from it).
* SimHash = 64-bit signature, bucket on 4x16-bit sub-bands (Hamming
  neighbors share a band with prob 1 for distance <= band count - 1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def content_hash(text: str | Column = "text") -> Column:
    """Exact-dup key. DuckDB twin: ``md5(text)``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def md5_int(c: Column, modulus: int) -> Column:
    """THE engine-portable string->int hash: first 15 hex chars of md5 as
    a 60-bit int, mod ``modulus``. Shared by shingle hashing, sampling,
    and the KMV sketch so the recipe (and its DuckDB twin
    ``('0x' || substr(md5(x), 1, 15))::BIGINT % m``) lives in one place.
    (simhash64 keeps its own documented decimal-intermediate variant.)"""
    return F.pmod(
        F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long"),
        F.lit(modulus),
    )


def exact_dedup_stats(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Groups of byte-identical docs: (content_hash, n_dups, keeper_id).
    One shuffle on the 32-hex key; partial agg map-side."""
    return (
        df.groupBy(content_hash(text_col).alias("h"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_dups") > 1)
    )


# --- MinHash ---------------------------------------------------------------

def word_shingles(text_col: str, n: int = 3) -> Column:
    """Array of n-word shingles, built O(total words) via zip_with chains
    (a slice-per-index construction is O(words^2) per doc — measured 6 ms/doc
    on ~90-word docs before this rewrite). DuckDB twin:
    ``[array_to_string(w[i:i+n-1], ' ') for i in range(1, len(w)-n+2)]`` —
    different construction, byte-identical shingle strings."""
    w = F.split(F.col(text_col), " ")
    acc = w
    for k in range(2, n + 1):
        nxt = F.slice(w, k, F.greatest(F.size(w) - (k - 1), F.lit(1)))
        acc = F.zip_with(
            F.slice(acc, 1, F.greatest(F.size(w) - (k - 1), F.lit(1))),
            nxt,
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    # guard: short docs must yield an empty shingle set like DuckDB's
    # range() does (and zip_with pads with nulls)
    return F.when(F.size(w) >= n, acc).otherwise(
        F.array().cast("array<string>")
    )


# universal-hash parameters: perm_i(h) = (A[i]*h + B[i]) mod P over base
# hash h = md5-derived 30-bit int. Deterministic, engine-portable integers.
_MH_P = (1 << 31) - 1
_MH_M = 1 << 30


def _mh_params(n_perm: int) -> tuple[list[int], list[int]]:
    a = [(2 * i + 1) * 2654435761 % _MH_P for i in range(n_perm)]
    b = [(i * 40503 + 7) % _MH_P for i in range(n_perm)]
    return a, b


def shingle_base_hashes(text_col: str, n: int = 3) -> Column:
    """One md5 per shingle -> 30-bit int. All n_perm permutations derive
    from this single pass (md5 is the expensive part; computing n_perm
    independent md5s per shingle was 8x the work)."""
    sh = word_shingles(text_col, n)
    return F.transform(sh, lambda s: md5_int(s, _MH_M))


def minhash_signature(text_col: str = "text", n: int = 3,
                      n_perm: int = 8) -> Column:
    """Array of n_perm MinHash values in ONE aggregate pass.

    Single-expression design matters: n_perm separate array_min(transform(
    shingles, ...)) columns each re-inline the shingle construction under
    Catalyst's CollapseProject — n_perm x redundant md5 work. Here shingles
    are hashed once (shingle_base_hashes) and the fold updates all n_perm
    running minima per element. DuckDB twin reproduces the exact integers
    via ('0x' || substr(md5(s),1,15))::BIGINT and the same (A*h+B) mod P.
    """
    A, B = _mh_params(n_perm)
    a_col = F.array(*[F.lit(x).cast("long") for x in A])
    b_col = F.array(*[F.lit(x).cast("long") for x in B])
    init = F.array(*[F.lit(_MH_P).cast("long")] * n_perm)

    def step(acc: Column, h: Column) -> Column:
        return F.transform(
            acc,
            lambda x, i: F.least(
                x,
                F.pmod(
                    F.element_at(a_col, i + 1) * h + F.element_at(b_col, i + 1),
                    F.lit(_MH_P),
                ),
            ),
        )

    return F.aggregate(shingle_base_hashes(text_col, n), init, step)


def band_pairs(keys: DataFrame, spread: bool = False) -> DataFrame:
    """The banded-LSH candidate-pair skeleton shared by MinHash and
    embedding LSH: ``(_id, band_key)`` rows, one per document and band,
    -> distinct ``(id_a, id_b)`` pairs with ``id_a < id_b`` of documents
    that share at least one key. Each key must encode its band id AND
    that band's values exactly — never a hash of them: a collision would
    add candidate pairs (and so change unverified dedup output). The join
    is a single-column equi-join — never a cross join — and the
    ``distinct`` dedupes pairs that agree in several bands over narrow
    (two-id) rows.

    ``spread=True`` hash-partitions the pairs on ``(id_a, id_b)`` into
    max(``defaultParallelism``, the key checkpoint's partition count)
    partitions just before the ``distinct``, so the verify that inherits
    them through its broadcast joins uses every slot: AQE merges a few
    thousand narrow pairs into one task, but never an explicit-count
    repartition, and ``distinct`` needs no further exchange on it. The
    price is the map-side partial ``distinct``: every join row crosses
    the shuffle. MinHash LSH takes it (4 bands, so few repeats, and a
    Jaccard per pair that ran in one task); embedding LSH does not (its
    40 bands give ~10 join rows per pair at sf0.1, the query ran 30-50%
    slower with it, and AQE already splits that verify over several
    tasks)."""
    from incident_pii_redactor_spark.plans.session import planned_partitions

    # Materialization barrier: without it Catalyst inlines the signature
    # or band-key expression into BOTH join sides (measured 31 s -> ~3 s
    # on 5k docs for MinHash; 9.9 s -> 7.8 s warm at sf0.1 for the
    # embedding UDF). localCheckpoint, not persist: it severs the lineage
    # eagerly and its blocks are released when the DataFrame is
    # garbage-collected, so repeated calls in a long-lived session leak
    # nothing (a persist had no unpersist point: the caller owns the
    # action). At real scale persist signatures to a table instead.
    keys = keys.localCheckpoint(eager=True)
    a = keys.select(F.col("_id").alias("id_a"), "band_key")
    b = keys.select(F.col("_id").alias("id_b"), "band_key")
    pairs = (
        a.join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if spread:
        pairs = pairs.repartition(
            max(keys.sparkSession.sparkContext.defaultParallelism,
                planned_partitions(keys)), "id_a", "id_b")
    return pairs.distinct()


def minhash_band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_perm: int = 8,
    bands: int = 4,
) -> DataFrame:
    """``(_id, band_key)`` rows, one per shingleable document and band:
    the band id followed by that band's ``n_perm // bands`` minhashes,
    as one exact ``array<bigint>`` (equal values in different bands
    never meet). The input of ``band_pairs``."""
    if bands < 1 or n_perm % bands:
        raise ValueError(
            f"bands ({bands}) must be >= 1 and divide n_perm ({n_perm}) "
            "— trailing minhashes would silently be ignored"
        )
    rows_per_band = n_perm // bands
    from incident_pii_redactor_spark.plans.session import (
        scan_parallelism_floor)

    # floor the scan parallelism BEFORE the signature projection: a
    # single-row-group parquet source is one unsplittable task, which
    # serialized the whole md5-per-shingle pass on one core (no-op at
    # real scale — see scan_parallelism_floor)
    base = scan_parallelism_floor(
        df.select(F.col(id_col).alias("_id"), F.col(text_col)))
    sig = base.select("_id",
                      minhash_signature(text_col, n, n_perm).alias("_sig"))
    # Docs too short to shingle (and NULL text) keep the sentinel
    # signature [P]*n_perm: they get no band keys, or every such doc
    # would collide with every other in all bands (an O(k^2) bucket AND
    # mass false near-dups: a dedup job would delete k-1 unrelated short
    # docs). The sentinel test lives INSIDE the generator — a NULL array
    # explodes to no rows — because a .filter on _sig is pushed below
    # the Project that computes it, and the MinHash fold then runs twice
    # per page (once in the Filter, once in the Project).
    band_keys = F.array(*[
        F.concat(F.array(F.lit(b).cast("long")),
                 F.slice("_sig", b * rows_per_band + 1, rows_per_band))
        for b in range(bands)
    ])
    shingled = F.element_at("_sig", 1) != F.lit(_MH_P).cast("long")
    return sig.select(
        "_id", F.explode(F.when(shingled, band_keys)).alias("band_key"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_perm: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs via banding: docs sharing any band of
    rows_per_band consecutive minhashes. Returns (id_a, id_b) distinct
    CANDIDATE pairs with id_a < id_b — banding has false positives
    (P ~ 1-(1-s^rows_per_band)^bands for true shingle-Jaccard s), so
    dedup decisions should verify candidates with ``jaccard_on_pairs``
    (jobs/dedup.py always does). Pairs come from ``band_pairs`` over
    ``minhash_band_keys``."""
    return band_pairs(
        minhash_band_keys(df, id_col, text_col, n, n_perm, bands),
        spread=True)


# --- paragraph-level dedup ---------------------------------------------------

def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """CCNet-style PARAGRAPH-level dedup (Wenzek et al. 2020): drop every
    repeated non-empty paragraph corpus-wide (keeper = first occurrence
    by (id, paragraph index)), reassemble surviving documents in
    original paragraph order. Returns (id_col, text_dedup,
    n_paras_kept); documents whose every paragraph was seen elsewhere
    are ABSENT from the result — exactly CCNet's behavior on mirrors.

    Scale shape: one shuffle keyed by md5(paragraph) for the
    first-occurrence window (high-entropy key — no skew), one shuffle by
    id for reassembly; paragraph fan-out is linear in input bytes."""
    from pyspark.sql import Window

    paras = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(text_col, "\n")).alias("idx", "para"),
    ).filter(F.trim("para") != "")
    w = Window.partitionBy(F.md5("para")).orderBy("_id", "idx")
    first = paras.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    return (
        first.groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "para"))),
                    lambda s: s["para"],
                ),
                "\n",
            ).alias("text_dedup"),
            F.count("*").alias("n_paras_kept"),
        )
        .withColumnRenamed("_id", id_col)
    )


# --- winnowing fingerprints ---------------------------------------------------

def winnow_fingerprints(text_col: str = "text", n: int = 3,
                        window: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): rolling k-gram hashes, then the
    minimum of every ``window`` consecutive hashes, deduplicated. Unlike
    a whole-document digest (``functions.text.fingerprint``), winnowed
    fingerprints survive insertions/reorders: any shared run of
    ``n + window - 1`` words between two docs is guaranteed to share a
    fingerprint. Reuses the md5-derived shingle hashes the MinHash
    operators use, so the DuckDB twin reproduces the integers exactly.

    Pure Catalyst expression, O(words × window) per doc, no shuffle.
    Docs shorter than ``window`` shingles contribute their single global
    minimum; unshingleable docs yield an empty set."""
    h = shingle_base_hashes(text_col, n)
    # NB sequence(1, 0) counts DOWN in Spark — the CASE guard keeps the
    # descending-range branch from ever evaluating
    idx = F.sequence(F.lit(1), F.size(h) - (window - 1))
    fps = (
        F.when(
            F.size(h) >= window,
            F.transform(idx, lambda i: F.array_min(F.slice(h, i, window))),
        )
        .when(F.size(h) > 0, F.array(F.array_min(h)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return F.array_sort(F.array_distinct(fps))


# --- n-gram Jaccard (verification of candidate pairs) -----------------------

def jaccard_on_pairs(
    pairs: DataFrame, docs: DataFrame,
    id_col: str = "doc_id", text_col: str = "text", n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs only (broadcast-scale pair
    lists join back to docs; the expensive set math runs on candidates,
    not the corpus)."""
    from incident_pii_redactor_spark.plans.session import (
        scan_parallelism_floor)

    # parallelism floor before the shingle-set projection (single-task
    # otherwise on a one-row-group source; no-op at scale)
    sh = scan_parallelism_floor(
        docs.select(F.col(id_col).alias("_jid"), F.col(text_col))
    ).select(
        "_jid",
        F.array_distinct(word_shingles(text_col, n)).alias("_sh"),
    )
    j = (
        pairs.join(sh.withColumnRenamed("_jid", "id_a")
                     .withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_jid", "id_b")
                .withColumnRenamed("_sh", "sh_b"), "id_b")
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B|, exact for the array_distinct sets,
    # so each pair builds ONE hash set. The intersection size is bound
    # once through a one-element transform: a caller's ``jaccard >= t``
    # filter is pushed into the broadcast-join condition, where a plain
    # ``sa + sb - inter`` would re-run array_intersect at every mention.
    size_a, size_b = F.size("sh_a"), F.size("sh_b")
    jaccard = F.element_at(F.transform(
        F.array(F.size(F.array_intersect("sh_a", "sh_b"))),
        lambda i: F.when(size_a + size_b - i > 0,
                         i / (size_a + size_b - i)).otherwise(F.lit(0.0)),
    ), 1)
    return j.select("id_a", "id_b", jaccard.alias("jaccard"))


# --- SimHash ----------------------------------------------------------------

def simhash64(text_col: str | Column = "text") -> Column:
    """60-bit SimHash over word unigrams: per-word hash = first 15 hex
    chars of md5(word) as an int (DuckDB-twin-able); signature bit b =
    majority vote (ties set the bit) of word-hash bit b, weight 1/word.

    Single-pass Arrow-batched implementation (round-3 rewrite): one
    hashlib md5 per word + a numpy bit-count vote per doc. The round-2
    Catalyst form built 60 separate filter+size aggregate expressions,
    and CollapseProject inlined the per-word md5 into each — 60x the
    hashing work (measured 16.5 s for 5k docs at sf0.1; this version is
    well under 1 s). The integers are bit-identical to the DuckDB twin
    ``('0x' || substr(md5(x),1,15))::BIGINT`` — hashlib md5 of the UTF-8
    word bytes, exactly as Spark's ``F.md5`` hashed them.

    Word split matches ``F.split(text, ' ')`` + non-empty filter
    (Java ``split`` keeps interior/trailing empties; so does Python's
    ``str.split(' ')`` — both are then filtered). NULL/empty text -> 0,
    matching the old expression's ``otherwise(0)``."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        shifts = np.arange(60, dtype=np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if not t:  # None or "" -> 0
                continue
            words = [w for w in t.split(" ") if w]
            if not words:
                continue
            h = np.fromiter(
                (int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                 for w in words),
                dtype=np.uint64, count=len(words),
            )
            # (n_words, 60) bit matrix -> per-bit ones count; docs are
            # short (web pages), so the matrix stays small per doc
            ones = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            bits = (2 * ones >= len(words)).astype(np.uint64)
            out[i] = int((bits << shifts).sum(dtype=np.uint64))
        return pd.Series(out)

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return _simhash(c)


def simhash_buckets(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", bands: int = 4) -> DataFrame:
    """(id, simhash, band_id, band_key) — near-dups (Hamming distance
    < bands) share at least one 15-bit band.

    One explode over a per-row band array (not a ``bands``-way unionAll:
    union branches each re-evaluate the signature UDF — bands x the
    hashing; the UDF here runs once per doc, the fan-out is Catalyst)."""
    sig = df.select(F.col(id_col), simhash64(text_col).alias("simhash"))
    width = 60 // bands
    return sig.select(
        id_col, "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.shiftright("simhash", b * width)
                    .bitwiseAND(F.lit((1 << width) - 1)).alias("band_key"),
                )
                for b in range(bands)
            ])
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_id", "band.band_key")
