"""Broadcast Bloom filter — semijoin pushdown for incremental dedup.

The dedup job's ``--against`` stage anti-joins the NEW snapshot's
content hashes against the historical corpus's hash index. That join is
shuffle-safe but shuffles BOTH sides — and the history side is the
10^12-doc corpus. The standard fix is a bloom semijoin pushdown (the
same idea as Spark's runtime row-group bloom pruning, applied
cross-snapshot):

1. build a Bloom filter over the NEW snapshot's hashes — the SMALL
   side (a daily crawl snapshot is orders of magnitude smaller than
   the accumulated corpus). 10^8 keys at fpp=1% is ~120 MB — a normal
   broadcast; blooming the HISTORY instead would need ~1.25 TB at
   10^12 keys, which is why the filter direction matters.
2. broadcast it and map-side filter the history scan: only history
   rows whose hash MIGHT match a snapshot hash survive — expected
   |snapshot ∩ history| + fpp·|history| rows instead of 10^12.
3. run the EXACT anti-join on the survivors. Bloom false positives
   only add rows to this exact join; false negatives are impossible
   (every snapshot hash was inserted), so the final result is exactly
   the plain anti-join's — pinned by
   ``tests/test_resume.py::test_dedup_against_bloom_matches_plain``.

Determinism: the k probe positions derive from the md5 content hash
itself via double hashing (Kirsch-Mitzenheimer: h_i = h1 + i*h2 mod m,
h1/h2 = two 60-bit slices of the hex digest, h2 forced odd) — no RNG,
no seed, same bits on every run.

No reference counterpart (the reference dedups nothing); this is the
engine's own scale machinery.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bloom_params", "build_bloom", "filter_might_contain"]

# cap the bitset at 512 MB: above this a broadcast stops being the
# right tool (shard the job by hash prefix instead) — fail loudly
# rather than silently shipping a multi-GB variable to every executor
_MAX_BITS = 512 * (1 << 20) * 8


def bloom_params(expected_keys: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k_hashes) for the target false-positive rate — the
    textbook sizing m = -n·ln(p)/ln(2)^2, k = (m/n)·ln(2)."""
    if not 0 < fpp < 1 or expected_keys <= 0:
        raise ValueError(f"bad bloom sizing: n={expected_keys} p={fpp}")
    m = math.ceil(-expected_keys * math.log(fpp) / (math.log(2) ** 2))
    m = ((m + 7) // 8) * 8  # whole bytes
    if m > _MAX_BITS:
        raise ValueError(
            f"bloom of {expected_keys} keys at fpp={fpp} needs "
            f"{m // 8 >> 20} MB > 512 MB broadcast cap — shard by hash "
            "prefix instead of broadcasting")
    k = max(1, round(m / expected_keys * math.log(2)))
    return m, k


def _probes(hex_hashes: pd.Series, k: int, m: int) -> np.ndarray:
    """(n, k) int64 probe positions from md5 hex digests (double
    hashing; h2 forced odd so the stride cycles the whole table)."""
    h1 = np.fromiter((int(h[:15], 16) for h in hex_hashes),
                     dtype=np.int64, count=len(hex_hashes))
    h2 = np.fromiter((int(h[15:30], 16) | 1 for h in hex_hashes),
                     dtype=np.int64, count=len(hex_hashes))
    i = np.arange(k, dtype=np.int64)
    return (h1[:, None] + i * h2[:, None]) % m


def build_bloom(
    df: DataFrame,
    hash_col: str,
    expected_keys: int,
    fpp: float = 0.01,
) -> tuple[bytes, int, int]:
    """Distributed build: each partition sets bits into its own local
    bitset (one Arrow batch at a time), partitions emit ONE bitset row
    each, and the driver ORs them — the shuffle carries P bitsets, not
    N keys. Returns (bitset_bytes, k, m_bits)."""
    m, k = bloom_params(expected_keys, fpp)
    nbytes = m // 8

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(nbytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            # NULL hashes can never match the exact anti-join this
            # bloom accelerates — skip them instead of crashing in
            # _probes (review round 5)
            col = pdf[hash_col].dropna()
            if not len(col):
                continue
            any_rows = True
            pos = _probes(col, k, m).ravel()
            np.bitwise_or.at(bits, pos >> 3,
                             np.uint8(1) << (pos & 7).astype(np.uint8))
        if any_rows:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    parts = df.select(hash_col).mapInPandas(part, "bits binary").collect()
    merged = np.zeros(nbytes, dtype=np.uint8)
    for row in parts:
        merged |= np.frombuffer(row["bits"], dtype=np.uint8)
    return merged.tobytes(), k, m


def filter_might_contain(
    df: DataFrame,
    hash_col: str | Column,
    bloom_bytes: bytes,
    k: int,
    m: int,
) -> DataFrame:
    """Keep only rows whose ``hash_col`` MIGHT be in the bloom —
    a map-side filter (no shuffle, no false negatives). The bitset
    rides to executors as a Spark broadcast variable, shipped once per
    executor, not per task."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bloom_bytes)
    col = hash_col if isinstance(hash_col, str) else None
    if col is None:
        df = df.withColumn("__bloom_h", hash_col)
        col = "__bloom_h"
    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            if not len(pdf):
                yield pdf
                continue
            # NULL hashes: the exact anti-join would KEEP them (NULL
            # keys never match), so the prefilter must pass them
            # through, not crash (review round 5)
            nn = pdf[col].notna()
            if not nn.all():
                keep = ~nn.to_numpy()
                sub = pdf[nn]
                if len(sub):
                    pos = _probes(sub[col], k, m)
                    hit = ((bits[pos >> 3]
                            >> (pos & 7).astype(np.uint8)) & 1)                         .all(axis=1)
                    keep[nn.to_numpy()] = hit
                yield pdf[keep]
                continue
            pos = _probes(pdf[col], k, m)
            hit = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
            yield pdf[hit.all(axis=1)]

    out = df.mapInPandas(run, schema)
    return out.drop("__bloom_h") if col == "__bloom_h" else out
