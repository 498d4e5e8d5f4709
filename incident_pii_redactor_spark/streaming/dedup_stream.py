"""Custom stateful streaming operator: first-seen-wins exact dedup via
``applyInPandasWithState``.

A streaming crawl re-fetches pages; downstream training pipelines want
each distinct content exactly once. Spark has no built-in streaming
dedup-by-arbitrary-expression with TTL'd state, so this is the canonical
"custom stateful operator" shape (SURVEY.md §2.8 streaming row):

* key  = content fingerprint (md5 of normalized text, computed JVM-side
  by `functions.text.fingerprint` so the shuffle key never enters Python)
* state = a single seen-flag per fingerprint with an OPTIONAL
  event-time timeout (state TTL bounds memory at 10^12-doc scale:
  state size is O(distinct fingerprints within the TTL window), not
  O(stream))
* output = only the first row per fingerprint.

TTL semantics: the TTL is event time only. Processing-time timers make
``Trigger.AvailableNow`` queries NEVER terminate — Spark keeps
scheduling ~0.8 s empty microbatches to service the pending timers
(measured 200+ empty batches), so the operators offer none. Two modes:

* ``event_ttl_ms > 0``: a watermark on the timestamp column drives
  eviction, so state is bounded to the TTL window of event time AND
  drained queries terminate (measured ~11 s for the same batch that hung
  forever with processing-time timers). Works for continuous AND
  repeated availableNow (cron) deployments: each run's new data advances
  the watermark and evicts old buckets.
* ``event_ttl_ms == 0``: NoTimeout — unbounded state, bounded/drain runs.

State store scaling: keys are uniform hashes, so the state shuffle has no
skew; RocksDB state backend handles spill on real clusters.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from incident_pii_redactor_spark.functions.text import fingerprint

# anchor_ms = the group's ALL-TIME max event time. Persisted so a LATE
# duplicate cannot shrink the TTL (review round 5): re-anchoring on only
# the current batch's max event time rewrote the timeout EARLIER when a
# late copy arrived, evicting the key before the first-seen row's
# guarantee and re-emitting in-TTL duplicates.
STATE_SCHEMA = "seen boolean, anchor_ms bigint"


def _set_ttl(state: GroupState, event_ttl_ms: int,
             max_event_ms: int = 0) -> None:
    if event_ttl_ms > 0:
        # Evict when the watermark passes (group's event time + TTL).
        # Anchoring on the group's own max event timestamp — not the
        # current watermark — matters on a fresh query (ADVICE round 2):
        # batch 0's watermark is 0, so a watermark-anchored timeout lands
        # near epoch+TTL and batch 1 evicts every first-batch key,
        # re-emitting duplicates that arrive WITHIN the TTL. The max()
        # keeps the timestamp legal (it must exceed the watermark) when
        # late data carries an event time the watermark already passed.
        anchor = max(int(max_event_ms), state.getCurrentWatermarkMs())
        state.setTimeoutTimestamp(anchor + event_ttl_ms)


def _max_event_ms(pdf: pd.DataFrame, ts_col: str = "warc_ts") -> int:
    """Max event time of a chunk in epoch ms (0 if absent/all-null).
    Session timezone is UTC (plans/session.py), so naive pandas
    timestamps are epoch-correct."""
    if ts_col not in pdf.columns or not len(pdf):
        return 0
    m = pdf[ts_col].max()
    if pd.isna(m):
        return 0
    return int(pd.Timestamp(m).value // 1_000_000)


def _timeout_conf(event_ttl_ms: int):
    if event_ttl_ms > 0:
        return GroupStateTimeout.EventTimeTimeout
    return GroupStateTimeout.NoTimeout


def _make_emit_first(event_ttl_ms: int = 0, ts_col: str = "warc_ts"):
    def emit_first(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        already = state.exists and state.get[0]
        # group's ALL-TIME max event time anchors the TTL (see
        # STATE_SCHEMA note) — never let a late batch shrink it
        max_ev = int(state.get[1]) if state.exists else 0
        if not already:
            # deterministic representative across ALL Arrow chunks of the
            # group (large groups arrive as multiple chunks in shuffle-
            # dependent order). The key is None-safe and total: url ties
            # (re-fetches of the same url with identical text) break on
            # the event timestamp so the survivor never depends on chunk
            # order.
            best = None  # one-row DataFrame (keeps dtypes for Arrow)
            best_key = None
            for pdf in pdfs:
                if not len(pdf):
                    continue
                max_ev = max(max_ev, _max_event_ms(pdf, ts_col))
                ts_vals = (pdf[ts_col].astype(str)
                           if ts_col in pdf.columns
                           else [""] * len(pdf))  # ts_col is optional
                keys = list(
                    zip(pdf["url"].fillna("").astype(str), ts_vals)
                )
                i = min(range(len(keys)), key=keys.__getitem__)
                if best_key is None or keys[i] < best_key:
                    best, best_key = pdf.iloc[[i]], keys[i]
            if best is not None:
                yield best.drop(columns=["_fp"])
        else:
            for pdf in pdfs:  # drain; duplicates still refresh the TTL
                max_ev = max(max_ev, _max_event_ms(pdf, ts_col))
        state.update((True, max_ev))
        _set_ttl(state, event_ttl_ms, max_ev)

    return emit_first


def streaming_exact_dedup(pages: DataFrame, text_col: str = "text",
                          event_ttl_ms: int = 0, ts_col: str = "warc_ts",
                          watermark_delay: str = "10 minutes",
                          key_expr=None) -> DataFrame:
    """First occurrence per dedup key across the whole stream. The key
    defaults to the content fingerprint (md5 of normalized text) but is
    any JVM-side Column via ``key_expr`` — e.g.
    ``canonical_url('url')`` turns this into streaming cross-snapshot
    URL dedup (a crawler re-fetching the same page under tracking-param
    variants) with zero operator changes.
    Input: streaming DataFrame with url/text[/ts_col]. TTL: see module
    docstring — ``event_ttl_ms`` (event time), 0 = unbounded."""
    if "_fp" in pages.columns:
        # refuse instead of silently clobbering: the output schema is
        # built from the input schema, so a clobbered _fp would die as
        # an opaque worker-side Arrow schema mismatch (review round 5)
        raise ValueError("input column '_fp' collides with the "
                         "operator's internal key column")
    if event_ttl_ms > 0:
        pages = pages.withWatermark(ts_col, watermark_delay)
    key = key_expr if key_expr is not None else fingerprint(text_col)
    keyed = pages.withColumn("_fp", key)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in pages.schema.fields
    )
    return keyed.groupBy("_fp").applyInPandasWithState(
        _make_emit_first(event_ttl_ms, ts_col),
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=_timeout_conf(event_ttl_ms),
    )
