"""Structured Streaming surface (SURVEY.md §2.10 / §7.3 M7).

The reference is entirely offline batch — its only streaming-shaped
patterns are the blocked running top-k (W3) and the per-rank append/
merge log sinks (S5). This package is the optional capstone SURVEY
§2.10 sketches: the same library operators run incrementally over an
arriving corpus/event stream.

* :func:`incremental_quantize` — incremental encode+quantize of new
  corpus rows (U1/U2 are stateless per row, so ``foreachBatch``
  suffices — SURVEY §2.10's own recipe);
* :func:`windowed_event_counts` — event-time tumbling-window
  aggregation with a late-data watermark;
* :func:`sessionize_stream` — custom stateful operator
  (``applyInPandasWithState``): cross-batch session state per user,
  closed sessions emitted as their closing event arrives;
* :func:`sessionize_stream_window` — the same semantics through the
  engine's built-in ``session_window`` (declarative state management);
* :func:`dedup_stream` — exactly-once ingest under at-least-once
  delivery (watermark-bounded ``dropDuplicatesWithinWatermark``);
* :func:`incremental_topk` — running exact top-k maintenance: per-query
  results stay current as the corpus arrives, converging to the batch
  answer by the running-top-k merge invariant;
* :func:`incremental_neardup` — MinHash near-dup maintenance: the
  banded signature index and verified pair set stay current as docs
  arrive, new docs probed against the existing corpus (never a full
  re-pair), converging to the batch ``dedup_minhash`` answer;
* :class:`PartialStore` — the one partial-dir store behind every
  mergeable-partial maintainer: per-batch partial dirs written
  replay-idempotently, merged on read, folded into a crash-safe
  watermarked base; each family is a small factory returning its
  store (:func:`rollup_store` — multi-resolution rollup maintenance,
  mergeable GROUPING-SETS partials converging to the batch hypertable
  rollup — plus the lexical, eval-metric, quantile, KMV, Bloom,
  mixture-cell, curriculum and z-order stores in
  ``streaming/incremental.py`` and the WDS manifest store in
  ``sources/wds.py``);
* :func:`incremental_heavy_hitters` — Misra-Gries frequent-items
  summary maintenance (mergeable-summaries merge): the bounded
  candidate set stays complete above the support threshold as the
  corpus arrives; the exact recount runs on demand;
* :class:`VersionedTable` — the one symlink-published table behind
  every maintainer whose state is a table rather than partial dirs
  (top-k, CDC merge, heavy hitters, near-dup, SemDeDup, the chunk
  index and components): crash-atomic version-dir + link flip, the
  ``_meta.json`` sidecar with its ``n_buckets`` guard, hardlink
  copy-forward of untouched buckets, and the graced reap of
  superseded versions.
"""

from mevi_spark.streaming.incremental import (
    PartialStore,
    VersionedTable,
    dedup_stream,
    incremental_heavy_hitters,
    incremental_merge,
    incremental_neardup,
    incremental_quantize,
    incremental_topk,
    rollup_store,
    sessionize_stream,
    sessionize_stream_window,
    windowed_event_counts,
)

__all__ = [
    "PartialStore",
    "VersionedTable",
    "dedup_stream",
    "incremental_heavy_hitters",
    "incremental_merge",
    "incremental_neardup",
    "incremental_quantize",
    "incremental_topk",
    "rollup_store",
    "sessionize_stream",
    "sessionize_stream_window",
    "windowed_event_counts",
]
