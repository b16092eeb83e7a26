"""Frequent items (heavy hitters) with bounded memory.

The corpus-scale "what are the dominant tokens/domains/URLs" question.
A plain ``groupBy(term).count()`` shuffles the FULL term universe —
at 100 TB that's billions of distinct keys moving for an answer that
only names the few hundred items above a support threshold. The
classic fix is two passes, neither of which shuffles the term space:

1. **candidate pass** — a Misra-Gries summary per partition
   (``mapInPandas``; dict capped at ``capacity`` entries, batch-merged
   Arrow-side). MG's guarantee: an item's stored count undercounts its
   true partition count by at most ``n_p/(capacity+1)``, so any item
   with GLOBAL count > N/(capacity+1) exceeds that slack in at least
   one partition (pigeonhole over the partition sums) and survives
   into some partition's summary. The union of summaries — at most
   ``capacity × n_partitions`` rows, thousands not billions — is the
   complete candidate set for every item above support
   ``1/(capacity+1)``.
2. **exact pass** — re-scan with the candidate set BROADCAST as a
   map-side marker; candidate rows count per term while everything
   else collapses into one null group (so the same aggregation also
   yields the total N — no separate count action). With
   ``min_support > 1/(capacity+1)`` STRICTLY the result equals the
   full group-by — exact counts, exact membership — with shuffle
   volume proportional to the answer, not the vocabulary.

No reference counterpart (the reference has no frequency analytics);
this is the standard distributed Misra-Gries construction
(Misra & Gries 1982; summary merge per Agarwal et al., "Mergeable
Summaries", PODS 2012).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType


def misra_gries_candidates(
    df: DataFrame, col: str, capacity: int
) -> DataFrame:
    """Per-partition Misra-Gries summaries, unioned and deduplicated.

    Returns a 1-column DataFrame (``col``) containing every item whose
    global frequency exceeds ``N/(capacity+1)`` (plus false positives,
    never false negatives — the completeness half of MG; the exact
    pass removes the false positives). Shuffle-free except the final
    bounded ``distinct`` over ≤ capacity·n_partitions rows.
    """
    schema = StructType([StructField(col, StringType())])

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            # batch-merge: vectorized per-batch counts, then ONE trim
            # if over capacity — subtract the (capacity+1)-th largest
            # counter from every entry and drop the non-positive. At
            # most `capacity` entries can exceed that cutoff, so a
            # single subtraction restores the bound (repeated min-
            # subtraction is O(distinct²) worst case on near-uniform
            # batches — ADVICE r8); the slack argument is unchanged:
            # each trim removes d from ≥ capacity+1 counters, so the
            # cumulative per-item undercount stays ≤ n_p/(capacity+1)
            for term, c in pdf[col].value_counts().items():
                counters[term] = counters.get(term, 0) + int(c)
            if len(counters) > capacity:
                d = sorted(counters.values(), reverse=True)[capacity]
                counters = {
                    t: c - d for t, c in counters.items() if c - d > 0
                }
        yield pd.DataFrame({col: list(counters.keys())}, dtype=object)

    return df.select(col).mapInPandas(summarize, schema).distinct()


def exact_recount(
    df: DataFrame,
    col: str,
    candidates: DataFrame,
    min_support_num: int,
    min_support_den: int,
) -> DataFrame:
    """The exact second pass, shared by :func:`heavy_hitters` and the
    streaming twin (``streaming/incremental.py::
    incremental_heavy_hitters``'s drain): ONE scan that counts the
    BROADCAST candidates and the total row count together — rows
    outside the candidate set collapse into a single null group whose
    count completes the total, so no separate ``df.count()`` action
    (and no extra corpus scan) is needed. The support threshold
    ``ceil(num·N/den)`` is exact integer arithmetic (bit-identical to
    a SQL ``CEIL(decimal × N)``); the tiny (≤ candidates+1 rows)
    aggregate carries the total via an unpartitioned window, which is
    fine at that size."""
    from pyspark.sql import Window

    marked = df.join(
        F.broadcast(candidates.select(col).withColumn("_isc", F.lit(1))),
        col,
        "left",
    )
    grouped = marked.groupBy(
        F.when(F.col("_isc").isNotNull(), F.col(col)).alias(col)
    ).agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy())
    num, den = int(min_support_num), int(min_support_den)
    thresh = F.expr(f"CAST(({num} * _total + {den} - 1) DIV {den} AS BIGINT)")
    return (
        grouped.withColumn("_total", total)
        .filter(F.col(col).isNotNull() & (F.col("cnt") >= thresh))
        .select(col, "cnt")
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    min_support_num: int,
    min_support_den: int,
    capacity: int | None = None,
) -> DataFrame:
    """Exact heavy hitters: every ``col`` value with frequency ≥
    ``min_support_num/min_support_den`` of the row count, with its
    exact count — exactly TWO scans of ``df`` (the MG candidate pass,
    then :func:`exact_recount`, which folds the total-count into the
    recount aggregation), candidate-bounded shuffle (module
    docstring).

    ``capacity`` defaults to the smallest value that makes the
    candidate pass complete for the requested support; completeness
    needs ``(capacity+1)·num > den`` STRICTLY — at equality an item
    sitting exactly on the support threshold can have count exactly
    ``N/(capacity+1)``, which MG is allowed to lose. Pass a larger
    capacity to trade memory for fewer false positives reaching the
    exact pass.
    """
    if capacity is None:
        capacity = math.ceil(min_support_den / min_support_num)
    if (capacity + 1) * min_support_num <= min_support_den:
        raise ValueError(
            f"capacity {capacity} cannot capture support "
            f"{min_support_num}/{min_support_den}: need (capacity+1)·"
            f"{min_support_num} > {min_support_den}, i.e. capacity ≥ "
            f"{min_support_den // min_support_num}"
        )
    cands = misra_gries_candidates(df, col, capacity)
    return exact_recount(df, col, cands, min_support_num, min_support_den)


# ---------------------------------------------------------------------------
# Deterministic mergeable quantile summaries (Munro-Paterson-style)
#
# The corpus-scale "what is the p95 of this value" question under
# ingest. Exact grouped quantiles (events_value_quantiles) sort per
# group — fine one-shot, but re-sorting the accumulated corpus per
# micro-batch is O(history). The classic fix is a MERGEABLE bounded
# summary: per batch, fold the batch's values into a multi-level
# compactor (level-l items carry weight 2^l); merging two summaries is
# concatenate-then-compact. The compactor here is the DETERMINISTIC
# variant (Munro & Paterson 1980 selection-with-limited-storage
# lineage; KLL's layout without the randomization): a full level sorts
# its buffer and promotes the odd-indexed half. Determinism is what
# the maintenance store needs — a replayed batch rebuilds an IDENTICAL
# partial, so crash-replay over the partial-dir store is a no-op — and
# costs only a worse (but still certified) constant than KLL's
# random-offset choice.
#
# Soundness of the tracked bound: compacting an even sorted buffer of
# weight-w items shifts est_rank(v) = Σ weight(items ≤ v) by at most w
# for ANY v (an odd prefix count rounds down by one item), so the
# summary's total rank error is ≤ the sum of 2^l over the compactions
# actually performed — tracked EXPLICITLY in the summary's sentinel
# row and certified against exact ranks by mp_certify, rather than
# assumed from an asymptotic formula.

#: sentinel levels carrying summary metadata as ordinary rows (so one
#: parquet schema covers items + state): accumulated rank-error bound,
#: absorbed non-null value count, and the capacity the summary was
#: built with (merge refuses mixed capacities — the bound would lie)
MP_ERR_LEVEL = -1
MP_N_LEVEL = -2
MP_K_LEVEL = -3


def _mp_compact_levels(levels: dict[int, list[float]], k: int) -> int:
    """Compact every over-full level bottom-up; mutates ``levels`` and
    returns the rank error introduced (Σ 2^l per compaction). An odd
    buffer leaves its maximum at the level so only an even count
    compacts (keeps the per-compaction error exactly ≤ 2^l)."""
    err = 0
    lvl = 0
    while levels and lvl <= max(levels):
        buf = levels.get(lvl, [])
        if len(buf) > k:
            buf = sorted(buf)
            carry: list[float] = []
            if len(buf) % 2:
                carry = [buf[-1]]
                buf = buf[:-1]
            levels[lvl] = carry
            levels.setdefault(lvl + 1, []).extend(buf[1::2])
            err += 1 << lvl
        lvl += 1
    for dead in [l for l, b in levels.items() if not b]:
        del levels[dead]
    return err


def mp_merge_summaries(
    parts: DataFrame, type_col: str = "event_type", k: int = 128
) -> DataFrame:
    """Fold summary-row partials (any mix of raw level-0 rows and
    already-compacted summaries, across any number of partial dirs)
    into ONE summary per ``type_col`` group: the shared kernel behind
    both the per-batch builder (:func:`mp_batch_partials`) and the
    merge-on-read of the maintenance store — one definition, so the
    maintained state cannot drift from the batch construction.

    One keyed shuffle (groupBy type); the per-group pandas fold sorts
    buffers of ≤ batch/summary size. Group state is a micro-batch's or
    summary's values for one type — the bounded unit, same contract as
    the sessionization state."""
    import numpy as np  # noqa: F401  (pandas fold only)

    schema = f"{type_col} string, level int, value double"

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        t = pdf[type_col].iloc[0]
        ks = set(pdf.loc[pdf["level"] == MP_K_LEVEL, "value"].astype(int))
        if ks and ks != {int(k)}:
            raise ValueError(
                f"mixed summary capacities {sorted(ks)} vs k={k} for "
                f"type {t!r} — the tracked error bound is per-capacity"
            )
        err = float(pdf.loc[pdf["level"] == MP_ERR_LEVEL, "value"].sum())
        n = float(pdf.loc[pdf["level"] == MP_N_LEVEL, "value"].sum())
        levels: dict[int, list[float]] = {}
        items = pdf[pdf["level"] >= 0]
        for lvl, grp in items.groupby("level"):
            levels[int(lvl)] = grp["value"].tolist()
        err += float(_mp_compact_levels(levels, int(k)))
        rows = [
            (t, lvl, v)
            for lvl in sorted(levels)
            for v in sorted(levels[lvl])
        ]
        rows.append((t, MP_ERR_LEVEL, err))
        rows.append((t, MP_N_LEVEL, n))
        rows.append((t, MP_K_LEVEL, float(k)))
        return pd.DataFrame(rows, columns=[type_col, "level", "value"])

    return parts.groupBy(type_col).applyInPandas(_merge, schema)


def mp_batch_partials(
    df: DataFrame,
    type_col: str = "event_type",
    value_col: str = "value",
    k: int = 128,
) -> DataFrame:
    """One micro-batch's summary partial: the batch's non-null values
    as weight-1 (level-0) rows plus the metadata sentinels, folded
    through the SAME merge kernel — deterministic content, so the
    partial-dir store's overwrite-on-replay is a no-op. Nulls are
    excluded exactly as the exact pass excludes them (Spark
    ``percentile`` and DuckDB ``quantile_cont`` both ignore nulls)."""
    vals = df.filter(F.col(value_col).isNotNull())
    raw = vals.select(
        F.col(type_col).cast("string").alias(type_col),
        F.lit(0).alias("level"),
        F.col(value_col).cast("double").alias("value"),
    )
    sent = vals.groupBy(F.col(type_col).cast("string").alias(type_col)).agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    sentinels = sent.select(
        type_col,
        F.explode(
            F.array(
                F.struct(
                    F.lit(MP_ERR_LEVEL).alias("level"),
                    F.lit(0.0).alias("value"),
                ),
                F.struct(
                    F.lit(MP_N_LEVEL).alias("level"),
                    F.col("_n").alias("value"),
                ),
                F.struct(
                    F.lit(MP_K_LEVEL).alias("level"),
                    F.lit(float(k)).alias("value"),
                ),
            )
        ).alias("_s"),
    ).select(type_col, "_s.level", "_s.value")
    return mp_merge_summaries(raw.unionByName(sentinels), type_col, k)


def mp_certify(
    summary: DataFrame,
    corpus: DataFrame,
    type_col: str = "event_type",
    value_col: str = "value",
    k: int = 128,
) -> dict[str, float]:
    """Certify a drained summary against the EXACT corpus: at every
    probe point, the weighted estimated rank must sit within the
    summary's own tracked error bound of the true rank, and no level
    may exceed the capacity. Raises on any violation; returns per-type
    ``err/n`` (the certified relative rank error) for reporting.

    Probe points are the summary items PLUS the midpoints of
    consecutive items: the deterministic odd-index compaction keeps
    exactly the values whose own prefix count stays even, so the
    estimate is structurally near-exact AT kept items — the error
    lives in the gaps where values were dropped, and a certificate
    that only probed items would pass a summary whose tracked bound
    lies (caught by
    ``tests/test_streaming_maintenance.py::
    test_quantile_certify_catches_lying_bound``).

    The exact-rank pass is fixture-scale instrumentation (corpus ×
    probes fan-out bounded by 2× the summary size); at deployment
    scale the summary IS the answer and this pass is what the tracked
    bound replaces."""
    by_type = _parse_summary(summary.collect(), type_col, k=k)
    spark = summary.sparkSession
    item_rows = []
    for t, s in by_type.items():
        per_level: dict[int, int] = {}
        for _, _, lvl in s["items"]:
            per_level[lvl] = per_level.get(lvl, 0) + 1
        over = {l: c for l, c in per_level.items() if c > k}
        if over:
            raise AssertionError(
                f"type {t!r}: levels over capacity {k}: {over}"
            )
        vals = sorted({v for v, _, _ in s["items"]})
        probes = vals + [
            (a + b) / 2.0 for a, b in zip(vals, vals[1:])
        ]
        for i, p in enumerate(sorted(probes)):
            est = sum(w2 for v2, w2, _ in s["items"] if v2 <= p)
            item_rows.append((t, i, p, float(est)))
    if not item_rows:
        return {}
    items_df = spark.createDataFrame(
        item_rows, f"{type_col} string, _iid int, _iv double, _est double"
    )
    true_ranks = {
        (r[type_col], r["_iid"]): r["_true"]
        for r in corpus.filter(F.col(value_col).isNotNull())
        .select(
            F.col(type_col).cast("string").alias(type_col),
            F.col(value_col).cast("double").alias("_cv"),
        )
        .join(F.broadcast(items_df), type_col)
        .filter(F.col("_cv") <= F.col("_iv"))
        .groupBy(type_col, "_iid")
        .agg(F.count(F.lit(1)).cast("double").alias("_true"))
        .collect()
    }
    out = {}
    for t, iid, v, est in item_rows:
        true = true_ranks.get((t, iid), 0.0)
        err = by_type[t]["err"]
        if abs(est - true) > err:
            raise AssertionError(
                f"type {t!r} item {v}: |est {est} - true {true}| > "
                f"tracked bound {err}"
            )
    for t, s in by_type.items():
        out[t] = (s["err"] / s["n"]) if s["n"] else 0.0
    return out


def _parse_summary(rows, type_col: str, k: int | None = None) -> dict:
    """Decode collected summary rows into per-type state: ``items`` as
    ``(value, weight, level)`` triples plus the ``err``/``n``
    sentinels — ONE parser shared by :func:`mp_certify` and
    :func:`mp_quantile_estimates` so a sentinel-layout change cannot
    be applied to one reader and silently misparse in the other. When
    ``k`` is given, a summary built with a different capacity is
    rejected (the tracked bound is per-capacity)."""
    by_type: dict[str, dict] = {}
    for r in rows:
        s = by_type.setdefault(
            r[type_col], {"items": [], "err": 0.0, "n": 0.0}
        )
        lvl = r["level"]
        if lvl == MP_ERR_LEVEL:
            s["err"] = r["value"]
        elif lvl == MP_N_LEVEL:
            s["n"] = r["value"]
        elif lvl == MP_K_LEVEL:
            if k is not None and int(r["value"]) != int(k):
                raise AssertionError(
                    f"summary built with k={int(r['value'])}, "
                    f"reading with k={k}"
                )
        else:
            s["items"].append((float(r["value"]), 1 << int(lvl), int(lvl)))
    return by_type


def mp_quantile_estimates(
    summary: DataFrame,
    ps: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    type_col: str = "event_type",
) -> DataFrame:
    """Answer quantile queries FROM the maintained summary — no corpus
    pass: for each target p, the smallest summary VALUE whose full
    weighted estimated rank reaches ``p·n`` (the deployment read path;
    ``mp_certify``'s exact pass exists only as fixture-scale
    instrumentation). Returns ``(type_col, p, v, est_rank, w, n,
    err)`` rows where ``est_rank`` counts the weight of ALL items
    ``≤ v`` (duplicate values across levels collapse into one
    candidate — a partial prefix at the first duplicate would
    understate the rank and break the bound) and ``w`` is the total
    weight AT ``v``. The certified guarantee is
    ``|true_rank(v) − p·n| ≤ err + w``: est_rank(v) lands in
    ``[p·n, p·n + w)`` by choice of the smallest qualifying value (the
    previous distinct value's cumulative weight is < p·n and the jump
    at v is exactly w), and est_rank is within the tracked ``err`` of
    the true rank. Summary frames are bounded (types × k × levels
    rows), so this folds driver-side after one collect — the same
    bounded-collect class as the certificate."""
    by_type = _parse_summary(summary.collect(), type_col)
    out = []
    for t in sorted(by_type):
        s = by_type[t]
        per_val: dict[float, float] = {}
        for v, w, _ in s["items"]:
            per_val[v] = per_val.get(v, 0.0) + w
        acc = 0.0
        ranks = []
        for v in sorted(per_val):
            acc += per_val[v]
            ranks.append((v, per_val[v], acc))
        for p in ps:
            target = p * s["n"]
            pick = None
            for v, w, est in ranks:
                if est >= target:
                    pick = (v, w, est)
                    break
            if pick is None and ranks:
                pick = ranks[-1]
            if pick is not None:
                out.append(
                    (t, float(p), pick[0], pick[2], pick[1], s["n"], s["err"])
                )
    spark = summary.sparkSession
    return spark.createDataFrame(
        out,
        f"{type_col} string, p double, v double, est_rank double, "
        f"w double, n double, err double",
    )


# --------------------------------------------------------------------------
# KMV (bottom-k / k-minimum-values) distinct sketch
#
# The third mergeable summary the maintenance store needs, next to
# frequency (Misra-Gries above) and rank (the compactor above):
# CARDINALITY plus a bounded UNIFORM SAMPLE of the distinct-key space.
# Keep the k smallest md5 hashes of the distinct keys; then
#
#   * the kept keys are a uniform k-sample of the distinct universe
#     (md5 order is independent of key semantics) — the "show me 256
#     random vocabulary items / shingles / URLs" inspection read;
#   * |distinct| is estimated by (k-1)/h_(k) with h in [0,1)
#     (Bar-Yossef et al. 2002; unbiased, relative error ~1/sqrt(k-2));
#   * two sketches merge by union → dedup → bottom-k: any global
#     bottom-k element is in its own part's bottom-k, so merging
#     per-batch sketches loses nothing (Beyer et al., SIGMOD 2007 —
#     the mergeable-summaries property the partial-dir store needs).
#
# Determinism: md5 of the salted key is a pure function of the data, so
# a replayed batch rebuilds an IDENTICAL partial (crash-replay no-op)
# and the same corpus always yields the same sample — and the hash is
# reproducible in ANSI SQL (DuckDB md5 = Spark md5 on utf-8), so the
# whole sketch is oracle-checkable, unlike a seeded-RNG sample.
#
# No reference counterpart (the reference has no cardinality
# analytics); public construction only.


def kmv_hash(key, salt: str = "kmv"):
    """The sketch's hash: lowercase md5 hex of the salted stringified
    key. Lexicographic order on the fixed 32-char hex equals numeric
    order on the 128-bit value, and DuckDB's ``md5(salt || '|' || key)``
    reproduces it byte-for-byte — the property the oracle relies on."""
    c = F.col(key) if isinstance(key, str) else key
    return F.md5(F.concat(F.lit(salt + "|"), c.cast("string")))


def kmv_merge(sketches: DataFrame, k: int) -> DataFrame:
    """Fold any union of (key, hh) sketch rows (raw hashed rows or
    already-pruned sketches, across any number of partial dirs) into
    ONE bottom-k sketch: dedup on the hash, take the k smallest. The
    shared kernel behind :func:`kmv_bottom_k` and the maintenance
    store's merge-on-read (``streaming/incremental.py::kmv_store``) —
    one definition, so the maintained state cannot drift from the
    batch construction. ``orderBy().limit(k)`` plans as
    TakeOrderedAndProject (per-partition heap + driver merge of k·P
    rows), never a global sort."""
    return sketches.dropDuplicates(["hh"]).orderBy("hh").limit(int(k))


def kmv_bottom_k(
    df: DataFrame, key_col: str, k: int, salt: str = "kmv"
) -> DataFrame:
    """The k distinct keys with the smallest salted-md5 hashes, as
    ``(key string, hh string)``.

    Scale shape: hashing is JVM-side; a per-partition Arrow prune
    (pandas sort + head, carrying ≤ k rows between batches) caps the
    shuffle at k rows PER PARTITION — the distinct-key universe never
    moves, unlike ``dropDuplicates(key)`` whose map-side partial agg
    still emits every partition-local distinct key. The pruned union
    (≤ k·P rows) folds through :func:`kmv_merge`."""
    prep = df.select(
        F.col(key_col).cast("string").alias("key"),
        kmv_hash(key_col, salt).alias("hh"),
    )
    kk = int(k)

    def prune(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: pd.DataFrame | None = None
        for pdf in batches:
            cur = (
                pd.concat([best, pdf], ignore_index=True)
                if best is not None
                else pdf
            )
            best = (
                cur.drop_duplicates("hh").sort_values("hh").head(kk)
            )
        if best is not None:
            yield best

    return kmv_merge(prep.mapInPandas(prune, prep.schema), kk)


def kmv_estimate(sample_rows, k: int) -> float:
    """Distinct-count estimate from a collected bottom-k sketch: exact
    size when the sketch is under-full (fewer than k distinct keys
    exist), else ``(k-1)/h_(k)`` with ``h_(k)`` the k-th smallest hash
    read as a fraction of 2^60 from the first 15 hex chars (the same
    60-bit prefix convention as ``text_analysis.hash60``; a prefix of
    a uniform 128-bit hash is uniform)."""
    hs = sorted(r["hh"] for r in sample_rows)
    if len(hs) < int(k):
        return float(len(hs))
    frac = int(hs[int(k) - 1][:15], 16) / float(1 << 60)
    return (int(k) - 1) / frac


def kmv_certify(
    sample_rows, exact_distinct: int, k: int, sigmas: float = 5.0
) -> float:
    """Certify a sketch against the EXACT distinct count: an
    under-full sketch must BE the distinct key set (size equality —
    the estimate is exact there), a full sketch's estimate must sit
    within ``sigmas/sqrt(k-2)`` relative error (KMV's standard-error
    envelope; deterministic given the data, so a pass is stable).
    Raises on violation; returns the estimate. The exact-count pass is
    fixture-scale instrumentation — at deployment scale the estimate
    IS the answer and this bound is what replaces the count."""
    est = kmv_estimate(sample_rows, k)
    n = int(exact_distinct)
    if len(sample_rows) < int(k):
        if len(sample_rows) != n:
            raise AssertionError(
                f"under-full sketch has {len(sample_rows)} keys but "
                f"exact distinct = {n} — sketch missed keys"
            )
        return est
    bound = sigmas / math.sqrt(int(k) - 2)
    rel = abs(est - n) / n
    if rel > bound:
        raise AssertionError(
            f"KMV estimate {est:.1f} vs exact {n}: relative error "
            f"{rel:.4f} exceeds {sigmas}σ envelope {bound:.4f}"
        )
    return est


def kmv_bottom_k_grouped(
    df: DataFrame,
    key_col: str,
    k: int,
    group_cols: list[str],
    salt: str = "kmv",
) -> DataFrame:
    """Per-GROUP bottom-k: for every ``group_cols`` value, the k
    distinct keys with the smallest salted-md5 hashes — a
    deterministic uniform sample PER STRATUM (per language, per
    source, per domain), as ``(*group_cols, key string, hh string)``.

    Same scale shape as :func:`kmv_bottom_k`: JVM-side hashing, a
    per-partition Arrow prune carrying ≤ k rows per group seen in the
    partition, then a rank window over the pruned union (≤ k·P rows
    per group — never the corpus). Dedup is on (group, hh): the same
    key may legitimately appear under several groups."""
    prep = df.select(
        *[F.col(g) for g in group_cols],
        F.col(key_col).cast("string").alias("key"),
        kmv_hash(key_col, salt).alias("hh"),
    )
    kk = int(k)
    gcols = list(group_cols)

    def prune(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: pd.DataFrame | None = None
        for pdf in batches:
            cur = (
                pd.concat([best, pdf], ignore_index=True)
                if best is not None
                else pdf
            )
            best = (
                cur.drop_duplicates(gcols + ["hh"])
                .sort_values("hh")
                # dropna=False: a null group value must survive the
                # prune — the downstream rank window keeps NULL
                # partitions, and silently dropping them here would
                # lose whole strata
                .groupby(gcols, sort=False, dropna=False)
                .head(kk)
            )
        if best is not None:
            yield best

    pruned = prep.mapInPandas(prune, prep.schema)
    return kmv_merge_grouped(pruned, kk, gcols)


def kmv_merge_grouped(
    sketches: DataFrame, k: int, group_cols: list[str]
) -> DataFrame:
    """Fold any union of per-group ``(…group_cols, key, hh)`` sketch
    rows (raw pruned rows or already-ranked sketches, across any
    number of partial dirs) into ONE ranked per-group bottom-k — the
    grouped counterpart of :func:`kmv_merge`, and the SHARED kernel
    behind :func:`kmv_bottom_k_grouped` (batch) and the maintenance
    store's merge-on-read (``streaming/incremental.py::
    grouped_kmv_store``): one definition, so the maintained per-stratum
    sample cannot drift from the batch construction. Dedup is on
    (group, hh) — the same key may legitimately appear under several
    groups; the rank window sees only the pruned union (≤ k·parts per
    group), never the corpus."""
    from pyspark.sql import Window

    gcols = list(group_cols)
    w = Window.partitionBy(*gcols).orderBy("hh")
    return (
        sketches.select(*gcols, "key", "hh")
        .dropDuplicates(gcols + ["hh"])
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= int(k))
    )
