"""Driver-checkable Structured Streaming queries (M7, SURVEY §2.10).

Each query stages its input as time-ordered parquet slices in a temp
directory, runs a bounded stream over them (``availableNow`` — drain
then stop), and returns the materialized result, which a plain batch
SQL oracle can replay: a stateless streaming transform converges to
the batch result; the watermark/session cases converge to the batch
result restricted to *closed* windows/sessions.

Staging is harness plumbing, not the operator: at production scale the
directory is a landing zone written by the upstream pipeline, and the
same ``readStream`` picks it up file by file.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from mevi_spark.functions.time import epoch_us
from mevi_spark.operators.rq import rq_level_centroids
from mevi_spark.plans.registry import register
from mevi_spark.plans.retrieval import _SQL_CENT_LIST
from mevi_spark.sources.io import load_table
from mevi_spark.streaming import (
    dedup_stream,
    incremental_quantize,
    incremental_topk,
    sessionize_stream,
    windowed_event_counts,
)
from mevi_spark.streaming.incremental import stream_parquet_source


def _tmp(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=f"mevi_stream_{prefix}_")


def _drained(df: DataFrame, base: str, sink: str | None = None) -> DataFrame:
    """Finish a bounded-stream query: pin the (small) drained result in
    executor storage, then free the replay harness — the staged input
    slices + checkpoint directory and the memory-sink temp view. Without
    this every call leaks one ``mevi_stream_*`` tree and one uuid view
    for the session's lifetime (the same leak class VERDICT r5 #1
    flagged on the fine-index staging)."""
    import shutil

    out = df.localCheckpoint(eager=True)
    if sink is not None:
        try:
            df.sparkSession.catalog.dropTempView(sink)
        except Exception:
            pass
    shutil.rmtree(base, ignore_errors=True)
    return out


def _fold_drained(spark: SparkSession, store, what: str) -> None:
    """Fold a drained partial store and assert the state-growth bound:
    at least one batch folded, no live batch dir left."""
    if store.compact(spark) < 1:
        raise AssertionError(f"compaction folded no {what}")
    if store.live():
        raise AssertionError(
            f"live batch dirs survived compaction: {store.live()}"
        )


def _stage_time_slices(
    df: DataFrame, ts_col: str, n_slices: int, in_dir: str
) -> str:
    """Write ``df`` as ``n_slices`` single-file parquet slices split on
    event-time quantiles, in time order (slice file names and mtimes
    both ascend), so the file source replays a plausible arrival order.
    Returns the glob path for ``readStream``."""
    us = epoch_us(df, ts_col)
    frac = [i / n_slices for i in range(1, n_slices)]
    cuts = df.select(us.alias("_us")).approxQuantile("_us", frac, 0.001)
    bounds = [float("-inf"), *cuts, float("inf")]
    for i in range(n_slices):
        lo, hi = bounds[i], bounds[i + 1]
        part = df.filter((us > F.lit(lo)) & (us <= F.lit(hi)))
        part.coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/s{i:02d}")
    return f"{in_dir}/s*"


@register(
    "streaming_quantize_index",
    oracle=f"""
WITH cent AS ({_SQL_CENT_LIST}),
scored AS (
  SELECT e.vec_id, c.code,
         list_dot_product(c.centroid, c.centroid)
           - 2 * list_dot_product(e.embedding::DOUBLE[], c.centroid) AS d
  FROM embeddings e, cent c),
r AS (SELECT vec_id, code,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, code ASC) AS rn
      FROM scored)
SELECT vec_id, CAST(code AS INT) AS code FROM r WHERE rn = 1
""",
)
def streaming_quantize_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 / U2-incremental: stream the corpus embeddings file-by-file
    through ``incremental_quantize`` into a code-partitioned parquet
    index, then read the index back. Stateless per row, so the drained
    stream must equal the batch assignment — which is exactly what the
    oracle replays."""
    base = _tmp("quant")
    emb = load_table(spark, sf_dir, "embeddings")
    emb.repartition(4).write.mode("overwrite").parquet(f"{base}/in")
    cents = rq_level_centroids(emb, code_col="label", vec_col="embedding")
    stream = stream_parquet_source(
        spark, f"{base}/in", emb.schema, max_files_per_trigger=2
    )
    q = incremental_quantize(
        stream, cents, f"{base}/out", f"{base}/ckpt",
        id_col="vec_id", vec_col="embedding",
    )
    q.awaitTermination()
    out = spark.read.parquet(f"{base}/out")
    return _drained(
        out.select("vec_id", F.col("code").cast("int").alias("code")), base
    )


@register(
    "compaction_roundtrip",
    oracle=f"""
WITH cent AS ({_SQL_CENT_LIST}),
scored AS (
  SELECT e.vec_id, c.code,
         list_dot_product(c.centroid, c.centroid)
           - 2 * list_dot_product(e.embedding::DOUBLE[], c.centroid) AS d
  FROM embeddings e, cent c),
r AS (SELECT vec_id, code,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, code ASC) AS rn
      FROM scored)
SELECT vec_id, CAST(code AS INT) AS code FROM r WHERE rn = 1
""",
)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table maintenance for the append-heavy streaming layout: the
    incremental-quantize index (one small file set per micro-batch,
    partitioned by code) is COMPACTED in place — per-partition byte
    budgets, salted rewrite, atomic rename swap
    (:func:`~mevi_spark.sources.compact.compact_partitioned`) — and the
    compacted index must still hash-match the batch assignment oracle:
    compaction is content-preserving by contract, and this row proves
    it on the real streaming output, post-swap. The file count strictly
    drops (asserted here: a regression to a no-op compactor fails
    loudly before the oracle even runs)."""
    from mevi_spark.sources.compact import compact_partitioned, data_file_count

    base = _tmp("compact")
    emb = load_table(spark, sf_dir, "embeddings")
    emb.repartition(4).write.mode("overwrite").parquet(f"{base}/in")
    cents = rq_level_centroids(emb, code_col="label", vec_col="embedding")
    stream = stream_parquet_source(
        spark, f"{base}/in", emb.schema, max_files_per_trigger=1
    )
    q = incremental_quantize(
        stream, cents, f"{base}/out", f"{base}/ckpt",
        id_col="vec_id", vec_col="embedding",
    )
    q.awaitTermination()
    before = data_file_count(f"{base}/out")
    after = compact_partitioned(spark, f"{base}/out", "code")
    if not after < before:
        raise AssertionError(
            f"compaction did not shrink the layout: {before} -> {after}"
        )
    out = spark.read.parquet(f"{base}/out")
    return _drained(
        out.select("vec_id", F.col("code").cast("int").alias("code")), base
    )


@register(
    "streaming_topk_maintenance",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 50 = 0),
d AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS dv FROM embeddings),
s AS (SELECT query_id, doc_id, list_dot_product(qv, dv) AS s FROM q, d),
r AS (SELECT query_id, doc_id, s,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rank
      FROM s)
SELECT query_id, doc_id, ROUND(s, 6) AS score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
""",
)
def streaming_topk_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3, streaming flavor: the corpus arrives file by file and every
    query's exact top-10 is MAINTAINED — batch-local top-k merged into
    the published result table with an atomic swap per micro-batch
    (:func:`~mevi_spark.streaming.incremental_topk`). The drained
    result must equal the one-shot batch top-k (same contract as
    ``knn_topk_ip``'s blocked kernel, third independent implementation
    of the exact-top-k answer), which the oracle computes directly —
    the running-top-k merge invariant, driver-checked."""
    base = _tmp("topk")
    emb = load_table(spark, sf_dir, "embeddings")
    docs = emb.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("doc_vec")
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    docs.repartition(4).write.mode("overwrite").parquet(f"{base}/in")
    stream = stream_parquet_source(
        spark, f"{base}/in", docs.schema, max_files_per_trigger=1
    )
    q = incremental_topk(
        stream, queries, f"{base}/out", f"{base}/ckpt", k=10
    )
    q.awaitTermination()
    out = spark.read.parquet(f"{base}/out")
    from mevi_spark.operators.topk import topk_per_group

    ranked = topk_per_group(
        out.select("query_id", "doc_id", "score"),
        ["query_id"], "score", 10, ["doc_id"],
    )
    return _drained(
        ranked.select(
            "query_id", "doc_id",
            F.round("score", 6).alias("score"), "rank",
        ),
        base,
    )


@register(
    "streaming_event_window_counts",
    oracle="""
WITH win AS (
  SELECT time_bucket(INTERVAL 1 DAY, ts) AS win_start, event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_e6
  FROM events GROUP BY 1, 2),
wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events)
SELECT win_start, event_type, n_events, sum_value_e6
FROM win, wm WHERE win_start + INTERVAL 1 DAY <= wm.w
""",
)
def streaming_event_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: event-time tumbling-window counts with a 1-hour watermark,
    append mode — a window is emitted once (when the watermark passes
    its end) and never revised. The drained stream therefore equals the
    batch aggregation restricted to closed windows (the oracle's
    ``window_end <= max(ts) − delay`` filter)."""
    base = _tmp("win")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    glob = _stage_time_slices(ev, "ts", 3, f"{base}/in")
    stream = stream_parquet_source(
        spark, glob, ev.schema, max_files_per_trigger=1
    )
    agg = windowed_event_counts(
        stream, window_duration="1 day", watermark_delay="1 hour"
    )
    sink = f"win_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _drained(spark.table(sink), base, sink)


@register(
    "streaming_dedup_ingest",
    oracle="SELECT event_id, ts, event_type, value FROM events",
)
def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 ingest guard: exactly-once over at-least-once delivery.

    Every slice of the time-ordered event stream is DELIVERED TWICE
    (the copies re-arrive after all originals, mtime-bumped — a replayed
    backfill); :func:`~mevi_spark.streaming.dedup_stream` suppresses the
    second copies with watermark-bounded state. Determinism of the
    drained result: originals are never late (slices ascend in event
    time, so each batch's rows are above the watermark its predecessors
    set), and for each redelivered row either its key state is alive
    (same-key arrival within the delay → deduplicated) or the watermark
    has passed ``ts + delay`` (→ the copy is older than the watermark
    and dropped as late data) — exactly one copy of every event
    survives, so the stream equals the batch table, the oracle.
    """
    import shutil

    base = _tmp("dedup")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    glob = _stage_time_slices(ev, "ts", 3, f"{base}/in")
    for i in range(3):
        src, dst = f"{base}/in/s{i:02d}", f"{base}/in/s9{i}"
        shutil.copytree(src, dst)
        bump = 3600 + i  # strictly after every original, in slice order
        for name in os.listdir(dst):
            full = os.path.join(dst, name)
            st = os.stat(full)
            os.utime(full, (st.st_atime + bump, st.st_mtime + bump))
    is_ntz = dict(ev.dtypes).get("ts") == "timestamp_ntz"
    stream = stream_parquet_source(
        spark, glob, ev.schema, max_files_per_trigger=1
    )
    evt = stream.withColumn("ts", F.timestamp_micros(epoch_us(stream, "ts")))
    deduped = dedup_stream(evt, ["event_id"], delay="1 hour")
    sink = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(sink)
    if is_ntz:
        out = out.select(
            "event_id", _flavor_safe_ntz("ts"), "event_type", "value"
        )
    return _drained(out, base, sink)


def _neardup_oracle() -> str:
    from mevi_spark.plans.pipeline_ops import (
        _SQL_CORPUS,
        _SQL_MINHASH,
        _SQL_TOKS,
    )

    return f"""
WITH {_SQL_CORPUS}, {_SQL_TOKS}, {_SQL_MINHASH}
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM (
  SELECT c.id_a, c.id_b,
         CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) = 0 THEN 0.0
              ELSE len(list_intersect(sa.s, sb.s))::DOUBLE
                   / len(list_distinct(list_concat(sa.s, sb.s))) END AS jaccard
  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
              JOIN sh sb ON sb.doc_id = c.id_b)
WHERE jaccard >= 0.5
"""


@register("streaming_neardup_ingest", oracle=_neardup_oracle())
def streaming_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup maintenance under ingest (the streaming twin of
    ``dedup_minhash_pairs``, VERDICT r7 next-round #6): the planted
    corpus arrives in three doc-id-interleaved slices and
    :func:`~mevi_spark.streaming.incremental_neardup` maintains the
    banded signature index + verified pair set — each batch's docs
    probed against the index (batch side broadcast; the index never
    reshuffles), never a full re-pair. Slicing on ``doc_id % 3``
    guarantees most planted pairs SPAN batches (original, +100000
    exact dup and +200000 near dup land in different residue classes),
    so the cross-batch probe path is what the oracle actually checks:
    the drained pair set must equal the batch MinHash+LSH+Jaccard
    pipeline over the full corpus."""
    from mevi_spark.plans.pipeline_ops import _corpus
    from mevi_spark.streaming import incremental_neardup

    base = _tmp("ndup")
    corpus = _corpus(spark, sf_dir)
    for i in range(3):
        corpus.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", corpus.schema, max_files_per_trigger=1
    )
    q = incremental_neardup(
        stream, f"{base}/out", f"{base}/ckpt",
        num_hashes=12, bands=4, threshold=0.5,
    )
    q.awaitTermination()
    pairs = spark.read.parquet(f"{base}/out/pairs")
    return _drained(
        pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")),
        base,
    )


@register(
    "streaming_hypertable_refresh",
    oracle="""
WITH b AS (
  SELECT event_type, value,
         epoch_us(ts) // 60000000 * 60000000 AS b1m,
         epoch_us(ts) // 3600000000 * 3600000000 AS b1h,
         epoch_us(ts) // 86400000000 * 86400000000 AS b1d
  FROM events),
g AS (
  SELECT CASE WHEN GROUPING(b1m) = 0 THEN '1m'
              WHEN GROUPING(b1h) = 0 THEN '1h'
              ELSE '1d' END AS resolution,
         COALESCE(b1m, b1h, b1d) AS bucket_us,
         event_type,
         COUNT(*) AS n_events,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS sum_value
  FROM b
  GROUP BY GROUPING SETS ((b1m, event_type), (b1h, event_type),
                          (b1d, event_type)))
SELECT resolution, CAST(bucket_us AS BIGINT) AS bucket_us, event_type,
       n_events, sum_value
FROM g
""",
)
def streaming_hypertable_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hypertable rollup maintained INCREMENTALLY (VERDICT r7
    next-round #7 — proving ``events_hypertable_rollup``'s "partials
    are mergeable" claim end to end): events arrive in three
    time-ordered slices, each micro-batch materializes its GROUPING
    SETS partials (replay-idempotent per-batch dirs), then the
    store's compaction folds them into one published base — after
    which the state is buckets×types rows in ONE dir regardless of
    batch count (asserted here: fold count and zero live dirs, the
    eviction bound). The drained, compacted state must equal the batch
    rollup — the identical oracle ``events_hypertable_rollup``
    carries."""
    from mevi_spark.operators.rollup import finalize_rollup
    from mevi_spark.streaming import rollup_store

    base = _tmp("htref")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    glob = _stage_time_slices(ev, "ts", 3, f"{base}/in")
    stream = stream_parquet_source(
        spark, glob, ev.schema, max_files_per_trigger=1
    )
    store = rollup_store(f"{base}/out")
    store.start(stream, f"{base}/ckpt").awaitTermination()
    _fold_drained(spark, store, "batch partials")
    return _drained(finalize_rollup(store.state(spark)), base)


def _lexical_oracle() -> str:
    """The shared-tokenization oracle for ``streaming_lexical_stats``
    (composes ``pipeline_ops._SQL_BTOKS`` so the SQL twin cannot fork
    from ``bm25_search``'s)."""
    from mevi_spark.plans.pipeline_ops import _SQL_BTOKS

    return f"""
WITH {_SQL_BTOKS},
bstats AS (SELECT COUNT(*) AS n, SUM(len(t)) AS sum_dl FROM btoks),
bdf AS (
  SELECT term, COUNT(*) AS df
  FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM btoks)
  GROUP BY term),
top AS (SELECT term, df FROM bdf ORDER BY df DESC, term ASC LIMIT 40)
SELECT t.term, t.df::BIGINT AS df, s.n::BIGINT AS n_docs,
       ROUND(s.sum_dl::DOUBLE / s.n, 6) AS avgdl
FROM top t CROSS JOIN bstats s
"""


@register("streaming_lexical_stats", oracle=_lexical_oracle())
def streaming_lexical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25/TF-IDF corpus statistics maintained under ingest — the
    lexical tier's streaming twin (VERDICT r10 next-round #4): the
    documents table arrives in three doc-id-interleaved slices,
    :func:`~mevi_spark.streaming.incremental.lexical_store`
    materializes each batch's mergeable (df, n_docs, sum_dl) partial,
    its compaction folds the drained dirs into one published base
    (asserted: fold count ≥ 1 and zero live dirs — the state-growth
    bound), and the drained stats must equal the one-shot batch
    statistics the ``bm25_search`` oracle scores with — the SAME
    tokenization CTE (``pipeline_ops._SQL_BTOKS``) on the SQL side and
    the SAME ``tokens(normalize_text(...))`` kernel on the Spark side.
    Output: top-40 terms by (df DESC, term ASC) with the corpus-level
    (n_docs, avgdl) carried on every row so one hash pins all three
    statistics."""
    from mevi_spark.streaming.incremental import lexical_store

    base = _tmp("lexstats")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", docs.schema, max_files_per_trigger=1
    )
    store = lexical_store(f"{base}/out")
    store.start(stream, f"{base}/ckpt").awaitTermination()
    _fold_drained(spark, store, "lexical partials")
    st = store.state(spark).localCheckpoint(eager=True)
    sent = st.filter(F.col("term").isNull()).first()
    top = (
        st.filter(F.col("term").isNotNull())
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(40)
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.lit(int(sent["n_docs"])).cast("long").alias("n_docs"),
            F.round(
                F.lit(float(sent["sum_dl"]))
                / F.lit(float(sent["n_docs"])),
                6,
            ).alias("avgdl"),
        )
    )
    return _drained(top, base)


def _bm25_oracle() -> str:
    """``bm25_search``'s exact oracle — serving from the maintained
    stats must be bit-identical to the batch searcher."""
    from mevi_spark.plans.pipeline_ops import _SQL_BM25_CTES

    return f"""
WITH {_SQL_BM25_CTES}
SELECT query_id, doc_id, score, CAST(rnk AS INT) AS rnk
FROM bm25ranked WHERE rnk <= 5
"""


@register("streaming_bm25_serve", oracle=_bm25_oracle())
def streaming_bm25_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 search SERVED from the maintained lexical state — the
    deployment read path completing the lexical tier's streaming twin
    (``streaming_lexical_stats`` shows the stats converge; this shows a
    query ANSWERED from them): the documents table arrives in three
    doc-id-interleaved slices, the maintenance store accumulates
    per-batch (df, n_docs, sum_dl) partials, and the searcher then
    scores BM25 with the corpus-wide statistics read from the DRAINED
    STATE — merge-on-read over the uncompacted partial dirs, the path a
    live deployment takes between compactions — instead of recomputing
    them with a corpus pass. Scoring goes through the SHARED kernel
    (``pipeline_ops.bm25_score_with_stats``, the same function
    ``bm25_run`` calls), so serving from state cannot drift from the
    batch searcher; the oracle is ``bm25_search``'s own, verbatim.

    100 TB shape: the state is vocabulary-sized (not corpus-sized), the
    sentinel read is one row, and the query-side plan is identical to
    ``bm25_search``'s (query terms broadcast, postings term-keyed) —
    the corpus-wide stats scan is the ONLY work maintenance removes,
    which at deployment scale is the difference between touching 100 TB
    per query batch and touching a GB-scale df table."""
    from mevi_spark.functions.text import norm_tokens
    from mevi_spark.plans.pipeline_ops import bm25_score_with_stats
    from mevi_spark.streaming.incremental import lexical_store

    base = _tmp("bm25serve")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", docs.schema, max_files_per_trigger=1
    )
    store = lexical_store(f"{base}/out")
    store.start(stream, f"{base}/ckpt").awaitTermination()
    st = store.state(spark).localCheckpoint(eager=True)
    sent = st.filter(F.col("term").isNull()).first()
    n, avgdl = float(sent["n_docs"]), float(sent["sum_dl"]) / float(
        sent["n_docs"]
    )
    dfreq = st.filter(F.col("term").isNotNull()).select("term", "df")
    toks = docs.select("doc_id", norm_tokens("text").alias("t")).select(
        "doc_id", "t", F.size("t").alias("dl")
    )
    tf = toks.select(
        "doc_id", "dl", F.explode("t").alias("term")
    ).groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    return _drained(
        bm25_score_with_stats(toks, tf, dfreq, n, avgdl, k=5), base
    )


def _eval_metrics_oracle() -> str:
    """``retrieval_eval_metrics``'s CTE chain with the means
    decimal-stabilized (the maintained state sums scaled longs, so the
    SQL twin must sum DECIMAL(18,6) — the registry convention)."""
    from mevi_spark.plans.retrieval import _SQL_D, _SQL_Q

    return f"""
WITH q AS ({_SQL_Q}), d AS ({_SQL_D}),
ranked AS (SELECT q.query_id, d.doc_id, (q.label = d.label) AS is_gt,
                  ROW_NUMBER() OVER (PARTITION BY q.query_id
                                     ORDER BY list_dot_product(q.qv, d.dv) DESC, d.doc_id ASC) AS rnk
           FROM q, d),
gtr AS (SELECT query_id, rnk FROM ranked WHERE is_gt),
perq AS (SELECT query_id, COUNT(*) AS n_gt, MIN(rnk) AS min_rnk, list(rnk) AS rnks
         FROM gtr GROUP BY query_id),
ks AS (SELECT unnest([1, 5, 10]) AS k),
perqk AS (SELECT k, query_id,
                 len(list_filter(rnks, r -> r <= k))::DOUBLE / n_gt AS q_recall,
                 CASE WHEN min_rnk <= k THEN 1.0 / min_rnk ELSE 0.0 END AS q_mrr,
                 CASE WHEN min_rnk <= k THEN 1.0 ELSE 0.0 END AS q_hit
          FROM perq, ks)
SELECT k,
       ROUND(CAST(SUM(CAST(q_recall AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS recall,
       ROUND(CAST(SUM(CAST(q_mrr AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mrr,
       ROUND(CAST(SUM(CAST(q_hit AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS hitrate,
       COUNT(*) AS n_queries
FROM perqk GROUP BY k
"""


@register("streaming_eval_metrics", oracle=_eval_metrics_oracle())
def streaming_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval eval metrics maintained as queries arrive in waves —
    the eval tier's maintenance twin (Recall/MRR/HitRate over all
    queries evaluated SO FAR, the live dashboard of an eval sweep,
    without re-scoring finished queries): the eval query set arrives in
    three id-interleaved waves; each batch scores ONLY its queries
    against the corpus (exact-IP top-10 — the same run
    ``retrieval_eval_metrics`` evaluates), folds their per-query
    contributions through the SHARED rules
    (``operators/metrics.py::per_query_metrics`` — gt-denominator
    recall, min-rank MRR) into a mergeable per-cutoff partial of
    scaled-long sums, and writes it to the partial store's
    replay-idempotent per-batch dir. Drained state folded through the
    store's compaction (asserted: ≥1 fold, zero live dirs) then
    finalized must equal the one-shot evaluation of the full query set
    — the decimal-stabilized twin of ``retrieval_eval_metrics``'s own
    oracle. 100 TB shape: per-wave cost is wave × corpus scoring (the
    unavoidable part); the maintained state is |cutoffs| rows."""
    from mevi_spark.operators.metrics import (
        eval_metric_partials,
        finalize_eval_metrics,
        per_query_metrics,
    )
    from mevi_spark.operators.topk import exact_topk_join
    from mevi_spark.plans.retrieval import _docs, _queries
    from mevi_spark.streaming.incremental import eval_metrics_store

    base = _tmp("evalm")
    queries = _queries(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    for i in range(3):
        queries.filter(F.col("query_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", queries.schema, max_files_per_trigger=1
    )

    def partial_fn(batch: DataFrame) -> DataFrame:
        topk = exact_topk_join(batch, docs, k=10, metric="ip")
        run = topk.groupBy("query_id").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rank", "doc_id"))),
                lambda s: s["doc_id"],
            ).alias("preds")
        )
        gt = (
            batch.select("query_id", "label")
            .join(docs.select("doc_id", "label"), "label")
            .groupBy("query_id")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("gt_ids"))
        )
        return eval_metric_partials(
            per_query_metrics(run, gt, cutoffs=(1, 5, 10), query_col="query_id")
        )

    store = eval_metrics_store(f"{base}/out", partial_fn)
    store.start(stream, f"{base}/ckpt").awaitTermination()
    _fold_drained(spark, store, "eval partials")
    return _drained(finalize_eval_metrics(store.state(spark)), base)


def _flavor_safe_ntz(col: str) -> F.Column:
    """LTZ → NTZ without a session-timezone dependency (epoch micros
    re-anchored on the NTZ epoch — same trick as windowed counts)."""
    return F.expr(
        f"timestampadd(MICROSECOND, unix_micros({col}),"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    ).alias(col)


# the FULL batch sessionization — the convergence target both
# watermark-flushing streaming implementations must reproduce exactly
_SQL_SESS_FULL = """
WITH seq AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sess AS (
  SELECT user_id, ts, event_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_idx
  FROM seq),
agg AS (
  SELECT user_id, session_idx, COUNT(*) AS n_events,
         MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM sess GROUP BY user_id, session_idx)
SELECT user_id, session_start, session_end, n_events FROM agg
"""


@register("streaming_sessionize_evict", oracle=_SQL_SESS_FULL)
def streaming_sessionize_evict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 + state eviction (VERDICT r5 #4): the sessionize stream run
    WITH a watermark and ``EventTimeTimeout`` — the production guard
    against unbounded state. Beyond the closed-by-a-later-event
    sessions the plain stream emits, the watermark FLUSHES every open
    session it proves dead (``last_event + gap`` behind the watermark)
    and frees its state slot.

    Replay determinism: slices are time-ordered (no late data), and a
    far-future sentinel slice (+48 h) pushes the final watermark past
    every real session's ``last_event + gap``; the trailing no-data
    micro-batch (``noDataMicroBatches``, on by default, set explicitly
    here) then fires every remaining timeout. The drained stream is
    therefore the FULL batch sessionization — closed sessions emitted
    by events, every still-open one flushed by the watermark — which is
    exactly what the oracle replays. This is the convergence guarantee
    eviction buys: without it the plain stream can never emit a user's
    final session (``streaming_sessionize``'s minus-final-session
    oracle); with it, bounded state AND the complete result.

    Eviction needs ``withWatermark``, which rejects TIMESTAMP_NTZ; the
    event time is re-anchored LTZ for the stream and the emitted bounds
    are converted back, so the result matches the source flavor
    regardless of session timezone.
    """
    return _replay_sessionize_flushed(
        spark, sf_dir, lambda evt: sessionize_stream(evt, evict=True), "sessev"
    )


@register("streaming_sessionize_window", oracle=_SQL_SESS_FULL)
def streaming_sessionize_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7, declarative flavor (VERDICT r5 stretch #8): the SAME
    sessionization contract as ``streaming_sessionize_evict`` — same
    replay harness, same full-batch oracle — but implemented with the
    engine's built-in ``session_window`` aggregation instead of the
    custom ``applyInPandasWithState`` operator. Two independent
    implementations, one oracle: the strongest cross-check the
    streaming surface has. State eviction is inherent here (append
    mode emits a session once the watermark passes its window end and
    the store drops it), so the sentinel slice flushes every real
    session exactly as in the custom-operator variant."""
    from mevi_spark.streaming import sessionize_stream_window

    return _replay_sessionize_flushed(
        spark, sf_dir, sessionize_stream_window, "sesswin"
    )


def _replay_sessionize_flushed(
    spark: SparkSession, sf_dir: str, make_sessions, prefix: str
) -> DataFrame:
    """Shared replay harness for the two watermark-flushing sessionize
    implementations: stage time-ordered slices plus a far-future
    sentinel slice (one event for a filtered-out user — its batch
    carries the final real-data watermark through state flushing), run
    the stream with a watermark, return the drained result in the
    source ts flavor."""
    base = _tmp(prefix)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    glob = _stage_time_slices(ev, "ts", 3, f"{base}/in")
    sent = ev.agg(F.max("ts").alias("_mx")).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.expr("_mx + INTERVAL 48 HOURS").alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
    )
    sent.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s99")
    is_ntz = dict(ev.dtypes).get("ts") == "timestamp_ntz"
    stream = stream_parquet_source(
        spark, glob, ev.schema, max_files_per_trigger=1
    )
    evt = stream.withColumn(
        "ts", F.timestamp_micros(epoch_us(stream, "ts"))
    ).withWatermark("ts", "1 second")
    sessions = make_sessions(evt)
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(sink).filter(F.col("user_id") >= 0)
    if is_ntz:
        out = out.select(
            "user_id",
            _flavor_safe_ntz("session_start"),
            _flavor_safe_ntz("session_end"),
            "n_events",
        )
    return _drained(out, base, sink)


@register(
    "streaming_sessionize",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sess AS (
  SELECT user_id, ts, event_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_idx
  FROM seq),
agg AS (
  SELECT user_id, session_idx, COUNT(*) AS n_events,
         MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM sess GROUP BY user_id, session_idx)
SELECT user_id, session_start, session_end, n_events
FROM agg
WHERE session_idx < (SELECT MAX(a2.session_idx) FROM agg a2
                     WHERE a2.user_id = agg.user_id)
""",
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: custom stateful sessionization (``applyInPandasWithState``)
    over time-ordered event slices. Open sessions live in the state
    store across micro-batches; a session is emitted when a later event
    closes it, so the drained stream equals the batch sessionization
    minus each user's final (still-open) session — the oracle's
    ``session_idx < max(session_idx)`` filter."""
    base = _tmp("sess")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    glob = _stage_time_slices(ev, "ts", 3, f"{base}/in")
    stream = stream_parquet_source(
        spark, glob, ev.schema, max_files_per_trigger=1
    )
    sessions = sessionize_stream(stream)
    sink = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _drained(spark.table(sink), base, sink)


@register(
    "streaming_cdc_apply",
    oracle="""
SELECT o_orderkey,
       ROUND(CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1000.5
                  ELSE o_totalprice END, 2) AS total_price,
       CASE WHEN o_orderkey % 13 = 0 THEN 2 ELSE 0 END AS version
FROM orders WHERE o_orderkey % 17 <> 0
UNION ALL
SELECT o_orderkey + 10000000, ROUND(o_totalprice, 2), 4
FROM orders WHERE o_orderkey % 19 = 0
""",
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge, streaming flavor: the ``orders_merge_upsert`` change
    batch arrives as a STREAM in three version-ordered slices (updates
    v2, deletes v3, inserts v4) and
    :func:`~mevi_spark.streaming.incremental_merge` maintains the
    published table — per batch one keyed merge against the last
    published state, atomic symlink publish, versions retained so a
    replayed batch reproduces the identical state, deletes retained as
    tombstones so slice order can't resurrect a deleted key (the live
    view filters ``_op != 'D'``). The drained table (keys, prices,
    winning versions) must equal the one-shot batch merge, which the
    oracle states in closed form — keys divisible by 221 exercise the
    update-then-delete sequence across slices."""
    from mevi_spark.streaming import incremental_merge

    base_dir = _tmp("cdc")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    upd = base.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 1000.5).alias("o_totalprice"),
        F.lit("U").alias("_op"), F.lit(2).cast("long").alias("_version"),
    )
    del_ = base.filter(F.col("o_orderkey") % 17 == 0).select(
        "o_orderkey", "o_totalprice",
        F.lit("D").alias("_op"), F.lit(3).cast("long").alias("_version"),
    )
    ins = base.filter(F.col("o_orderkey") % 19 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_totalprice",
        F.lit("U").alias("_op"), F.lit(4).cast("long").alias("_version"),
    )
    for i, sl in enumerate((upd, del_, ins)):
        sl.coalesce(1).write.mode("overwrite").parquet(
            f"{base_dir}/in/s{i:02d}"
        )
    stream = stream_parquet_source(
        spark, f"{base_dir}/in/s*", upd.schema, max_files_per_trigger=1
    )
    q = incremental_merge(
        stream, base, ["o_orderkey"],
        f"{base_dir}/out", f"{base_dir}/ckpt",
    )
    q.awaitTermination()
    out = spark.read.parquet(f"{base_dir}/out").filter(F.col("_op") != "D")
    result = out.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.col("_version").cast("int").alias("version"),
    )
    return _drained(result, base_dir)


from mevi_spark.plans.pipeline_ops import HH_TERMS_ORACLE


@register("streaming_heavy_hitters", oracle=HH_TERMS_ORACLE)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items maintenance under ingest (the streaming twin of
    ``heavy_hitters_terms``): the token stream arrives in three
    doc-id-interleaved slices and
    :func:`~mevi_spark.streaming.incremental_heavy_hitters` maintains a
    capacity-bounded Misra-Gries summary (mergeable-summaries merge,
    batch-id replay guard, atomic version flips). After the drain the
    summary must (a) hold ≤ capacity rows — asserted here, it is the
    whole point of the sketch — and (b) still contain every term above
    the support threshold, certified by running the exact recount
    gated on the drained candidate set and matching the same full
    group-by oracle as the batch query. Capacity 250 > den/num = 200,
    so the cumulative undercount N/251 stays below the 0.5% support
    threshold across any batching of the ingest."""
    from mevi_spark.functions.text import norm_tokens
    from mevi_spark.streaming import incremental_heavy_hitters

    capacity = 250
    base = _tmp("hh")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", docs.schema, max_files_per_trigger=1
    )
    terms = stream.select(
        F.explode(norm_tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    q = incremental_heavy_hitters(
        terms, f"{base}/out", f"{base}/ckpt", capacity
    )
    q.awaitTermination()
    state = spark.read.parquet(f"{base}/out").select("term")
    n_state = state.count()
    if n_state > capacity:
        raise AssertionError(
            f"summary exceeded capacity: {n_state} > {capacity}"
        )
    # exact recount gated on the drained candidates — the SAME second
    # pass as the batch query (operators/sketch.py::exact_recount), so
    # the support fraction lives in exactly one expression per caller
    # and both queries provably share the oracle's semantics
    from mevi_spark.operators.sketch import exact_recount

    toks = (
        spark.read.schema(docs.schema)
        .parquet(f"{base}/in/s*")
        .select(F.explode(norm_tokens("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    out = exact_recount(toks, "term", state, 5, 1000)
    return _drained(out, base)



def _semdedup_oracle() -> str:
    from mevi_spark.plans.pipeline_ops import _SQL_SEMDEDUP

    return _SQL_SEMDEDUP


@register("streaming_semdedup", oracle=_semdedup_oracle())
def streaming_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup maintained under ingest (the streaming twin of
    ``semantic_dedup``): the planted embedding corpus arrives in three
    vec-id-interleaved slices against a FIXED offline-trained codebook
    and :func:`~mevi_spark.streaming.incremental.incremental_semdedup`
    keeps the cluster-scoped keep/prune decision current — each batch
    re-runs the tournament only over the clusters it touches
    (bucket-pruned), untouched buckets hardlink forward. Slicing on
    ``vec_id % 3`` lands most planted duplicate pairs in DIFFERENT
    batches, so the cross-batch demotion path (a later lower-
    centroid-cosine arrival demoting an already-kept member) is what
    the oracle actually checks: the drained state must equal the
    one-shot batch SemDeDup over the full corpus — the identical
    oracle as ``semantic_dedup``."""
    from mevi_spark.operators.rq import rq_level_centroids
    from mevi_spark.plans.pipeline_ops import planted_embeddings
    from mevi_spark.streaming.incremental import incremental_semdedup

    planted = planted_embeddings(spark, sf_dir)
    cents = rq_level_centroids(planted, code_col="label", vec_col="embedding")
    base = _tmp("semdd")
    src = planted.select("vec_id", "embedding")
    for i in range(3):
        src.filter(F.col("vec_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", src.schema, max_files_per_trigger=1
    )
    q = incremental_semdedup(
        stream, cents, f"{base}/out", f"{base}/ckpt", threshold=0.95
    )
    q.awaitTermination()
    state = spark.read.parquet(f"{base}/out/scored")
    return _drained(
        state.select(
            F.col("_id").alias("vec_id"),
            "code",
            F.round("_cc", 6).alias("cent_cosine"),
            "kept",
        ),
        base,
    )


def _components_oracle() -> str:
    from mevi_spark.plans.pipeline_ops import COMPONENTS_ORACLE

    return COMPONENTS_ORACLE


@register("streaming_components", oracle=_components_oracle())
def streaming_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels maintained under edge ingest (the
    streaming twin of ``dedup_components``, closing the last batch-only
    step of the dedup family): the Jaccard ≥ 0.6 near-dup edge set
    arrives in three slices keyed on ``(id_a + id_b) % 3`` — so a dup
    CHAIN's edges land in different batches and the drained state is
    produced by cross-batch component MERGES (the remap path), not by
    any single batch seeing a whole component — and
    :func:`~mevi_spark.streaming.incremental.apply_components_batch`
    keeps the min-id labels current per batch. The drained ``labels``
    table must equal the one-shot
    ``connected_components`` over the full pair set: the identical
    transitive-closure oracle as the batch query."""
    from mevi_spark.operators import dedup as D
    from mevi_spark.plans.pipeline_ops import _corpus
    from mevi_spark.streaming.incremental import incremental_components

    base = _tmp("cc")
    pairs = D.ngram_jaccard_pairs(
        _corpus(spark, sf_dir), threshold=0.6
    ).select("id_a", "id_b")
    for i in range(3):
        pairs.filter(
            (F.col("id_a") + F.col("id_b")) % 3 == i
        ).coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", pairs.schema, max_files_per_trigger=1
    )
    q = incremental_components(stream, f"{base}/out", f"{base}/ckpt")
    q.awaitTermination()
    state = spark.read.parquet(f"{base}/out/labels")
    return _drained(
        state.select(F.col("_id").alias("id"), "component"), base
    )


def _canonicalize_oracle() -> str:
    from mevi_spark.plans.pipeline_ops import CANONICALIZE_ORACLE

    return CANONICALIZE_ORACLE


@register("streaming_canonicalize", oracle=_canonicalize_oracle())
def streaming_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer-facing canonical-doc view SERVED from the maintained
    component labels — the read path on top of ``streaming_components``
    (that query shows the labels converge; this shows the corpus-build
    decision ANSWERED from them): near-dup edges arrive in three
    slices, :func:`~mevi_spark.streaming.incremental.apply_components_batch`
    keeps min-id labels current, and the canonical-survivor projection
    (keep the longest doc, ties to the smallest id; singletons their
    own canonical) runs over the DRAINED labels through the SHARED
    kernel (``pipeline_ops.canonicalize_from_labels`` — the same
    function ``dedup_canonicalize`` calls), against
    ``dedup_canonicalize``'s own oracle verbatim. 100 TB shape: the
    labels store is pair-endpoint-sized, the projection is one
    broadcast-or-shuffle join + one partial-aggregated argmax — the
    transitive-closure recompute over ALL pairs is what maintenance
    removes."""
    from mevi_spark.operators import dedup as D
    from mevi_spark.plans.pipeline_ops import (
        _corpus,
        canonicalize_from_labels,
    )
    from mevi_spark.streaming.incremental import incremental_components

    base = _tmp("canon")
    corpus = _corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(corpus, threshold=0.6).select(
        "id_a", "id_b"
    )
    for i in range(3):
        pairs.filter(
            (F.col("id_a") + F.col("id_b")) % 3 == i
        ).coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", pairs.schema, max_files_per_trigger=1
    )
    q = incremental_components(stream, f"{base}/out", f"{base}/ckpt")
    q.awaitTermination()
    labels = spark.read.parquet(f"{base}/out/labels").select(
        F.col("_id").alias("id"), "component"
    )
    return _drained(canonicalize_from_labels(corpus, labels), base)


def _ev_quantiles_oracle() -> str:
    from mevi_spark.plans.pipeline_ops import EV_QUANTILES_ORACLE

    return EV_QUANTILES_ORACLE


@register("streaming_quantiles", oracle=_ev_quantiles_oracle())
def streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped quantile summaries maintained under ingest (the
    maintenance twin of ``events_value_quantiles``): the events table
    arrives in three event-id-interleaved slices and
    :func:`~mevi_spark.streaming.incremental.quantile_store`
    folds each batch into a deterministic mergeable compactor partial.
    After the drain the merged summary must (a) respect its capacity
    at every level and (b) place every summary item's weighted rank
    estimate within the summary's own TRACKED error bound of the exact
    rank — certified here by ``mp_certify`` against the accumulated
    corpus (the streaming_heavy_hitters pattern: bounded maintained
    state, certificate asserted, exact pass returned). The returned
    rows are the shared exact pass over the drained corpus, matching
    the identical oracle as the batch query."""
    from mevi_spark.operators.sketch import mp_certify
    from mevi_spark.plans.pipeline_ops import exact_grouped_quantiles
    from mevi_spark.streaming.incremental import quantile_store

    k = 128
    base = _tmp("mpq")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", ev.schema, max_files_per_trigger=1
    )
    store = quantile_store(f"{base}/out", k=k)
    store.start(stream, f"{base}/ckpt").awaitTermination()
    summary = store.state(spark)
    corpus = spark.read.schema(ev.schema).parquet(f"{base}/in/s*")
    mp_certify(summary, corpus, "event_type", "value", k=k)
    return _drained(exact_grouped_quantiles(corpus), base)


# explicit module-level import (same style as HH_TERMS_ORACLE above):
# the decorator argument is evaluated at import time anyway, so a
# function wrapper would not actually defer the pipeline_ops import —
# it only obscured the import-order dependency (pipeline_ops has no
# back-import of this module, so the dependency is safe and one-way).
from mevi_spark.plans.pipeline_ops import KMV_SHINGLE_ORACLE


@register("streaming_kmv", oracle=KMV_SHINGLE_ORACLE)
def streaming_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k distinct sketch maintained under document ingest (the
    maintenance twin of ``kmv_shingle_sample``): documents arrive in
    three doc-id-interleaved slices and
    :func:`~mevi_spark.streaming.incremental.kmv_store` prunes
    each batch's shingle keys to a per-batch bottom-k partial — ≤ k
    rows per batch, md5-deterministic so crash-replay overwrites
    identical content. The merged state (shared ``kmv_merge`` kernel)
    equals the one-shot sketch over the accumulated corpus because any
    globally-bottom-k hash is bottom-k within its own batch — asserted
    here by the shared certificate against the exact distinct count,
    then returned through the shared presentation kernel against the
    identical oracle as the batch query. 100 TB shape: state and every
    publish are k-row-sized; the distinct-shingle universe never
    shuffles and never re-scans."""
    from mevi_spark.operators.sketch import kmv_certify
    from mevi_spark.plans.pipeline_ops import (
        KMV_K,
        kmv_sample_frame,
        shingle_keys,
    )
    from mevi_spark.streaming.incremental import kmv_store

    base = _tmp("kmv")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", docs.schema, max_files_per_trigger=1
    )
    store = kmv_store(
        f"{base}/out", "shingle", k=KMV_K, batch_prep=shingle_keys
    )
    store.start(stream, f"{base}/ckpt").awaitTermination()
    sketch = store.state(spark).localCheckpoint(eager=True)
    corpus = spark.read.schema(docs.schema).parquet(f"{base}/in/s*")
    kmv_certify(
        sketch.collect(), shingle_keys(corpus).distinct().count(), KMV_K
    )
    return _drained(kmv_sample_frame(sketch), base)


from mevi_spark.plans.pipeline_ops import GROUPED_KMV_ORACLE


@register("streaming_grouped_kmv", oracle=GROUPED_KMV_ORACLE)
def streaming_grouped_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum uniform sample maintained under document ingest
    (the maintenance twin of ``grouped_kmv_sample``): documents arrive
    in three doc-id-interleaved slices and
    :func:`~mevi_spark.streaming.incremental.grouped_kmv_store`
    prunes each batch to its own per-(lang, source) bottom-k partial —
    ≤ k rows per stratum per batch, md5-deterministic so crash-replay
    overwrites identical content. The merged state (shared
    ``kmv_merge_grouped`` kernel) equals the one-shot grouped
    sketch over the accumulated corpus because a stratum's
    globally-bottom-k hash is bottom-k within every batch that carries
    it — returned against the IDENTICAL oracle as the batch query.
    100 TB shape: the "8 random docs from every language×source cell"
    inspection read is answered from (k · strata)-sized state at any
    point of the ingest, never by re-sampling the corpus."""
    from mevi_spark.streaming.incremental import grouped_kmv_store

    base = _tmp("gkmv")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", docs.schema, max_files_per_trigger=1
    )
    store = grouped_kmv_store(
        f"{base}/out", "doc_id", ["lang", "source"], k=8, salt="gsample"
    )
    store.start(stream, f"{base}/ckpt").awaitTermination()
    state = store.state(spark)
    return _drained(
        state.select("lang", "source", "key", "hh", "rnk"), base
    )


from mevi_spark.plans.pipeline_ops import CURRICULUM_ORACLE


@register("streaming_curriculum", oracle=CURRICULUM_ORACLE)
def streaming_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering maintained under document ingest (the
    maintenance twin of ``curriculum_order`` — the one r11
    materialization without an under-ingest story): documents arrive
    in three doc-id-interleaved slices;
    :func:`~mevi_spark.streaming.incremental.curriculum_store`
    scores each batch ONCE through the shared ``curriculum_scored``
    kernel and lands a narrow (doc_id, score) partial; range
    boundaries are pinned in a sidecar by the first batch. Appending
    docs shifts every later-ranked doc's global rank, so ranks are
    served LAZILY (offset map + within-bucket rank over the merged
    narrow state — the shared ``ranked_with_bounds`` kernel);
    :func:`~mevi_spark.streaming.incremental.resplit_curriculum` then
    refines boundaries for any bucket the ingest overgrew — a
    sidecar-only append whose order-invariance the oracle equality
    proves end-to-end. 100 TB shape: the expensive text kernel runs
    once per doc at ingest; every rank read is P parallel windows over
    (doc_id, score) rows, never a re-tokenize and never a
    single-partition sort."""
    from mevi_spark.plans.pipeline_ops import curriculum_scored
    from mevi_spark.streaming.incremental import (
        curriculum_state,
        curriculum_store,
        resplit_curriculum,
    )

    base = _tmp("curr")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", docs.schema, max_files_per_trigger=1
    )
    store = curriculum_store(f"{base}/out", curriculum_scored)
    store.start(stream, f"{base}/ckpt").awaitTermination()
    # exercise the rebalance path: boundaries pinned from batch 1
    # (1/3 of the docs) leave every bucket ~3x its target after the
    # full drain, so a cap at 2x the ideal forces real splits — and
    # the oracle equality below proves the refinement reordered
    # nothing
    n = store.state(spark).count()
    resplit_curriculum(spark, store, bucket_cap=max(2 * n // 32, 1))
    return _drained(curriculum_state(spark, store), base)


from mevi_spark.plans.pipeline_ops import DECONTAMINATE_ORACLE


@register("streaming_bloom_decontaminate", oracle=DECONTAMINATE_ORACLE)
def streaming_bloom_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination served from a Bloom blocklist maintained under
    ingest (the maintenance twin of ``bloom_decontaminate``): the eval
    blocklist arrives in three doc-id-interleaved slices and
    :func:`~mevi_spark.streaming.incremental.bloom_store` writes
    each batch's distinct set-bit POSITIONS (a mergeable set bounded by
    m — the bitset is an OR-fold, and OR-folding bitsets ≡ distinct
    over the position union) to the partial-dir store; a growing
    blocklist never re-hashes its history. The drained bitset
    (:func:`~mevi_spark.streaming.incremental.bloom_words`) is
    position-set-EQUAL to a from-scratch ``bloom_build`` over the full
    eval set, so the served read — the SAME map-side probe + exact
    verify composition as the batch query — runs against the IDENTICAL
    oracle. 100 TB shape: per-batch publish is ≤ m rows, the probe is
    map-side whole-stage-codegen xxhash64, and the verify join is
    sized by hits + false positives, never the corpus."""
    from mevi_spark.functions.bloom import bloom_probe
    from mevi_spark.operators.cache import defer_unpersist
    from mevi_spark.operators import dedup as D
    from mevi_spark.plans.pipeline_ops import _corpus, shingle_keys
    from mevi_spark.streaming.incremental import bloom_store, bloom_words

    m, k_h = 1 << 18, 4
    base = _tmp("bloom")
    corpus = _corpus(spark, sf_dir)
    ev_docs = corpus.filter(F.col("doc_id") >= 100000).select(
        "doc_id", "text"
    )
    for i in range(3):
        ev_docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", ev_docs.schema, max_files_per_trigger=1
    )
    store = bloom_store(
        f"{base}/out",
        "shingle",
        m,
        k_h,
        batch_prep=lambda b: shingle_keys(b, shingle_n=5),
    )
    store.start(stream, f"{base}/ckpt").awaitTermination()
    words = bloom_words(spark, store, m)
    # the served read: identical probe + exact-verify composition to
    # bloom_decontaminate (the staged slices partition the eval docs,
    # so the corpus-side eval union IS the accumulated blocklist)
    sh = D.shingle_frame(corpus, shingle_n=5).select(
        "doc_id", F.col("shingles").alias("s")
    ).persist()
    defer_unpersist(sh)
    ev = (
        sh.filter(F.col("doc_id") >= 100000)
        .select(F.explode("s").alias("g"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cand = (
        sh.filter(F.col("doc_id") < 100000)
        .select("doc_id", F.explode("s").alias("g"))
        .filter(bloom_probe(F.col("g"), words, m, k_h))
    )
    hits = cand.join(ev, "g").groupBy("doc_id").agg(
        F.count("*").alias("n")
    )
    ids = corpus.select("doc_id").filter(F.col("doc_id") < 100000)
    result = ids.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n", F.lit(0)).alias("n_overlap"),
        (F.coalesce("n", F.lit(0)) > 0).alias("contaminated"),
    )
    return _drained(result, base)


from mevi_spark.plans.pipeline_ops import RAKING_ORACLE


@register("streaming_raking", oracle=RAKING_ORACLE)
def streaming_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPF mixture weights maintained under document ingest (the
    maintenance twin of ``mixture_raking_weights``): documents arrive
    in three doc-id-interleaved slices and
    :func:`~mevi_spark.streaming.incremental.mixture_cells_store`
    lands each batch's own (lang, source) counts — the canonical
    sum-foldable partial, |langs|·|sources| rows per batch, the
    ``rollup_store`` pattern verbatim — so the merged cell table
    equals the one-shot groupBy over the accumulated corpus exactly.
    The re-rake is the SHARED driver-side ``rake_cells`` kernel over
    the merged k-bounded cells, returned against the IDENTICAL oracle
    as the batch query. 100 TB shape: each batch touches the corpus
    once for counts; every weight refresh is integer-exact IPF over
    ~|langs|·|sources| cells — never a corpus pass, and the weights
    stay current at any point of the ingest."""
    from mevi_spark.plans.pipeline_ops import rake_cells
    from mevi_spark.streaming.incremental import mixture_cells_store

    base = _tmp("rake")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", docs.schema, max_files_per_trigger=1
    )
    store = mixture_cells_store(f"{base}/out")
    store.start(stream, f"{base}/ckpt").awaitTermination()
    cells = [
        (r["lang"], r["source"], int(r["n"]))
        for r in store.state(spark).collect()
    ]
    return _drained(rake_cells(spark, cells), base)


from mevi_spark.plans.pipeline_ops import BUDGET_MIXTURE_ORACLE


@register("streaming_budget_fill", oracle=BUDGET_MIXTURE_ORACLE)
def streaming_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture fill served from state maintained under
    document ingest (the maintenance twin of ``token_budget_mixture``):
    documents arrive in three doc-id-interleaved slices;
    :func:`~mevi_spark.streaming.incremental.curriculum_store`
    scores each batch ONCE through the shared ``budget_scored`` kernel
    — the budget store IS the curriculum store with lang and token
    count carried in the (doc_id, lang, score, n_tok) partial — and
    pins score boundaries in the sidecar from the first batch. The
    served fill
    (:func:`~mevi_spark.streaming.incremental.budget_fill_state`) is
    the SHARED ``budget_fill`` tail — per-lang bucketed prefix sum
    under the pinned bounds, literal allocation map — over the merged
    narrow state, returned against the IDENTICAL oracle as the batch
    query; the store's compaction bounds its directory growth. 100 TB
    shape: the tokenizer runs once per doc at ingest; every fill read
    is three bounded passes over narrow rows with |langs|·P parallel
    window partitions, never a re-tokenize and never a
    one-task-per-domain window."""
    from mevi_spark.plans.pipeline_ops import budget_scored
    from mevi_spark.streaming.incremental import (
        budget_fill_state,
        curriculum_store,
    )

    base = _tmp("bfill")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", docs.schema, max_files_per_trigger=1
    )
    store = curriculum_store(f"{base}/out", budget_scored)
    store.start(stream, f"{base}/ckpt").awaitTermination()
    # exercise the store's watermark fold on the serving path: the
    # oracle equality below proves the fold changed nothing
    store.compact(spark)
    return _drained(budget_fill_state(spark, store), base)


from mevi_spark.plans.pruning_ops import ZORDER_BOX_ORACLE


@register("streaming_zorder", oracle=ZORDER_BOX_ORACLE)
def streaming_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered layout maintained under event ingest (the maintenance
    twin of ``zorder_box_scan`` — the ``OPTIMIZE ZORDER BY``
    lifecycle): events arrive in three event-id-interleaved slices,
    :func:`~mevi_spark.streaming.incremental.zorder_store`
    lands each batch as a z-clustered delta dir under bounds pinned by
    the first batch, and the SHARED box read
    (``pruning_ops.box_scan_agg``) runs over the maintained union —
    then again after the store's compaction folds the deltas into one
    re-clustered base, asserting the fold changes nothing. Oracle is
    ``zorder_box_scan``'s own SQL verbatim (the layout loses no rows);
    the pruning property of the per-batch delta files is pinned by
    ``tests/test_zorder.py``. 100 TB shape: per batch one range
    shuffle of the batch; compaction is the scheduled amortized
    rewrite, scoped per ingest partition at deployment."""
    from mevi_spark.functions.time import epoch_us
    from mevi_spark.plans.pruning_ops import box_scan_agg
    from mevi_spark.streaming.incremental import zorder_store

    base = _tmp("zord")
    ev = load_table(spark, sf_dir, "events")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    stream = stream_parquet_source(
        spark, f"{base}/in/s*", ev.schema, max_files_per_trigger=1
    )

    def x_of(df):
        return F.col("user_id")

    def y_of(df):
        return epoch_us(df, "ts")

    store = zorder_store(
        f"{base}/out", x_of, y_of, files_per_batch=8, n_files=24
    )
    store.start(stream, f"{base}/ckpt").awaitTermination()
    pre = sorted(map(tuple, box_scan_agg(store.state(spark)).collect()))
    assert store.compact(spark) == 3
    post_df = box_scan_agg(store.state(spark))
    assert sorted(map(tuple, post_df.collect())) == pre, (
        "compaction changed the box aggregate"
    )
    return _drained(post_df, base)
