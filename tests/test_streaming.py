"""M7 streaming: bounded-stream equivalence with the batch operators,
cross-batch session state, watermark window-close semantics."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from mevi_spark.operators.rq import assign_nearest, rq_level_centroids
from mevi_spark.streaming import (
    incremental_quantize,
    sessionize_stream,
    windowed_event_counts,
)
from mevi_spark.streaming.incremental import stream_parquet_source

from datetime import datetime


def _ts(h, m=0):
    return datetime(2024, 3, 1, h, m, 0)


def test_incremental_quantize_matches_batch(spark, sf_dir):
    base = tempfile.mkdtemp(prefix="mevi_t_quant_")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.repartition(3).write.mode("overwrite").parquet(f"{base}/in")
    cents = rq_level_centroids(emb, code_col="label", vec_col="embedding")
    stream = stream_parquet_source(
        spark, f"{base}/in", emb.schema, max_files_per_trigger=1
    )
    q = incremental_quantize(stream, cents, f"{base}/out", f"{base}/ckpt")
    q.awaitTermination()
    got = {
        (r.vec_id, int(r.code))
        for r in spark.read.parquet(f"{base}/out").collect()
    }
    want = {
        (r.vec_id, int(r.code))
        for r in assign_nearest(
            emb, cents, id_col="vec_id", vec_col="embedding"
        ).collect()
    }
    assert got == want and len(got) == emb.count()


def _write_slices(spark, base, slices, schema):
    for i, rows in enumerate(slices):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in/s{i:02d}")
    return f"{base}/in/s*"


def test_sessionize_stream_cross_batch_state(spark):
    """A session spanning the micro-batch boundary must come out whole
    (state carries), and only closed sessions are emitted."""
    base = tempfile.mkdtemp(prefix="mevi_t_sess_")
    schema = "event_id long, ts timestamp, user_id long"
    # user 1: events 10:00, 10:10 (batch 1), 10:20 (batch 2) → one
    # session, closed by the 12:00 event; 12:00 itself stays open.
    # user 2: single open session → nothing emitted.
    s1 = [(1, _ts(10, 0), 1), (2, _ts(10, 10), 1), (100, _ts(10, 0), 2)]
    s2 = [(3, _ts(10, 20), 1), (4, _ts(12, 0), 1), (101, _ts(10, 5), 2)]
    glob = _write_slices(spark, base, [s1, s2], schema)
    stream = stream_parquet_source(
        spark,
        glob,
        spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sess")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_sess").collect()
    assert len(rows) == 1
    (r,) = rows
    assert r.user_id == 1 and r.n_events == 3
    assert str(r.session_start).startswith("2024-03-01 10:00")
    assert str(r.session_end).startswith("2024-03-01 10:20")


def test_windowed_counts_emit_closed_windows_only(spark):
    """Append mode emits exactly the windows the final watermark has
    passed; the window containing max(ts) stays open."""
    base = tempfile.mkdtemp(prefix="mevi_t_win_")
    schema = "event_id long, ts timestamp, event_type string, value double"
    s1 = [(1, _ts(0, 10), "a", 1.5), (2, _ts(0, 40), "b", 2.0)]
    s2 = [(3, _ts(1, 10), "a", 3.0), (4, _ts(5, 0), "a", 1.0)]
    glob = _write_slices(spark, base, [s1, s2], schema)
    stream = stream_parquet_source(
        spark,
        glob,
        spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    agg = windowed_event_counts(
        stream, window_duration="1 hour", watermark_delay="30 minutes"
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_win")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r.win_start), r.event_type, r.n_events, r.sum_value_e6)
        for r in spark.table("t_win").collect()
    }
    # final watermark = 05:00 − 30 min = 04:30 → hours 0 and 1 closed,
    # hour 5 (the max-ts window) still open and withheld
    assert got == {
        ("2024-03-01 00:00:00", "a", 1, 1_500_000),
        ("2024-03-01 00:00:00", "b", 1, 2_000_000),
        ("2024-03-01 01:00:00", "a", 1, 3_000_000),
    }


def test_sessionize_stream_watermark_evicts_state(spark):
    """EventTimeTimeout eviction (VERDICT r3 stretch #9): when the
    watermark passes a quiet user's last_event + gap, their open session
    is flushed and the state slot removed — the batch gap-close rule
    driven by the watermark. A user whose session could still continue
    at end-of-stream keeps their state unemitted."""
    base = tempfile.mkdtemp(prefix="mevi_t_evict_")
    schema = "event_id long, ts timestamp, user_id long"
    # user 1 goes quiet after 09:05; user 2's later events advance the
    # watermark past 09:05 + 30 min, evicting user 1's open session.
    # user 2's first session closes by gap; their last stays open.
    s1 = [(1, _ts(9, 0), 1), (2, _ts(9, 5), 1), (100, _ts(9, 0), 2)]
    s2 = [(101, _ts(10, 30), 2)]
    s3 = [(102, _ts(11, 0), 2)]
    glob = _write_slices(spark, base, [s1, s2, s3], schema)
    stream = stream_parquet_source(
        spark,
        glob,
        spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    ).withWatermark("ts", "1 second")
    q = (
        sessionize_stream(stream, evict=True)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_evict")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.user_id, r.n_events, str(r.session_start), str(r.session_end))
        for r in spark.table("t_evict").collect()
    )
    assert got == [
        # user 1: open session evicted once the watermark proved it dead
        (1, 2, "2024-03-01 09:00:00", "2024-03-01 09:05:00"),
        # user 2: first session closed by the 10:30 gap event; the
        # 10:30/11:00 session stays open (watermark never passes it)
        (2, 1, "2024-03-01 09:00:00", "2024-03-01 09:00:00"),
    ]


def test_streaming_dedup_ingest_exactly_once(spark, sf_dir):
    """At-least-once delivery (every slice delivered twice) through
    dedup_stream must drain to exactly the batch events table — no row
    lost, no row doubled. The replay harness (staged slices, checkpoint,
    memory-sink view) must be freed after the drain."""
    import glob as _glob
    import tempfile as _tf

    from mevi_spark.plans.streaming_ops import streaming_dedup_ingest
    from mevi_spark.sources.io import load_table

    before = set(_glob.glob(f"{_tf.gettempdir()}/mevi_stream_dedup_*"))
    got = sorted(
        (r.event_id, str(r.ts), r.event_type, r.value)
        for r in streaming_dedup_ingest(spark, sf_dir).collect()
    )
    want = sorted(
        (r.event_id, str(r.ts), r.event_type, r.value)
        for r in load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .collect()
    )
    assert len(got) == len(want) and got == want
    after = set(_glob.glob(f"{_tf.gettempdir()}/mevi_stream_dedup_*"))
    assert after == before, "replay harness directories leaked"


def test_windowed_counts_drop_late_rows(spark):
    """An event arriving after the watermark provably passed its window
    is dropped — the already-emitted window is never revised and no
    late-window row appears (the append-mode contract downstream
    consumers rely on; without it they would double-count).

    Watermark-lag subtlety this test encodes (measured on 4.1.2, and
    why the dedup-ingest safety argument is lag-independent): the
    watermark a batch's stateful operator APPLIES is computed from data
    in batches strictly BEFORE the previous one — the progress report
    shows the new value one batch before it takes effect. So the late
    slice here arrives after TWO watermark-advancing slices, making its
    row late under the operator's effective watermark (04:40), not just
    the reported one."""
    base = tempfile.mkdtemp(prefix="mevi_t_late_")
    schema = "event_id long, ts timestamp, event_type string, value double"
    s1 = [(1, _ts(0, 10), "a", 1.0)]
    s2 = [(2, _ts(5, 0), "a", 1.0)]    # new watermark 04:30 (not yet applied)
    s3 = [(3, _ts(5, 10), "a", 1.0)]   # 04:30 applies; new 04:40
    s4 = [(4, _ts(0, 20), "a", 100.0)]  # LATE under effective 04:30/04:40
    s5 = [(5, _ts(6, 30), "a", 1.0)]   # pushes watermark past hour 5's end
    glob = _write_slices(spark, base, [s1, s2, s3, s4, s5], schema)
    stream = stream_parquet_source(
        spark,
        glob,
        spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    agg = windowed_event_counts(
        stream, window_duration="1 hour", watermark_delay="30 minutes"
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r.win_start), r.n_events, r.sum_value_e6)
        for r in spark.table("t_late").collect()
    }
    # hour 0 emitted with ONLY event 1 — the late event 4 (value 100)
    # is nowhere: not a revision, not a fresh row; hour 5 closed with
    # its two events; hour 6 (max-ts window) withheld
    assert got == {
        ("2024-03-01 00:00:00", 1, 1_000_000),
        ("2024-03-01 05:00:00", 2, 2_000_000),
    }


def test_incremental_topk_replay_idempotent(spark, sf_dir):
    """A replayed micro-batch (restart-from-checkpoint) re-merges the
    same batch-local top-k; the maintained table must not grow duplicate
    (query, doc) rows that would occupy two ranks and evict legitimate
    docs."""
    import tempfile as _tf

    from mevi_spark.streaming import incremental_topk
    from mevi_spark.streaming.incremental import stream_parquet_source

    base = _tf.mkdtemp(prefix="mevi_t_itopk_")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = emb.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("doc_vec")
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    docs.repartition(3).write.mode("overwrite").parquet(f"{base}/in")
    schema = docs.schema
    for ck in ("ckpt1", "ckpt2"):  # second run = full replay of every file
        stream = stream_parquet_source(
            spark, f"{base}/in", schema, max_files_per_trigger=1
        )
        q = incremental_topk(
            stream, queries, f"{base}/out", f"{base}/{ck}", k=5
        )
        q.awaitTermination()
    out = spark.read.parquet(f"{base}/out")
    per_q = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in per_q)
    pairs = out.select("query_id", "doc_id").collect()
    assert len(pairs) == len({(r.query_id, r.doc_id) for r in pairs})


def test_incremental_topk_shared_parent_isolation(spark, sf_dir):
    """ADVICE r6: two incremental_topk streams publishing under ONE
    shared parent must not reap each other's live version dirs or
    dangle each other's symlink — prefixes are namespaced by the output
    basename."""
    import os
    import tempfile as _tf

    from mevi_spark.streaming import incremental_topk
    from mevi_spark.streaming.incremental import stream_parquet_source

    base = _tf.mkdtemp(prefix="mevi_t_itopk_iso_")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = emb.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("doc_vec")
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    docs.write.mode("overwrite").parquet(f"{base}/in")
    schema = docs.schema
    for name in ("out_a", "out_b"):
        stream = stream_parquet_source(spark, f"{base}/in", schema)
        q = incremental_topk(
            stream, queries, f"{base}/{name}", f"{base}/ck_{name}", k=5
        )
        q.awaitTermination()
    # stream B ran after A: A's symlink must still resolve to a live dir
    for name in ("out_a", "out_b"):
        link = f"{base}/{name}"
        assert os.path.islink(link)
        assert os.path.isdir(os.path.realpath(link)), f"{name} dangles"
        assert spark.read.parquet(link).count() > 0


def test_incremental_topk_superseded_version_grace(spark, sf_dir, monkeypatch):
    """VERDICT r6 #5: a reader that resolved the published version just
    before a new publish must survive the flip — the superseded dir is
    mark-then-reaped after a grace period, not deleted immediately."""
    import os
    import tempfile as _tf

    from mevi_spark.streaming import incremental_topk
    from mevi_spark.streaming.incremental import stream_parquet_source

    base = _tf.mkdtemp(prefix="mevi_t_itopk_grace_")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = emb.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("doc_vec")
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    half = docs.filter(F.col("doc_id") % 2 == 0)
    half.write.mode("overwrite").parquet(f"{base}/in")
    schema = docs.schema
    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_GRACE", "3600")
    stream = stream_parquet_source(spark, f"{base}/in", schema)
    incremental_topk(
        stream, queries, f"{base}/out", f"{base}/ck", k=5
    ).awaitTermination()
    # a reader resolves the CURRENT version (as a concurrent scan would)
    v1 = os.path.realpath(f"{base}/out")
    rows_v1 = spark.read.parquet(v1).collect()
    # second publish supersedes v1
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(
        f"{base}/in"
    )
    stream = stream_parquet_source(spark, f"{base}/in", schema)
    incremental_topk(
        stream, queries, f"{base}/out", f"{base}/ck", k=5
    ).awaitTermination()
    v2 = os.path.realpath(f"{base}/out")
    assert v2 != v1
    # the mid-scan reader's target is intact within the grace window
    assert os.path.isdir(v1)
    assert spark.read.parquet(v1).collect() == rows_v1
    # with grace forced to zero, the next publish reaps the marked dir
    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_GRACE", "0")
    docs.limit(1).write.mode("append").parquet(f"{base}/in")
    stream = stream_parquet_source(spark, f"{base}/in", schema)
    incremental_topk(
        stream, queries, f"{base}/out", f"{base}/ck", k=5
    ).awaitTermination()
    assert not os.path.exists(v1), "graced dir should reap once expired"


def test_incremental_merge_replays_identically_and_tombstones_hold(spark):
    """The maintained CDC table (a) republishes an identical table on a
    full replay of every slice from a fresh checkpoint — versions and
    tombstones persist, so re-merging absorbed rows changes nothing —
    and (b) keeps a deleted key deleted when a lower-version upsert for
    it arrives in a later slice."""
    import shutil
    import tempfile as _tf

    from mevi_spark.streaming import incremental_merge
    from mevi_spark.streaming.incremental import stream_parquet_source

    base = _tf.mkdtemp(prefix="mevi_t_imerge_")
    table = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    schema = "k long, v string, _op string, _version long"
    slices = [
        [(2, "b2", "U", 2), (4, "d", "U", 2)],
        [(2, None, "D", 5), (3, "c3", "U", 3)],
        # arrives after the v5 tombstone with a LOWER version
        [(2, "b-late", "U", 4), (1, "a1", "U", 1)],
    ]
    try:
        for i, rows in enumerate(slices):
            sl = spark.createDataFrame(rows, schema)
            sl.coalesce(1).write.parquet(f"{base}/in/s{i:02d}")

        def drain(ckpt):
            stream = stream_parquet_source(spark, f"{base}/in/s*", sl.schema)
            incremental_merge(
                stream, table, ["k"], f"{base}/out", f"{base}/{ckpt}"
            ).awaitTermination()
            return sorted(
                (r.k, r.v, r._version, r._op)
                for r in spark.read.parquet(f"{base}/out").collect()
            )

        first = drain("ckpt")
        assert first == [
            (1, "a1", 1, "U"),
            (2, None, 5, "D"),  # the tombstone outlives the late upsert
            (3, "c3", 3, "U"),
            (4, "d", 2, "U"),
        ]
        assert drain("fresh_ckpt") == first
    finally:
        shutil.rmtree(base, ignore_errors=True)
