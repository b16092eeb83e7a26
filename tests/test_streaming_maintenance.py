"""Round-8 maintenance operators: incremental near-dup convergence to
the batch answer, rollup partial replay-idempotence, and the
compaction state bound (buckets×types rows in one dir, crash-safe
watermark semantics)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mevi_spark.operators.rollup import (
    finalize_rollup,
    merge_rollup_partials,
    rollup_partials,
)
from mevi_spark.plans.plan_facts import plan_facts
from mevi_spark.streaming.incremental import rollup_store


def _events(spark):
    # two types, timestamps spread over 3 minutes within one hour
    rows = [
        (i, 1000 + i % 2, f"t{i % 2}", float(i) / 4) for i in range(24)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    )
    return df.withColumn(
        "ts", F.timestamp_micros((F.col("event_id") * 7_000_000 + F.lit(1_000_000_000)))
    )


def test_rollup_partials_merge_equals_whole(spark):
    """Mergeability, the claim itself: partials over disjoint halves,
    merged, equal partials over the union — for counts and exact sums."""
    ev = _events(spark)
    a = rollup_partials(ev.filter(F.col("event_id") < 12))
    b = rollup_partials(ev.filter(F.col("event_id") >= 12))
    merged = {
        (r.resolution, r.bucket_us, r.event_type): (r.n_events, r.sum_e6)
        for r in merge_rollup_partials(a.unionByName(b)).collect()
    }
    whole = {
        (r.resolution, r.bucket_us, r.event_type): (r.n_events, r.sum_e6)
        for r in rollup_partials(ev).collect()
    }
    assert merged == whole


def test_rollup_state_compaction_bound_and_idempotent_replay(spark):
    """The rollup store's family-specific bounds (replay and the fold
    itself: ``test_partial_store_replay_and_compaction``): after the
    fold the base holds exactly buckets×types rows, and the state
    finalizes to the rollup shape."""
    ev = _events(spark)
    base = tempfile.mkdtemp(prefix="mevi_test_rollup_")
    out = f"{base}/out"
    store = rollup_store(out)
    for i in range(3):
        store.write(ev.filter(F.col("event_id") % 3 == i), i)
    assert store.compact(spark) == 3
    # the eviction bound: the base holds exactly buckets×types rows
    n_combo = rollup_partials(ev).count()
    assert spark.read.parquet(f"{out}/base").count() == n_combo
    fin = finalize_rollup(store.state(spark))
    assert set(fin.columns) == {
        "resolution", "bucket_us", "event_type", "n_events", "sum_value",
    }


# ---------------------------------------------------------------------------
# the partial store, parametrized over every family that keeps one


def _rows(df, cols):
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def _equal_check(read, want):
    """A store check that asserts the read equals the family's one-shot
    answer over ``whole`` and returns it as the comparison snapshot."""

    def check(spark, store, whole):
        got = read(spark, store)
        assert got == want(spark, whole)
        return got

    return check


def _split4(df, col):
    return [df.filter(F.col(col) % 4 == i) for i in range(4)]


def _rollup_case(spark, root):
    from mevi_spark.streaming.incremental import rollup_store

    cols = ["resolution", "bucket_us", "event_type", "n_events", "sum_e6"]
    return (
        rollup_store(f"{root}/out"),
        _split4(_events(spark), "event_id"),
        _equal_check(
            lambda spark, s: _rows(s.state(spark), cols),
            lambda spark, w: _rows(rollup_partials(w), cols),
        ),
    )


def _lexical_case(spark, root):
    from mevi_spark.operators.lexical import lexical_partials
    from mevi_spark.streaming.incremental import lexical_store

    texts = [
        "the cat sat", "the dog sat down", "a cat ran", "the the the",
        "", "dog park", "cat and dog", "late arrival text",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    cols = ["term", "df", "n_docs", "sum_dl"]
    return (
        lexical_store(f"{root}/out"),
        _split4(docs, "doc_id"),
        _equal_check(
            lambda spark, s: _rows(s.state(spark), cols),
            lambda spark, w: _rows(lexical_partials(w), cols),
        ),
    )


def _eval_case(spark, root):
    from mevi_spark.operators.metrics import (
        eval_metric_partials,
        finalize_eval_metrics,
        per_query_metrics,
    )
    from mevi_spark.streaming.incremental import eval_metrics_store

    runs = spark.createDataFrame(
        [
            (q, [10 * q + j for j in range(q % 3 + 1)], [10 * q + q % 2])
            for q in range(8)
        ],
        "query long, preds array<long>, gt_ids array<long>",
    )

    def partial_fn(b):
        return eval_metric_partials(
            per_query_metrics(
                b.select("query", "preds"), b.select("query", "gt_ids"),
                cutoffs=(1, 3),
            )
        )

    cols = ["k", "recall", "mrr", "hitrate", "n_queries"]
    return (
        eval_metrics_store(f"{root}/out", partial_fn),
        _split4(runs, "query"),
        _equal_check(
            lambda spark, s: _rows(
                finalize_eval_metrics(s.state(spark)), cols
            ),
            lambda spark, w: _rows(finalize_eval_metrics(partial_fn(w)), cols),
        ),
    )


def _quantile_case(spark, root):
    from mevi_spark.operators.sketch import mp_certify
    from mevi_spark.streaming.incremental import quantile_store

    n = 400
    vals = spark.createDataFrame(
        [(i, "t", float((i * 37) % n)) for i in range(n)],
        "i long, event_type string, value double",
    )

    def check(spark, store, whole):
        # a compactor summary is not merge-order-invariant: the one-shot
        # answer is the certificate against the accumulated corpus
        mp_certify(store.state(spark), whole, k=16)
        return _rows(store.state(spark), ["event_type", "level", "value"])

    return quantile_store(f"{root}/out", k=16), _split4(vals, "i"), check


def _kmv_case(spark, root):
    from mevi_spark.operators.sketch import kmv_bottom_k
    from mevi_spark.streaming.incremental import kmv_store

    keys = spark.createDataFrame(
        [(i, f"s{i}") for i in range(200)], "i long, key string"
    )
    return (
        kmv_store(f"{root}/out", "key", k=16),
        _split4(keys, "i"),
        _equal_check(
            lambda spark, s: _rows(s.state(spark), ["key", "hh"]),
            lambda spark, w: _rows(kmv_bottom_k(w, "key", 16), ["key", "hh"]),
        ),
    )


def _grouped_kmv_case(spark, root):
    from mevi_spark.operators.sketch import kmv_bottom_k_grouped
    from mevi_spark.streaming.incremental import grouped_kmv_store

    rows = spark.createDataFrame(
        [(i, f"g{i % 3}", f"key{i}") for i in range(200)],
        "i long, grp string, key string",
    )
    cols = ["grp", "rnk", "key", "hh"]
    return (
        grouped_kmv_store(f"{root}/out", "key", ["grp"], k=4, salt="gsample"),
        _split4(rows, "i"),
        _equal_check(
            lambda spark, s: _rows(s.state(spark), cols),
            lambda spark, w: _rows(
                kmv_bottom_k_grouped(w, "key", 4, ["grp"], salt="gsample"),
                cols,
            ),
        ),
    )


def _bloom_case(spark, root):
    from mevi_spark.functions.bloom import bloom_build
    from mevi_spark.streaming.incremental import bloom_store, bloom_words

    m, k = 1 << 12, 3
    keys = spark.createDataFrame(
        [(i, f"blk-{i}") for i in range(400)], "i long, g string"
    )
    return (
        bloom_store(f"{root}/out", "g", m, k),
        _split4(keys, "i"),
        _equal_check(
            lambda spark, s: bloom_words(spark, s, m),
            lambda spark, w: bloom_build(w, "g", m, k),
        ),
    )


def _mixture_cells_case(spark, root):
    from mevi_spark.streaming.incremental import mixture_cells_store

    docs = spark.createDataFrame(
        [
            (i, ["en", "fr", "de"][i % 3], ["web", "books"][i % 5 % 2])
            for i in range(120)
        ],
        "doc_id long, lang string, source string",
    )
    cols = ["lang", "source", "n"]
    return (
        mixture_cells_store(f"{root}/out"),
        _split4(docs, "doc_id"),
        _equal_check(
            lambda spark, s: _rows(s.state(spark), cols),
            lambda spark, w: _rows(
                w.groupBy("lang", "source").agg(
                    F.count("*").cast("long").alias("n")
                ),
                cols,
            ),
        ),
    )


def _curriculum_case(spark, root):
    from mevi_spark.streaming.incremental import (
        curriculum_state,
        curriculum_store,
    )

    # tied scores across batches: the served order breaks ties by id
    scored = spark.createDataFrame(
        [(i, float(i % 7) / 7.0) for i in range(120)],
        "doc_id long, score double",
    )

    def want(spark, whole):
        ranked = sorted((r.score, r.doc_id) for r in whole.collect())
        return {d: i + 1 for i, (_, d) in enumerate(ranked)}

    return (
        curriculum_store(f"{root}/out", lambda b: b, n_buckets=4),
        _split4(scored, "doc_id"),
        _equal_check(
            lambda spark, s: {
                r.doc_id: r.global_rank
                for r in curriculum_state(spark, s).collect()
            },
            want,
        ),
    )


def _zorder_case(spark, root):
    from mevi_spark.streaming.incremental import zorder_store

    ev = spark.createDataFrame(
        [(i, i * 7 % 50, 1_000_000 + i * 3_600) for i in range(160)],
        "event_id long, user_id long, ts_us long",
    )
    cols = ["event_id", "user_id", "ts_us"]
    return (
        zorder_store(
            f"{root}/out",
            lambda df: F.col("user_id"),
            lambda df: F.col("ts_us"),
            files_per_batch=2,
            n_files=3,
        ),
        _split4(ev, "event_id"),
        _equal_check(
            lambda spark, s: _rows(s.state(spark), cols),
            lambda spark, w: _rows(w, cols),
        ),
    )


def _wds_case(spark, root):
    from collections import Counter

    from mevi_spark.sources.wds import SAMPLE_SCHEMA, _BATCH_STRIDE, wds_store

    samples = spark.createDataFrame(
        [(i, "image", bytes([i]) * (i + 1), 4, 2, 1) for i in range(24)],
        SAMPLE_SCHEMA,
    )
    # batch i holds doc_ids 6i..6i+5, spread over two shards per batch
    batches = [
        samples.filter(F.col("doc_id").between(6 * i, 6 * i + 5))
        for i in range(4)
    ]

    def want(spark, whole):
        c = Counter(
            (r.doc_id // 6) * _BATCH_STRIDE + r.doc_id % 2
            for r in whole.select("doc_id").collect()
        )
        return sorted(c.items())

    return (
        wds_store(root, shards_per_batch=2),
        batches,
        _equal_check(
            lambda spark, s: sorted(
                (r.shard_id, r.n_samples) for r in s.state(spark).collect()
            ),
            want,
        ),
    )


_STORE_CASES = {
    "rollup": _rollup_case,
    "lexical": _lexical_case,
    "eval_metrics": _eval_case,
    "quantiles": _quantile_case,
    "kmv": _kmv_case,
    "grouped_kmv": _grouped_kmv_case,
    "bloom": _bloom_case,
    "mixture_cells": _mixture_cells_case,
    "curriculum": _curriculum_case,
    "zorder": _zorder_case,
    "wds": _wds_case,
}


@pytest.mark.parametrize("family", sorted(_STORE_CASES))
def test_partial_store_replay_and_compaction(spark, family, monkeypatch):
    """Every partial store, driven only through its own ``write``: the
    merged state equals the family's one-shot answer; a replayed batch
    changes nothing before or after the fold; the fold absorbs every
    live dir; a crash between writing the new base and flipping the
    symlink changes no read, and the next fold reaps the orphan; late
    batches stay live until the next fold."""
    import functools
    import shutil

    from mevi_spark.plans.staging import _STALE_MARK

    root = tempfile.mkdtemp(prefix=f"mevi_test_store_{family}_")
    try:
        store, batches, check = _STORE_CASES[family](spark, root)

        def whole(n):
            return functools.reduce(
                lambda a, b: a.unionByName(b), batches[:n]
            )

        for i in range(3):
            store.write(batches[i], i)
        snap = check(spark, store, whole(3))
        # a crashed batch replays into its own dir: nothing changes
        store.write(batches[1], 1)
        assert check(spark, store, whole(3)) == snap
        assert store.compact(spark) == 3
        assert store.live() == []
        assert check(spark, store, whole(3)) == snap
        # an absorbed batch replayed after the fold is excluded by the
        # base's watermark
        store.write(batches[1], 1)
        assert store.live() == []
        assert check(spark, store, whole(3)) == snap
        # a late batch stays live until the next fold
        store.write(batches[3], 3)
        assert len(store.live()) == 1
        snap = check(spark, store, whole(4))
        # crash window: the fold wrote its version dir, then died before
        # the symlink flip — readers never see the orphan
        orphans = []

        def crash(src, dst):
            orphans.append(src)
            raise OSError("crash before the base flip")

        with monkeypatch.context() as m:
            m.setattr(os, "symlink", crash)
            with pytest.raises(OSError, match="crash before the base flip"):
                store.compact(spark)
        assert len(orphans) == 1 and os.path.isdir(orphans[0])
        assert len(store.live()) == 1
        assert check(spark, store, whole(4)) == snap
        # the next fold absorbs the late batch and marks the orphan stale
        assert store.compact(spark) == 1
        assert os.path.exists(os.path.join(orphans[0], _STALE_MARK))
        assert check(spark, store, whole(4)) == snap
        assert store.compact(spark) == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_incremental_neardup_converges_to_batch(spark):
    """Two batches, every near-dup pair SPANNING them: the drained
    index+pairs state equals the one-shot batch dedup_minhash — the
    cross-batch probe finds exactly what the self-join would."""
    from mevi_spark.operators.dedup import dedup_minhash
    from mevi_spark.streaming.incremental import incremental_neardup

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    docs = [
        (1, words),
        (2, words + " kilo"),             # near dup of 1
        (3, "totally different content here nothing shared at all x y"),
        (4, words),                        # exact dup of 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in dedup_minhash(df, num_hashes=12, bands=4, threshold=0.5)
        .collect()
    }
    assert want  # fixture must actually contain qualifying pairs

    base = tempfile.mkdtemp(prefix="mevi_test_ndup_")
    for i, pred in enumerate((F.col("doc_id") <= 2, F.col("doc_id") > 2)):
        df.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            f"{base}/in/s{i:02d}"
        )
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/in/s*")
    )
    q = incremental_neardup(
        stream, f"{base}/out", f"{base}/ckpt",
        num_hashes=12, bands=4, threshold=0.5,
    )
    q.awaitTermination()
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in spark.read.parquet(f"{base}/out/pairs").collect()
    }
    assert got == want
    # the index carries every ingested doc exactly once
    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{base}/out/index").collect()
    ) == [1, 2, 3, 4]
    import shutil

    shutil.rmtree(base, ignore_errors=True)


def test_incremental_heavy_hitters_complete_and_replay_safe(spark):
    """The maintained MG summary (a) never exceeds capacity, (b) keeps
    every term above N/(capacity+1) across multi-batch ingest with a
    skewed vocabulary larger than capacity, and (c) re-running the
    drained stream against the SAME checkpoint absorbs nothing twice
    (the batch-id replay guard)."""
    import shutil

    from collections import Counter

    from mevi_spark.streaming import incremental_heavy_hitters
    from mevi_spark.streaming.incremental import stream_parquet_source

    import random

    data = []
    for i in range(4):
        data += [f"h{i}"] * (120 + 40 * i)
    for j in range(120):
        data += [f"t{j}"] * (1 + j % 2)
    random.Random(3).shuffle(data)
    cnt, n, cap = Counter(data), len(data), 24
    base = tempfile.mkdtemp(prefix="mevi_hh_t_")
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "i long, term string"
    )
    try:
        for s in range(3):
            df.filter(F.col("i") % 3 == s).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{base}/in/s{s:02d}")
        stream = stream_parquet_source(
            spark, f"{base}/in/s*", df.schema, max_files_per_trigger=1
        )
        terms = stream.select("term")

        def run():
            q = incremental_heavy_hitters(
                terms, f"{base}/out", f"{base}/ckpt", cap, col="term"
            )
            q.awaitTermination()
            return {
                r.term: r.cnt
                for r in spark.read.parquet(f"{base}/out").collect()
            }

        state = run()
        assert len(state) <= cap
        must = {t for t, c in cnt.items() if c > n / (cap + 1)}
        assert must <= set(state), must - set(state)
        # undercount bound: stored ≤ true, deficit ≤ N/(cap+1)
        for t, c in state.items():
            assert c <= cnt[t]
            assert cnt[t] - c <= n / (cap + 1) + 1e-9
        # replay: same checkpoint, no new files → state unchanged
        assert run() == state
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_incremental_heavy_hitters_fresh_checkpoint_raises(spark):
    """Counter merges are not idempotent, so the summary's sidecar
    records the last absorbed batch id. A fresh checkpoint restarts
    batch ids at 0; reusing the output with it must fail loudly instead
    of skipping every batch until the ids catch up."""
    import shutil

    from mevi_spark.streaming import incremental_heavy_hitters
    from mevi_spark.streaming.incremental import (
        VersionedTable,
        stream_parquet_source,
    )

    base = tempfile.mkdtemp(prefix="mevi_hh_ckpt_")
    df = spark.createDataFrame(
        [(i, f"t{i % 5}") for i in range(30)], "i long, term string"
    )
    try:
        for s in range(3):
            df.filter(F.col("i") % 3 == s).coalesce(1).write.parquet(
                f"{base}/in/s{s:02d}"
            )

        def run(ckpt):
            stream = stream_parquet_source(
                spark, f"{base}/in/s*", df.schema, max_files_per_trigger=1
            )
            incremental_heavy_hitters(
                stream.select("term"), f"{base}/out", f"{base}/{ckpt}", 3,
                col="term",
            ).awaitTermination()

        def state():
            return sorted(
                tuple(r) for r in spark.read.parquet(f"{base}/out").collect()
            )

        run("ckpt")
        assert VersionedTable(f"{base}/out", "hh").meta() == {"last_bid": 2}
        before = state()
        with pytest.raises(
            Exception, match="absorbed batch 2 but the stream is at batch 0"
        ):
            run("fresh_ckpt")
        assert state() == before
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_rollup_partials_single_resolution(spark):
    """A one-entry resolutions dict is a legal use of the documented
    parameter — it must produce a constant-label rollup, not crash on
    an empty when-chain (round-8 review finding)."""
    ev = _events(spark)
    got = {
        (r.resolution, r.bucket_us, r.event_type): (r.n_events, r.sum_e6)
        for r in rollup_partials(
            ev, resolutions={"1h": 3_600_000_000}
        ).collect()
    }
    assert got
    assert {k[0] for k in got} == {"1h"}
    full = {
        k: v
        for k, v in (
            (
                (r.resolution, r.bucket_us, r.event_type),
                (r.n_events, r.sum_e6),
            )
            for r in rollup_partials(ev).collect()
        )
        if k[0] == "1h"
    }
    assert got == full


def test_neardup_probe_bucket_pruning(spark):
    """The wired bucketed band layout (VERDICT r8 next-round #5): the
    published band table is hive-partitioned by the band-key bucket,
    the probe's bucket filter plans as PartitionFilters, and the
    scanned-file set SHRINKS with bucket count — n_buckets=1 must read
    every band file, n_buckets=16 only the batch's buckets. Also pins
    the n_buckets restart guard."""
    import glob
    import os
    import shutil

    import pytest

    from mevi_spark.operators.dedup import banded_keys, minhash_frame
    from mevi_spark.streaming.incremental import (
        band_bucket_expr,
        incremental_neardup,
    )

    rng_words = [
        " ".join(f"w{i}x{j}" for j in range(12)) for i in range(40)
    ]
    df = spark.createDataFrame(
        [(i, rng_words[i]) for i in range(40)], "doc_id long, text string"
    )
    base = tempfile.mkdtemp(prefix="mevi_test_ndbkt_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s00")

        def build(nb_count, out):
            stream = (
                spark.readStream.schema(df.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{base}/in/s*")
            )
            q = incremental_neardup(
                stream, f"{base}/{out}", f"{base}/ckpt_{out}",
                num_hashes=12, bands=4, threshold=0.5,
                n_buckets=nb_count,
            )
            q.awaitTermination()
            return f"{base}/{out}/bands"

        b16 = build(16, "o16")
        b1 = build(1, "o1")

        def band_files(bands_dir, bkts=None):
            real = os.path.realpath(bands_dir)
            pat = (
                f"{real}/_bkt=*/*.parquet"
                if bkts is None
                else None
            )
            if pat:
                return sorted(glob.glob(pat))
            return sorted(
                f
                for b in bkts
                for f in glob.glob(f"{real}/_bkt={b}/*.parquet")
            )

        # the probe's bucket set for a one-doc batch
        probe_doc = spark.createDataFrame(
            [(999, rng_words[3])], "doc_id long, text string"
        )
        nb = banded_keys(
            minhash_frame(probe_doc, "text", "doc_id", 12, 3),
            "doc_id", "sig", 4, sig_len=12,
        )
        bk16 = [
            r[0]
            for r in nb.withColumn("_bkt", band_bucket_expr(16))
            .select("_bkt").distinct().collect()
        ]
        bk1 = [
            r[0]
            for r in nb.withColumn("_bkt", band_bucket_expr(1))
            .select("_bkt").distinct().collect()
        ]
        all16, hit16 = band_files(b16), band_files(b16, bk16)
        all1, hit1 = band_files(b1), band_files(b1, bk1)
        assert len(bk16) <= 4  # ≤ bands buckets for a one-doc batch
        # the scanned FRACTION of the band table shrinks with bucket
        # count: at n_buckets=1 the probe must read every file, at 16
        # only the batch's ≤4 buckets' files
        assert 0 < len(hit16) < len(all16), (len(hit16), len(all16))
        assert hit1 == all1  # one bucket: pruning impossible
        # dir-level: the probe opens at most the batch's bucket dirs
        real16 = os.path.realpath(b16)
        n_dirs = len(glob.glob(f"{real16}/_bkt=*"))
        assert n_dirs > len(bk16), (n_dirs, bk16)
        # the probe scan itself plans partition pruning on _bkt
        probe = spark.read.parquet(b16).filter(
            F.col("_bkt").isin([int(b) for b in bk16])
        )
        (scan,) = plan_facts(probe).scans
        assert scan.partition_filters and scan.partitions == len(bk16)
        # probing the pruned buckets still finds doc 3's band rows
        got = probe.join(
            nb.select("band", "key"), ["band", "key"]
        ).select("_id").distinct().collect()
        assert 3 in {r["_id"] for r in got}
        # restart with a different n_buckets fails loudly
        df.coalesce(1).write.mode("overwrite").parquet(f"{base}/in2/s00")
        stream2 = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{base}/in2/s*")
        )
        q2 = incremental_neardup(
            stream2, f"{base}/o16", f"{base}/ckpt_guard",
            num_hashes=12, bands=4, threshold=0.5, n_buckets=4,
        )
        with pytest.raises(Exception, match="n_buckets"):
            q2.awaitTermination()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_neardup_survives_all_short_first_batch(spark):
    """Review r9: a FIRST micro-batch whose docs all have fewer words
    than shingle_n yields zero band rows; the partitioned bands publish
    must still leave a READABLE version (a zero-row hive-partitioned
    write emits only _SUCCESS — no schema-bearing file — and every
    later batch then dies at read.parquet, wedging the stream across
    restarts). After the fix the stream drains and the cross-batch
    pair is still found."""
    import shutil

    from mevi_spark.streaming.incremental import incremental_neardup

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    docs = [
        (1, "tiny"),          # batch 0: shorter than shingle_n -> no bands
        (2, "a b"),
        (10, words),          # batch 1 and 2: a cross-batch near-dup pair
        (11, words + " kilo"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    base = tempfile.mkdtemp(prefix="mevi_test_ndshort_")
    try:
        splits = (
            F.col("doc_id") < 10,
            F.col("doc_id") == 10,
            F.col("doc_id") == 11,
        )
        for i, pred in enumerate(splits):
            df.filter(pred).coalesce(1).write.mode("overwrite").parquet(
                f"{base}/in/s{i:02d}"
            )
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{base}/in/s*")
        )
        q = incremental_neardup(
            stream, f"{base}/out", f"{base}/ckpt",
            num_hashes=12, bands=4, threshold=0.5,
        )
        q.awaitTermination()
        pairs = {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(f"{base}/out/pairs").collect()
        }
        assert (10, 11) in pairs
        assert sorted(
            r.doc_id
            for r in spark.read.parquet(f"{base}/out/index").collect()
        ) == [1, 2, 10, 11]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_neardup_publish_copies_untouched_buckets_forward(spark):
    """The bucket-incremental publish (VERDICT r9 next-round #2): a
    second batch rewrites ONLY the buckets it touches — every
    untouched band-bucket and doc-bucket directory in the new version
    is the PREVIOUS version's directory carried forward by hardlink
    (same file names, same inodes, hence byte-identical with zero
    copied data) — while the drained state still equals the one-shot
    batch dedup."""
    import glob
    import os
    import shutil

    from mevi_spark.operators.dedup import (
        banded_keys,
        dedup_minhash,
        minhash_frame,
    )
    from mevi_spark.streaming.incremental import (
        band_bucket_expr,
        doc_bucket_expr,
        incremental_neardup,
    )

    words = [" ".join(f"a{i}b{j}" for j in range(12)) for i in range(30)]
    b1 = spark.createDataFrame(
        [(i, words[i]) for i in range(30)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(999, words[7] + " extra")], "doc_id long, text string"
    )
    n_buckets = 16
    base = tempfile.mkdtemp(prefix="mevi_test_ndcf_")
    try:
        b1.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s00")

        def drain():
            stream = (
                spark.readStream.schema(b1.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{base}/in/s*")
            )
            q = incremental_neardup(
                stream, f"{base}/out", f"{base}/ckpt",
                num_hashes=12, bands=4, threshold=0.5,
                n_buckets=n_buckets,
            )
            q.awaitTermination()

        drain()

        def snapshot(table_dir):
            real = os.path.realpath(table_dir)
            out = {}
            for d in glob.glob(f"{real}/*=*"):
                files = {}
                for f in sorted(os.listdir(d)):
                    if f.startswith(("_", ".")):
                        continue
                    st = os.stat(os.path.join(d, f))
                    files[f] = (st.st_ino, st.st_size)
                out[os.path.basename(d)] = files
            return real, out

        bands_dir, idx_dir = f"{base}/out/bands", f"{base}/out/index"
        old_bands_real, old_bands = snapshot(bands_dir)
        old_idx_real, old_idx = snapshot(idx_dir)
        assert len(old_bands) > 4  # enough buckets for "untouched" to exist

        b2.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s01")
        drain()

        new_bands_real, new_bands = snapshot(bands_dir)
        new_idx_real, new_idx = snapshot(idx_dir)
        assert new_bands_real != old_bands_real  # fresh version published

        # expected touched sets for the one-doc batch
        nb = banded_keys(
            minhash_frame(b2, "text", "doc_id", 12, 3),
            "doc_id", "sig", 4, sig_len=12,
        )
        touched_band = {
            r[0]
            for r in nb.withColumn("_bkt", band_bucket_expr(n_buckets))
            .select("_bkt").distinct().collect()
        }
        touched_doc = {
            r[0]
            for r in b2.withColumn("_dbkt", doc_bucket_expr(n_buckets))
            .select("_dbkt").distinct().collect()
        }

        def check(old, new, col, touched):
            untouched = [k for k in old if k not in
                         {f"{col}={v}" for v in touched}]
            assert untouched, "fixture must leave some buckets untouched"
            for k in untouched:
                # identical file names AND inodes: the directory was
                # hardlinked forward, not rewritten
                assert new.get(k) == old[k], k
            # and at least one touched bucket was genuinely rewritten
            rewritten = [
                k for k in new
                if k in {f"{col}={v}" for v in touched}
            ]
            assert rewritten

        check(old_bands, new_bands, "_bkt", touched_band)
        check(old_idx, new_idx, "_dbkt", touched_doc)

        # the maintained state still converges to the batch engine
        full = b1.unionByName(b2)
        want = {
            (r.id_a, r.id_b): round(r.jaccard, 6)
            for r in dedup_minhash(
                full, num_hashes=12, bands=4, threshold=0.5
            ).collect()
        }
        got = {
            (r.id_a, r.id_b): round(r.jaccard, 6)
            for r in spark.read.parquet(f"{base}/out/pairs").collect()
        }
        assert got == want
        assert sorted(
            r.doc_id
            for r in spark.read.parquet(f"{base}/out/index").collect()
        ) == sorted([*range(30), 999])
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_neardup_reingest_drops_stale_band_rows_everywhere(spark):
    """A doc re-ingested with DIFFERENT text changes its signature, so
    its old band rows live in buckets the new keys may not touch. The
    publish must rewrite those buckets too (old-signature lookup via
    the doc-bucketed index) or stale rows would keep colliding on a
    signature the doc no longer has."""
    import shutil

    from mevi_spark.operators.dedup import banded_keys, minhash_frame
    from mevi_spark.streaming.incremental import incremental_neardup

    old_text = " ".join(f"o{i}" for i in range(12))
    new_text = " ".join(f"n{i}" for i in range(12))
    # doc 6 is a near-dup of doc 5's OLD text, so batch 1 publishes the
    # verified pair (5, 6) — which must DISAPPEAR when doc 5's text
    # changes (stale pairs are state like stale band rows)
    b1 = spark.createDataFrame(
        [(5, old_text), (6, old_text + " extra")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame([(5, new_text)], "doc_id long, text string")
    base = tempfile.mkdtemp(prefix="mevi_test_ndri_")
    try:
        b1.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s00")

        def drain():
            stream = (
                spark.readStream.schema(b1.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{base}/in/s*")
            )
            q = incremental_neardup(
                stream, f"{base}/out", f"{base}/ckpt",
                num_hashes=12, bands=4, threshold=0.5, n_buckets=16,
            )
            q.awaitTermination()

        drain()
        assert {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(f"{base}/out/pairs").collect()
        } == {(5, 6)}
        b2.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s01")
        drain()
        # the (5, 6) pair was about doc 5's OLD text — it must be gone
        assert spark.read.parquet(f"{base}/out/pairs").count() == 0

        want = {
            (r.band, r.key)
            for r in banded_keys(
                minhash_frame(b2, "text", "doc_id", 12, 3),
                "doc_id", "sig", 4, sig_len=12,
            ).collect()
        }
        got = {
            (r.band, r.key)
            for r in spark.read.parquet(f"{base}/out/bands")
            .filter(F.col("_id") == 5)
            .collect()
        }
        # exactly the NEW signature's keys — no stale old-text rows
        assert got == want
        # and the index carries the new signature once
        idx = spark.read.parquet(f"{base}/out/index").filter(
            F.col("doc_id") == 5
        ).collect()
        assert len(idx) == 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_neardup_reingest_below_threshold_collision_stays_dropped(spark):
    """Re-ingest where the NEW text still band-collides with the old
    partner but falls BELOW the Jaccard threshold: the stale pair must
    stay dropped. Regression for the verify-corpus bug where a
    re-ingested id kept BOTH its old index row and its new batch row in
    the shingle frame, so the verify join fanned out and could re-admit
    the pair scored against the OLD text."""
    import shutil

    from mevi_spark.operators.dedup import banded_keys, minhash_frame
    from mevi_spark.streaming.incremental import incremental_neardup

    old_text = " ".join(f"o{i}" for i in range(16))
    # new text keeps half the words: shares a shingle prefix with doc
    # 6 (the x1w* suffix was picked so the deterministic minhash DOES
    # band-collide at 12 one-hash bands — double hashing correlates
    # bands, so not every below-threshold text collides) while exact
    # Jaccard is 6/22 — well under the 0.5 threshold; both premises
    # asserted below so a hash change fails loudly
    new_text = " ".join(
        [f"o{i}" for i in range(8)] + [f"x1w{i}" for i in range(8)]
    )
    b1 = spark.createDataFrame(
        [(5, old_text), (6, old_text)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame([(5, new_text)], "doc_id long, text string")

    # premise 1: the new signature still band-collides with doc 6
    sigs = minhash_frame(
        spark.createDataFrame(
            [(5, new_text), (6, old_text)], "doc_id long, text string"
        ),
        "text", "doc_id", 12, 3,
    )
    by_id: dict = {}
    for r in banded_keys(sigs, "doc_id", "sig", 12, sig_len=12).collect():
        by_id.setdefault(r._id, set()).add((r.band, r.key))
    assert by_id[5] & by_id[6], "fixture must band-collide"
    # premise 2: exact Jaccard of the new text vs doc 6 is < threshold
    sh = {r.doc_id: set(r.shingles) for r in sigs.collect()}
    jac = len(sh[5] & sh[6]) / len(sh[5] | sh[6])
    assert jac < 0.5, f"fixture jaccard {jac} must be below threshold"

    base = tempfile.mkdtemp(prefix="mevi_test_ndbt_")
    try:
        b1.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s00")

        def drain():
            stream = (
                spark.readStream.schema(b1.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{base}/in/s*")
            )
            q = incremental_neardup(
                stream, f"{base}/out", f"{base}/ckpt",
                num_hashes=12, bands=12, threshold=0.5, n_buckets=16,
            )
            q.awaitTermination()

        drain()
        assert {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(f"{base}/out/pairs").collect()
        } == {(5, 6)}
        b2.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s01")
        drain()
        # the band collision puts (5, 6) back in the candidate set, but
        # the verify must score it against doc 5's NEW shingles only —
        # below threshold, so the stale pair stays dropped
        assert spark.read.parquet(f"{base}/out/pairs").count() == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_neardup_zero_key_batch_preserves_state(spark):
    """A batch contributing no band keys (empty-shingle doc) must leave
    the band table's content intact — the touched set is empty, the
    publish is pure copy-forward — while the doc itself still joins
    the index."""
    import shutil

    from mevi_spark.streaming.incremental import incremental_neardup

    b1 = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(12))),
         (2, " ".join(f"v{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    # normalize_text strips punctuation-only text → empty shingles
    b2 = spark.createDataFrame([(3, "!!! ... ???")], "doc_id long, text string")
    base = tempfile.mkdtemp(prefix="mevi_test_ndz_")
    try:
        b1.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s00")

        def drain():
            stream = (
                spark.readStream.schema(b1.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{base}/in/s*")
            )
            q = incremental_neardup(
                stream, f"{base}/out", f"{base}/ckpt",
                num_hashes=12, bands=4, threshold=0.5, n_buckets=8,
            )
            q.awaitTermination()

        drain()
        before = sorted(
            (r._id, r.band, r.key)
            for r in spark.read.parquet(f"{base}/out/bands").collect()
        )
        b2.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s01")
        drain()
        after = sorted(
            (r._id, r.band, r.key)
            for r in spark.read.parquet(f"{base}/out/bands").collect()
        )
        assert after == before  # band content carried forward intact
        assert sorted(
            r.doc_id
            for r in spark.read.parquet(f"{base}/out/index").collect()
        ) == [1, 2, 3]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _semdd_drain(spark, base, cents, schema, threshold=0.95, n_buckets=8):
    from mevi_spark.streaming.incremental import incremental_semdedup

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/in/s*")
    )
    q = incremental_semdedup(
        stream, cents, f"{base}/out", f"{base}/ckpt",
        threshold=threshold, n_buckets=n_buckets,
    )
    q.awaitTermination()
    return {
        r._id: (r.code, r.kept)
        for r in spark.read.parquet(f"{base}/out/scored").collect()
    }


def test_semdedup_cross_batch_demotion(spark):
    """A later arrival with LOWER centroid cosine must demote the
    already-kept member of its duplicate group — the cross-batch state
    transition that makes this maintenance, not append."""
    import shutil

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "code long, centroid array<double>"
    )
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.10])], "vec_id long, embedding array<double>"
    )
    b2 = spark.createDataFrame(
        [(2, [1.0, 0.12])], "vec_id long, embedding array<double>"
    )
    base = tempfile.mkdtemp(prefix="mevi_sdd_t_")
    try:
        b1.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s00")
        got = _semdd_drain(spark, base, cents, b1.schema)
        assert got == {1: (0, 1)}  # alone → kept
        b2.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s01")
        got = _semdd_drain(spark, base, cents, b1.schema)
        # doc 2 is farther from the centroid → it wins, doc 1 demoted
        assert got == {1: (0, 0), 2: (0, 1)}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_semdedup_reingest_moves_cluster_and_promotes_orphan(spark):
    """A re-ingested vector that moves clusters must (a) leave exactly
    one row, in the NEW cluster, and (b) re-run its OLD cluster's
    tournament — its departure promotes the member it had demoted."""
    import shutil

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "code long, centroid array<double>",
    )
    # batch 1: ids 1 and 2 near-identical in cluster 0; id 1 farther
    # from the centroid → id 2 demoted
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.12]), (2, [1.0, 0.10])],
        "vec_id long, embedding array<double>",
    )
    # batch 2: id 1 re-ingested pointing into cluster 1
    b2 = spark.createDataFrame(
        [(1, [0.05, 1.0])], "vec_id long, embedding array<double>"
    )
    base = tempfile.mkdtemp(prefix="mevi_sdd_ri_")
    try:
        b1.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s00")
        got = _semdd_drain(spark, base, cents, b1.schema)
        assert got == {1: (0, 1), 2: (0, 0)}
        b2.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s01")
        got = _semdd_drain(spark, base, cents, b1.schema)
        # one row per id; id 1 now in cluster 1; id 2 promoted
        assert got == {1: (1, 1), 2: (0, 1)}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_semdedup_untouched_buckets_copy_forward(spark):
    """A batch that touches one cluster leaves every other scored
    bucket directory inode-identical (hardlinked forward)."""
    import glob
    import os
    import shutil

    # 8 clusters spread across buckets; batch 2 touches only cluster 0
    cents = spark.createDataFrame(
        [(c, [float(c + 1), float(8 - c)]) for c in range(8)],
        "code long, centroid array<double>",
    )
    import random

    rng = random.Random(7)
    rows = [
        (i, [float(c + 1) + rng.uniform(-0.01, 0.01),
             float(8 - c) + rng.uniform(-0.01, 0.01)])
        for i, c in enumerate(list(range(8)) * 3)
    ]
    b1 = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    b2 = spark.createDataFrame(
        [(999, [1.0, 7.0])], "vec_id long, embedding array<double>"
    )
    base = tempfile.mkdtemp(prefix="mevi_sdd_cf_")
    try:
        b1.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s00")
        _semdd_drain(spark, base, cents, b1.schema, n_buckets=8)

        def snap():
            real = os.path.realpath(f"{base}/out/scored")
            return {
                os.path.basename(d): {
                    f: os.stat(os.path.join(d, f)).st_ino
                    for f in os.listdir(d)
                    if not f.startswith(("_", "."))
                }
                for d in glob.glob(f"{real}/_kbkt=*")
            }

        before = snap()
        assert len(before) > 2
        b2.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s01")
        _semdd_drain(spark, base, cents, b1.schema, n_buckets=8)
        after = snap()
        changed = [k for k in before if after.get(k) != before[k]]
        # exactly the bucket(s) of the touched cluster rewrote
        assert len(changed) <= 2 and len(changed) >= 1, changed
        untouched = [k for k in before if k not in changed]
        assert untouched
        for k in untouched:
            assert after[k] == before[k], k
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_neardup_crash_between_bands_and_idx_publish_replays_clean(
    spark, monkeypatch
):
    """Publish-order crash-safety (round-10 review finding): the docs
    index must flip LAST. A crash after the bands publish but before
    the idx publish, during a batch that re-ingests a doc with new
    text, must on replay still sweep the doc's OLD-signature band rows
    — the replay derives the old buckets from the still-unflipped
    index. (With idx flipped first, the replay would compute 'old'
    buckets from the NEW signature and strand the stale rows in
    copy-forwarded buckets forever.)"""
    import shutil

    from mevi_spark.operators.dedup import banded_keys, minhash_frame
    from mevi_spark.streaming import incremental as inc

    old_text = " ".join(f"o{i}" for i in range(12))
    new_text = " ".join(f"n{i}" for i in range(12))
    b1 = spark.createDataFrame(
        [(5, old_text), (6, "some other entirely unrelated words go here")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame([(5, new_text)], "doc_id long, text string")
    base = tempfile.mkdtemp(prefix="mevi_test_ndcrash_")
    real_publish = inc.VersionedTable.publish
    crash = {"armed": False}

    def crashing_publish(table, df, *a, **kw):
        if crash["armed"] and table.output_dir.endswith("/index"):
            crash["armed"] = False
            raise RuntimeError("injected crash before idx publish")
        return real_publish(table, df, *a, **kw)

    try:

        def drain():
            stream = (
                spark.readStream.schema(b1.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{base}/in/s*")
            )
            q = inc.incremental_neardup(
                stream, f"{base}/out", f"{base}/ckpt",
                num_hashes=12, bands=4, threshold=0.5, n_buckets=16,
            )
            q.awaitTermination()

        b1.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s00")
        drain()
        b2.coalesce(1).write.mode("overwrite").parquet(f"{base}/in/s01")
        monkeypatch.setattr(inc.VersionedTable, "publish", crashing_publish)
        crash["armed"] = True
        import pyspark.errors

        try:
            drain()
            raise AssertionError("injected crash did not fire")
        except pyspark.errors.exceptions.captured.StreamingQueryException:
            pass
        assert not crash["armed"]  # it fired exactly once
        # bands are already NEW, idx is still OLD — the wedge state.
        # Replay (same checkpoint; offsets never committed):
        drain()
        want = {
            (r.band, r.key)
            for r in banded_keys(
                minhash_frame(b2, "text", "doc_id", 12, 3),
                "doc_id", "sig", 4, sig_len=12,
            ).collect()
        }
        got = {
            (r.band, r.key)
            for r in spark.read.parquet(f"{base}/out/bands")
            .filter(F.col("_id") == 5)
            .collect()
        }
        assert got == want  # no stale old-signature rows anywhere
        idx = spark.read.parquet(f"{base}/out/index").filter(
            F.col("doc_id") == 5
        ).collect()
        assert len(idx) == 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_versioned_table_crash_before_flip_keeps_previous_state(
    spark, monkeypatch
):
    """A publish that dies after writing its version dir but before the
    symlink flip changes no read; the next publish marks the orphan
    ``.stale_since`` with the version it supersedes; every name keeps
    the ``.{kind}-v-{basename}-`` / ``.{kind}-ln-{basename}-`` format."""
    import re
    import shutil

    from mevi_spark.plans.staging import _STALE_MARK
    from mevi_spark.streaming.incremental import VersionedTable

    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_GRACE", "3600")
    root = tempfile.mkdtemp(prefix="mevi_test_vt_")
    schema = "x long, _b int"
    try:
        table = VersionedTable(f"{root}/tbl", "demo", "_b", n_buckets=2)
        assert not table.published() and table.meta() == {}
        # first publish: nothing to carry forward, the frame is the table
        table.publish(
            spark.createDataFrame([(1, 0), (2, 1)], schema), touched=[0]
        )
        assert table.published()
        live = os.path.realpath(f"{root}/tbl")
        before = sorted(tuple(r) for r in table.read(spark).collect())
        assert before == [(1, 0), (2, 1)]
        orphans = []

        def crash(src, dst):
            orphans.append(src)
            raise OSError("crash before the flip")

        batch = spark.createDataFrame([(3, 0)], schema)
        with monkeypatch.context() as m:
            m.setattr(os, "symlink", crash)
            with pytest.raises(OSError, match="crash before the flip"):
                table.publish(batch, touched=[0])
        (orphan,) = orphans
        assert os.path.isdir(orphan) and orphan != live
        assert os.path.realpath(f"{root}/tbl") == live
        assert sorted(tuple(r) for r in table.read(spark).collect()) == before
        assert table.meta() == {"n_buckets": 2}
        version_name = re.compile(r"\.demo-v-tbl-[0-9a-f]{8}")
        assert version_name.fullmatch(os.path.basename(orphan))
        assert version_name.fullmatch(os.path.basename(live))
        # the next publish rewrites bucket 0, hardlinks bucket 1 forward
        # and marks both the orphan and the superseded version
        table.publish(batch, touched=[0])
        assert version_name.fullmatch(
            os.path.basename(os.path.realpath(f"{root}/tbl"))
        )
        assert os.path.exists(os.path.join(orphan, _STALE_MARK))
        assert os.path.exists(os.path.join(live, _STALE_MARK))
        assert sorted(tuple(r) for r in table.read(spark).collect()) == [
            (2, 1),
            (3, 0),
        ]
        assert not [e for e in os.listdir(root) if e.startswith(".demo-ln-")]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _neardup_guard_case(spark, base):
    from mevi_spark.streaming.incremental import (
        incremental_neardup,
        stream_parquet_source,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g x")],
        "doc_id long, text string",
    )
    df.coalesce(1).write.parquet(f"{base}/in/s00")
    runs = iter(range(100))

    def ingest(n_buckets):
        # a fresh checkpoint replays the slice, so the sink runs again
        incremental_neardup(
            stream_parquet_source(spark, f"{base}/in/s*", df.schema),
            f"{base}/out", f"{base}/ckpt{next(runs)}",
            num_hashes=12, bands=4, threshold=0.5, n_buckets=n_buckets,
        ).awaitTermination()

    return ingest, [f"{base}/out/index", f"{base}/out/bands"]


def _semdedup_guard_case(spark, base):
    from mevi_spark.streaming.incremental import (
        incremental_semdedup,
        stream_parquet_source,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "code long, centroid array<double>",
    )
    df = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [0.1, 1.0])],
        "vec_id long, embedding array<double>",
    )
    df.coalesce(1).write.parquet(f"{base}/in/s00")
    runs = iter(range(100))

    def ingest(n_buckets):
        incremental_semdedup(
            stream_parquet_source(spark, f"{base}/in/s*", df.schema),
            cents, f"{base}/out", f"{base}/ckpt{next(runs)}",
            n_buckets=n_buckets,
        ).awaitTermination()

    return ingest, [f"{base}/out/scored", f"{base}/out/ids"]


def _chunk_guard_case(spark, base):
    from mevi_spark.streaming.incremental import append_chunk_kept

    docs = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(16)))],
        "doc_id long, text string",
    )

    def ingest(n_buckets):
        append_chunk_kept(
            spark, f"{base}/chunks", docs, w_words=8, n_buckets=n_buckets
        )

    return ingest, [f"{base}/chunks"]


def _components_guard_case(spark, base):
    from mevi_spark.streaming.incremental import apply_components_batch

    edges = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    batch_ids = iter(range(100))

    def ingest(n_buckets):
        apply_components_batch(
            spark, f"{base}/cc", edges, next(batch_ids), n_buckets=n_buckets
        )

    return ingest, [f"{base}/cc/labels", f"{base}/cc/ids"]


_GUARD_CASES = {
    "neardup": _neardup_guard_case,
    "semdedup": _semdedup_guard_case,
    "chunk": _chunk_guard_case,
    "components": _components_guard_case,
}


@pytest.mark.parametrize("family", sorted(_GUARD_CASES))
def test_bucketed_table_guard_names_the_table(spark, family):
    """Every bucketed maintained table refuses a reopen with another
    ``n_buckets`` — its rows' bucket assignment would mis-route probes
    — and a published version whose ``_meta.json`` sidecar is gone.
    Each table of the family is tampered with alone, so the error must
    name that table, not the first one the maintainer happens to open."""
    import json
    import re
    import shutil

    base = tempfile.mkdtemp(prefix=f"mevi_test_guard_{family}_")
    try:
        ingest, tables = _GUARD_CASES[family](spark, base)
        ingest(8)
        with pytest.raises(Exception, match="reopening it with n_buckets=4"):
            ingest(4)
        for t in tables:
            meta_path = os.path.join(os.path.realpath(t), "_meta.json")
            with open(meta_path, encoding="utf-8") as fh:
                saved = fh.read()
            meta = json.loads(saved)
            assert meta["n_buckets"] == 8
            with open(meta_path, "w", encoding="utf-8") as fh:
                json.dump({**meta, "n_buckets": 5}, fh)
            with pytest.raises(
                Exception,
                match=rf"table at {re.escape(t)} is bucketed with n_buckets=5",
            ):
                ingest(8)
            os.remove(meta_path)
            with pytest.raises(
                Exception,
                match=rf"table at {re.escape(t)} has no readable _meta\.json",
            ):
                ingest(8)
            with open(meta_path, "w", encoding="utf-8") as fh:
                fh.write(saved)
        ingest(8)  # restored sidecars reopen cleanly
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _data_files(d):
    return [f for f in os.listdir(d) if not f.startswith(("_", "."))]


def _job_ids(spark, group, fn):
    """``fn()``'s result and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("idle", "idle")
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("family", sorted(_GUARD_CASES))
def test_versioned_table_one_file_per_bucket_and_recorded_schema(
    spark, family
):
    """Every bucketed maintained table: each bucket dir of a published
    version holds exactly one data file (the write clusters rows by
    bucket first), and ``read`` returns the schema a plain
    ``spark.read.parquet`` infers — names, order and types — from the
    schema its publish recorded, without starting a Spark job. A
    version whose sidecar has no recorded schema still reads."""
    import json
    import shutil

    from mevi_spark.streaming.incremental import VersionedTable

    base = tempfile.mkdtemp(prefix=f"mevi_test_vtfile_{family}_")
    try:
        ingest, tables = _GUARD_CASES[family](spark, base)
        ingest(8)
        ingest(8)  # a second publish: touched buckets rewrite, rest link
        for t in tables:
            real = os.path.realpath(t)
            bucket_dirs = [
                os.path.join(real, e) for e in os.listdir(real) if "=" in e
            ]
            assert bucket_dirs, t
            for d in bucket_dirs:
                assert len(_data_files(d)) == 1, (d, _data_files(d))
            table = VersionedTable(t, "any", n_buckets=8)
            got, jobs = _job_ids(
                spark, f"vt-read-{family}", lambda: table.read(spark).schema
            )
            assert jobs == [], (t, jobs)
            assert got == spark.read.parquet(t).schema, t
            # a sidecar from before the schema was recorded
            path = os.path.join(real, "_meta.json")
            with open(path, encoding="utf-8") as fh:
                meta = json.load(fh)
            assert "schema" in meta and "schema" not in table.meta()
            with open(path, "w", encoding="utf-8") as fh:
                json.dump({k: v for k, v in meta.items() if k != "schema"}, fh)
            assert table.read(spark).schema == got
            assert sorted(map(tuple, table.read(spark).collect())) == sorted(
                map(tuple, spark.read.parquet(t).collect())
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_versioned_table_zero_row_fallback_schema(spark):
    """A zero-row publish of a bucketed table falls back to one
    unpartitioned file; its recorded schema keeps the frame's own
    column order, which is what the reader infers there, and the next
    non-empty publish records the partitioned order again — one file
    per bucket even from a frame spread over eight partitions."""
    import shutil

    from mevi_spark.streaming.incremental import VersionedTable

    root = tempfile.mkdtemp(prefix="mevi_test_vt0_")
    schema = "_b int, x long, tag string"
    try:
        table = VersionedTable(f"{root}/tbl", "demo", "_b", n_buckets=2)
        table.publish(spark.createDataFrame([], schema))
        real = os.path.realpath(f"{root}/tbl")
        assert not [e for e in os.listdir(real) if "=" in e]
        got, jobs = _job_ids(spark, "vt0", lambda: table.read(spark).schema)
        assert jobs == []
        assert got == spark.read.parquet(f"{root}/tbl").schema
        assert got.names == ["_b", "x", "tag"]
        wide = spark.range(40).repartition(8).selectExpr(
            "CAST(id % 2 AS INT) AS _b", "id AS x", "CAST(id AS STRING) AS tag"
        )
        table.publish(wide)
        real = os.path.realpath(f"{root}/tbl")
        for b in (0, 1):
            assert len(_data_files(os.path.join(real, f"_b={b}"))) == 1
        got = table.read(spark)
        assert got.schema == spark.read.parquet(f"{root}/tbl").schema
        assert got.schema.names == ["x", "tag", "_b"]
        assert sorted(map(tuple, got.collect())) == sorted(
            (i, str(i), i % 2) for i in range(40)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_neardup_keyed_pass_boundaries_match_batch(spark):
    """The keyed candidate pass keeps the batch operators' cuts exactly:
    a pair with Jaccard exactly τ is kept and the next one below is
    dropped, batch-internal and across batches; a pair ON the
    size-ratio bound (|B| = τ·|A|) is kept and one just past it is
    dropped; and a re-ingested doc with new text drops its stale pairs
    and band rows. After every drain the pair set equals
    ``dedup_minhash`` over the corpus as it stands."""
    import shutil

    from mevi_spark.operators.dedup import (
        banded_keys,
        dedup_minhash,
        lsh_candidate_pairs,
        minhash_frame,
    )
    from mevi_spark.streaming.incremental import incremental_neardup

    def words(p, n, extra=()):
        return " ".join([f"{p}w{i}" for i in range(n)] + list(extra))

    mh = {"num_hashes": 12, "bands": 12, "threshold": 0.5}
    # 6 shingles each, 4 shared: J = 4/8 = τ; 3 shared: J = 3/9 < τ
    docs = {
        1: words("a", 8), 2: words("a", 6, ["ax0", "ax1"]),
        3: words("b", 8), 4: words("b", 5, ["bx0", "bx1", "bx2"]),
        # B ⊂ A with |B| = τ·|A| (J = ratio = τ), and one shingle more
        5: words("c", 14), 6: words("c", 8),
        7: words("d", 15), 8: words("d", 8),
        # batch-internal twin of the J = τ pair
        11: words("e", 8), 12: words("e", 6, ["ex0", "ex1"]),
    }
    schema = "doc_id long, text string"
    batches = [
        [(i, docs[i]) for i in (1, 3, 5, 7)],
        [(i, docs[i]) for i in (2, 4, 6, 8, 11, 12)],
        [(1, words("z", 10))],  # doc 1 re-ingested with new text
    ]

    def batch_pairs(rows):
        df = spark.createDataFrame(rows, schema)
        return {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup_minhash(df, **mh).collect()
        }

    full = [(i, docs[i]) for i in sorted(docs)]
    want = batch_pairs(full)
    assert want[(1, 2)] == want[(11, 12)] == want[(5, 6)] == 0.5
    assert not {(3, 4), (7, 8)} & set(want)
    # premise: the dropped pairs are candidates, cut only by the verify
    sigs = minhash_frame(spark.createDataFrame(full, schema), "text", "doc_id", 12, 3)
    cands = {
        tuple(r) for r in lsh_candidate_pairs(sigs, bands=12, sig_len=12).collect()
    }
    assert {(3, 4), (7, 8), (1, 2), (5, 6), (11, 12)} <= cands

    base = tempfile.mkdtemp(prefix="mevi_test_ndkp_")
    corpus = {}
    try:
        for j, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                f"{base}/in/s{j:02d}"
            )
            incremental_neardup(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{base}/in/s*"),
                f"{base}/out", f"{base}/ckpt", n_buckets=8, **mh,
            ).awaitTermination()
            corpus.update(dict(rows))
            got = {
                (r.id_a, r.id_b): r.jaccard
                for r in spark.read.parquet(f"{base}/out/pairs").collect()
            }
            assert got == batch_pairs(sorted(corpus.items())), j
        assert (1, 2) not in got and (11, 12) in got
        new_keys = {
            (r.band, r.key)
            for r in banded_keys(
                minhash_frame(
                    spark.createDataFrame(batches[2], schema), "text", "doc_id", 12, 3
                ),
                bands=12, sig_len=12,
            ).collect()
        }
        assert {
            (r.band, r.key)
            for r in spark.read.parquet(f"{base}/out/bands")
            .filter(F.col("_id") == 1)
            .collect()
        } == new_keys
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_chunk_kept_incremental_first_owner_wins_and_copy_forward(spark):
    """Exact-substring index under ingest: a chunk's first-arrival
    owner survives later repeats; only fresh chunks' buckets rewrite
    (untouched dirs inode-identical); a replayed batch is a pure
    copy-forward no-op."""
    import glob
    import os
    import shutil

    from mevi_spark.streaming.incremental import (
        append_chunk_kept,
        incremental_chunk_dedup,
    )

    w1 = " ".join(f"a{i}" for i in range(8))
    w2 = " ".join(f"b{i}" for i in range(8))
    w3 = " ".join(f"c{i}" for i in range(8))
    b1 = spark.createDataFrame(
        [(1, w1 + " " + w2)], "doc_id long, text string"
    )
    # doc 2 repeats w1 (owned by doc 1) and introduces w3
    b2 = spark.createDataFrame(
        [(2, w1 + " " + w3)], "doc_id long, text string"
    )
    base = tempfile.mkdtemp(prefix="mevi_chk_t_")
    try:
        append_chunk_kept(spark, f"{base}/s", b1, n_buckets=8)

        def snap():
            real = os.path.realpath(f"{base}/s")
            return {
                os.path.basename(d): {
                    f: os.stat(os.path.join(d, f)).st_ino
                    for f in os.listdir(d)
                    if not f.startswith(("_", "."))
                }
                for d in glob.glob(f"{real}/_hbkt=*")
            }

        before = snap()
        append_chunk_kept(spark, f"{base}/s", b2, n_buckets=8)
        kept = {
            (r.doc_id, r.idx): r.chunk
            for r in spark.read.parquet(f"{base}/s").collect()
        }
        # w1 still owned by (1, 0); w3 fresh at (2, 1); doc 2's repeat
        # of w1 never entered the index
        assert kept == {(1, 0): w1, (1, 1): w2, (2, 1): w3}
        after = snap()
        # at least one batch-1 bucket must be untouched AND carried by
        # inode (hardlink) — a hard assertion, not a fallback: if a
        # bucket-layout change ever makes every batch-1 bucket
        # collide with the fresh chunk's, fail loudly and re-pick the
        # fixture words instead of silently not testing copy-forward
        untouched = [
            k for k in before if after.get(k) == before[k]
        ]
        assert untouched, (before, after)
        # replay of batch 2: nothing fresh → state content unchanged
        append_chunk_kept(spark, f"{base}/s", b2, n_buckets=8)
        kept2 = {
            (r.doc_id, r.idx): r.chunk
            for r in spark.read.parquet(f"{base}/s").collect()
        }
        assert kept2 == kept
        # streaming wrapper equals direct calls
        for i, b in enumerate((b1, b2)):
            b.coalesce(1).write.mode("overwrite").parquet(
                f"{base}/in/s{i:02d}"
            )
        stream = (
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{base}/in/s*")
        )
        q = incremental_chunk_dedup(
            stream, f"{base}/s2", f"{base}/ckpt", n_buckets=8
        )
        q.awaitTermination()
        kept_s = {
            (r.doc_id, r.idx): r.chunk
            for r in spark.read.parquet(f"{base}/s2").collect()
        }
        assert kept_s == kept
    finally:
        shutil.rmtree(base, ignore_errors=True)

def test_incremental_lexical_stats_converges_and_replays(spark):
    """Lexical (BM25/TF-IDF) corpus stats as mergeable partials: the
    merged state over three batches equals an answer computed
    independently in Python, and the fold leaves one vocabulary-sized
    base (replay and the fold's state invariance:
    ``test_partial_store_replay_and_compaction``)."""
    import shutil

    from mevi_spark.streaming.incremental import lexical_store

    texts = {
        1: "the cat sat",
        2: "the dog sat down",
        3: "a cat ran",
        4: "the the the",          # repeated term counts ONCE for df
        5: "",                     # empty doc: dl 0, no terms
        6: "dog park",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    # independent expectation, computed in Python
    toksets = {k: set(v.split()) if v else set() for k, v in texts.items()}
    want_df = {}
    for s in toksets.values():
        for t in s:
            want_df[t] = want_df.get(t, 0) + 1
    want_n = len(texts)
    want_dl = sum(len(v.split()) if v else 0 for v in texts.values())

    base = tempfile.mkdtemp(prefix="mevi_test_lex_")
    out = f"{base}/out"
    store = lexical_store(out)
    try:
        for i in range(3):
            store.write(docs.filter(F.col("doc_id") % 3 == i), i)
        rows = store.state(spark).collect()
        dfs = {r.term: r.df for r in rows if r.term is not None}
        sent = [r for r in rows if r.term is None]
        assert len(sent) == 1
        assert dfs == want_df
        assert (sent[0].n_docs, sent[0].sum_dl) == (want_n, want_dl)
        # the fold's base is bounded at vocabulary + sentinel rows
        assert store.compact(spark) == 3
        assert (
            spark.read.parquet(f"{out}/base").count() == len(want_df) + 1
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# incremental connected components (apply_components_batch)


def _cc_state(spark, base):
    labels = {
        (r["_id"], r["component"])
        for r in spark.read.parquet(f"{base}/labels").collect()
    }
    ids = {
        (r["_id"], r["component"])
        for r in spark.read.parquet(f"{base}/ids").collect()
    }
    return labels, ids


def _cc_apply(spark, base, edges, bid):
    from mevi_spark.streaming.incremental import apply_components_batch

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    apply_components_batch(spark, base, df, bid, n_buckets=4)


def test_components_cross_batch_chain_and_merge(spark):
    """Three batches: two separate components grow, then one edge MERGES
    them — the loser component's existing members (never re-ingested)
    must relabel to the winning min id, and labels/ids must agree with
    the one-shot batch operator over all edges."""
    import shutil
    import tempfile

    from mevi_spark.operators.dedup import connected_components

    base = tempfile.mkdtemp(prefix="cc_test_")
    try:
        b0 = [(10, 11), (1, 2)]
        b1 = [(20, 21), (2, 3)]          # chain 1-2 extends to 3
        b2 = [(11, 20), (30, 31)]        # MERGES {10,11} with {20,21}
        for i, b in enumerate((b0, b1, b2)):
            _cc_apply(spark, base, b, i)
        labels, ids = _cc_state(spark, base)
        assert labels == ids
        all_edges = spark.createDataFrame(
            b0 + b1 + b2, "id_a long, id_b long"
        )
        want = {
            (r["id"], r["component"])
            for r in connected_components(all_edges).collect()
        }
        assert labels == want
        # the merge relabeled 20 and 21 (members of the loser, only 20
        # was an endpoint of the merging edge)
        assert (21, 10) in labels
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_components_replay_and_crash_window(spark):
    """(a) Re-running a batch with the same batch_id is a no-op; (b) the
    documented crash window — labels published (sidecar carries the
    batch id), ids still pre-batch — must complete to the clean state
    on replay, including the loser members ids would otherwise keep
    stale forever."""
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="cc_crash_")
    try:
        _cc_apply(spark, base, [(5, 6), (100, 101)], 0)
        # pre-batch-1 ids snapshot (resolve the published symlink)
        ids_dir = f"{base}/ids"
        pre = os.path.join(base, "ids_pre_copy")
        shutil.copytree(os.path.realpath(ids_dir), pre)
        merge_edge = [(6, 100)]          # merges {5,6} and {100,101}
        _cc_apply(spark, base, merge_edge, 1)
        clean = _cc_state(spark, base)
        assert clean[0] == clean[1]
        assert (101, 5) in clean[0]      # loser member relabeled
        # replay with the same batch id: identical state
        _cc_apply(spark, base, merge_edge, 1)
        assert _cc_state(spark, base) == clean
        # crash simulation: wind ids back to its pre-batch-1 content
        # while labels stays post-batch-1 (meta batch_id == 1), then
        # replay batch 1 — the kernel must fetch the loser members from
        # ids (labels no longer carries the loser component) and bring
        # ids back in sync
        os.remove(ids_dir)
        os.symlink(pre, ids_dir)
        stale = _cc_state(spark, base)
        assert stale[1] != clean[1] and stale[0] == clean[0]
        _cc_apply(spark, base, merge_edge, 1)
        assert _cc_state(spark, base) == clean
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_components_monotone_ingest_touches_batch_buckets_only(spark):
    """Ascending-id ingest (the append-only corpus): existing roots win
    every merge, so no existing component relabels and the write set is
    batch-sized — new members adopt the old root."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="cc_mono_")
    try:
        _cc_apply(spark, base, [(1, 2)], 0)
        _cc_apply(spark, base, [(2, 50)], 1)   # 50 joins component 1
        _cc_apply(spark, base, [(50, 60)], 2)  # 60 joins component 1
        labels, ids = _cc_state(spark, base)
        assert labels == ids == {(1, 1), (2, 1), (50, 1), (60, 1)}
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# incremental quantile summaries (mp_batch_partials / quantile_store)


def test_quantile_summary_small_is_exact_and_certifies(spark):
    """n ≤ k: no compaction ever fires, the tracked error stays 0, and
    every weighted rank estimate is exactly the true rank."""
    from mevi_spark.operators.sketch import (
        MP_ERR_LEVEL,
        mp_batch_partials,
        mp_certify,
    )

    rows = [("a", float(v)) for v in range(20)] + [("b", 5.0), ("b", 7.0)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    s = mp_batch_partials(df, k=64)
    errs = {
        r["event_type"]: r["value"]
        for r in s.filter(F.col("level") == MP_ERR_LEVEL).collect()
    }
    assert errs == {"a": 0.0, "b": 0.0}
    rel = mp_certify(s, df, k=64)
    assert rel == {"a": 0.0, "b": 0.0}


def test_quantile_store_batches_compact_and_certify(spark):
    """Three batch partials merged on read: capacity respected at every
    level and the tracked bound certifies small against the accumulated
    corpus (replay and the fold:
    ``test_partial_store_replay_and_compaction``)."""
    import shutil
    import tempfile

    from mevi_spark.operators.sketch import mp_certify
    from mevi_spark.streaming.incremental import quantile_store

    k = 16
    base = tempfile.mkdtemp(prefix="mpq_test_")
    try:
        n = 900
        df = spark.createDataFrame(
            [("t", float((i * 37) % n)) for i in range(n)],
            "event_type string, value double",
        )
        store = quantile_store(base, k=k)
        for i in range(3):
            store.write(df.filter(F.col("value").cast("long") % 3 == i), i)
        rel = mp_certify(store.state(spark), df, k=k)
        assert 0.0 < rel["t"] < 0.25  # compactions fired, bound small
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_quantile_certify_catches_lying_bound(spark):
    """A summary whose tracked error is tampered below the real error
    must FAIL certification — the certificate is what stands between
    the maintained state and a silently-wrong bound."""
    import pytest as _pytest

    from mevi_spark.operators.sketch import (
        MP_ERR_LEVEL,
        mp_batch_partials,
        mp_certify,
    )

    k = 8
    df = spark.createDataFrame(
        [("t", float(i)) for i in range(200)],
        "event_type string, value double",
    )
    s = mp_batch_partials(df, k=k)
    assert s.filter(
        (F.col("level") == MP_ERR_LEVEL) & (F.col("value") > 0)
    ).count() == 1  # compactions really fired
    lied = s.withColumn(
        "value",
        F.when(F.col("level") == MP_ERR_LEVEL, F.lit(0.0)).otherwise(
            F.col("value")
        ),
    )
    with _pytest.raises(AssertionError, match="tracked bound"):
        mp_certify(lied, df, k=k)


def test_quantile_estimator_within_certified_bound(spark):
    """The deployment read path: quantiles answered FROM the summary
    must have true rank within err + weight(v) of the target — the
    guarantee mp_quantile_estimates documents."""
    from mevi_spark.operators.sketch import (
        mp_batch_partials,
        mp_quantile_estimates,
    )

    k = 16
    n = 700
    vals = [float((i * 53) % n) for i in range(n)]
    df = spark.createDataFrame(
        [("t", v) for v in vals], "event_type string, value double"
    )
    s = mp_batch_partials(df, k=k)
    est = mp_quantile_estimates(s)
    rows = est.collect()
    assert {round(r["p"], 2) for r in rows} == {0.25, 0.5, 0.75, 0.95}
    sorted_vals = sorted(vals)
    for r in rows:
        true_rank = sum(1 for v in sorted_vals if v <= r["v"])
        # the documented TIGHT bound: err + total weight AT the picked
        # value (exposed as the w column)
        assert abs(true_rank - r["p"] * r["n"]) <= r["err"] + r["w"], (
            r["p"], r["v"], true_rank, r["err"], r["w"],
        )


def test_quantile_estimator_collapses_duplicate_values(spark):
    """Regression: a value present as MULTIPLE summary items (different
    levels) must contribute its FULL weight to est_rank — a partial
    prefix at the first duplicate understates the rank and breaks the
    documented err + w guarantee."""
    from mevi_spark.operators.sketch import (
        MP_ERR_LEVEL,
        MP_K_LEVEL,
        MP_N_LEVEL,
        mp_quantile_estimates,
    )

    rows = [
        ("t", 0, 5.0),            # weight 1
        ("t", 3, 5.0),            # SAME value, weight 8
        ("t", 0, 9.0),            # weight 1
        ("t", MP_ERR_LEVEL, 0.0),
        ("t", MP_N_LEVEL, 10.0),
        ("t", MP_K_LEVEL, 16.0),
    ]
    summary = spark.createDataFrame(
        rows, "event_type string, level int, value double"
    )
    est = {
        round(r["p"], 2): r
        for r in mp_quantile_estimates(summary, ps=(0.5, 0.95)).collect()
    }
    # p=0.5 → target 5.0: value 5.0 qualifies only with its FULL
    # weight 9 (partial prefix 1 would skip to 9.0 — the bug)
    assert est[0.5]["v"] == 5.0
    assert est[0.5]["est_rank"] == 9.0 and est[0.5]["w"] == 9.0
    # p=0.95 → target 9.5 > max est 10? est(9.0)=10 ≥ 9.5 → picks 9.0
    assert est[0.95]["v"] == 9.0 and est[0.95]["w"] == 1.0


def test_components_empty_batches(spark):
    """A zero-edge batch publishes pure copy-forward (state unchanged);
    an empty FIRST batch still creates readable (empty) state instead
    of wedging later reads."""
    import shutil
    import tempfile

    base1 = tempfile.mkdtemp(prefix="cc_empty1_")
    base2 = tempfile.mkdtemp(prefix="cc_empty2_")
    try:
        _cc_apply(spark, base1, [(1, 2)], 0)
        before = _cc_state(spark, base1)
        _cc_apply(spark, base1, [], 1)
        assert _cc_state(spark, base1) == before
        _cc_apply(spark, base1, [(2, 3)], 2)
        labels, ids = _cc_state(spark, base1)
        assert labels == ids == {(1, 1), (2, 1), (3, 1)}
        # empty first batch: readable empty state, then normal growth
        _cc_apply(spark, base2, [], 0)
        assert _cc_state(spark, base2) == (set(), set())
        _cc_apply(spark, base2, [(7, 8)], 1)
        assert _cc_state(spark, base2) == ({(7, 7), (8, 7)},) * 2
    finally:
        shutil.rmtree(base1, ignore_errors=True)
        shutil.rmtree(base2, ignore_errors=True)


# ---------------------------------------------------------------------------
# incremental eval metrics (eval_metric_partials / eval_metrics_store)


def test_incremental_eval_metrics_converges_and_replays(spark):
    """Eval metrics as mergeable partials: per-query contributions
    split across three waves fold to EXACTLY the one-shot evaluate_run
    answer (decimal-stabilized means; replay and the fold:
    ``test_partial_store_replay_and_compaction``)."""
    import shutil
    import tempfile

    from mevi_spark.operators.metrics import (
        eval_metric_partials,
        evaluate_run,
        finalize_eval_metrics,
        per_query_metrics,
    )
    from mevi_spark.streaming.incremental import eval_metrics_store

    run = spark.createDataFrame(
        [
            (1, [10, 11, 12]),
            (2, [20, 21]),
            (3, [31, 30]),
            (4, [40]),          # gt absent from preds
            (5, [50, 51, 52]),
        ],
        "query long, preds array<long>",
    )
    gt = spark.createDataFrame(
        [
            (1, [10]),
            (2, [21, 22]),
            (3, [30]),
            (4, [99]),
            (5, [52, 50]),
        ],
        "query long, gt_ids array<long>",
    )
    cutoffs = (1, 3)
    want = {
        (r["k"]): (
            round(r["recall"], 6),
            round(r["mrr"], 6),
            round(r["hitrate"], 6),
            r["n_queries"],
        )
        for r in evaluate_run(run, gt, cutoffs=cutoffs).collect()
    }

    base = tempfile.mkdtemp(prefix="mevi_test_evalm_")
    try:
        # each wave carries its queries' run and ground truth
        store = eval_metrics_store(
            f"{base}/out",
            lambda b: eval_metric_partials(
                per_query_metrics(
                    b.select("query", "preds"),
                    b.select("query", "gt_ids"),
                    cutoffs=cutoffs,
                )
            ),
        )
        waves = run.join(gt, "query")
        for i in range(3):
            store.write(waves.filter(F.col("query") % 3 == i), i)
        assert {
            r["k"]: (r["recall"], r["mrr"], r["hitrate"], r["n_queries"])
            for r in finalize_eval_metrics(store.state(spark)).collect()
        } == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# curriculum maintenance store (r12)


def _curr_scored(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, score double")


def test_curriculum_state_serves_exact_total_order(spark):
    import shutil
    import tempfile

    from mevi_spark.streaming.incremental import (
        curriculum_state,
        curriculum_store,
    )

    base = tempfile.mkdtemp(prefix="curr_test_")
    try:
        rows = [(i, float((i * 37) % 100) / 100.0) for i in range(300)]
        parts = [rows[0::3], rows[1::3], rows[2::3]]
        store = curriculum_store(base, lambda b: b, n_buckets=8)
        for i, part in enumerate(parts):
            store.write(_curr_scored(spark, part), i)
        got = {
            r["doc_id"]: r["global_rank"]
            for r in curriculum_state(spark, store).collect()
        }
        want = {
            d: i + 1
            for i, (d, _) in enumerate(
                sorted(rows, key=lambda x: (x[1], x[0]))
            )
        }
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_curriculum_resplit_is_order_invariant_and_rebalances(spark):
    import json
    import shutil
    import tempfile

    from mevi_spark.streaming.incremental import (
        curriculum_state,
        curriculum_store,
        resplit_curriculum,
    )

    base = tempfile.mkdtemp(prefix="curr_test_")
    try:
        # batch 1 pins bounds from LOW scores only; batches 2-3 land a
        # skewed high-score mass, overgrowing the top bucket
        b1 = [(i, i / 1000.0) for i in range(100)]
        b2 = [(1000 + i, 0.9 + (i % 50) / 1000.0) for i in range(200)]
        b3 = [(2000 + i, 0.95 + (i % 50) / 1000.0) for i in range(200)]
        store = curriculum_store(base, lambda b: b, n_buckets=4)
        for i, part in enumerate([b1, b2, b3]):
            store.write(_curr_scored(spark, part), i)
        before = sorted(
            (r["doc_id"], r["score"], r["global_rank"])
            for r in curriculum_state(spark, store).collect()
        )
        with open(f"{base}/_cbounds.json", encoding="utf-8") as fh:
            n_bounds0 = len(json.load(fh))
        added = resplit_curriculum(spark, store, bucket_cap=120, n_buckets=4)
        assert added > 0
        with open(f"{base}/_cbounds.json", encoding="utf-8") as fh:
            assert len(json.load(fh)) == n_bounds0 + added
        # served order is EXACTLY unchanged by boundary refinement
        after = sorted(
            (r["doc_id"], r["score"], r["global_rank"])
            for r in curriculum_state(spark, store).collect()
        )
        assert after == before
        # a second resplit at the same cap finds nothing new to split
        # beyond ties (idempotent once balanced at this granularity)
        again = resplit_curriculum(spark, store, bucket_cap=120, n_buckets=4)
        assert again <= added
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_curriculum_replay_rewrites_identical_partial(spark):
    import shutil
    import tempfile

    from mevi_spark.streaming.incremental import (
        curriculum_state,
        curriculum_store,
    )

    base = tempfile.mkdtemp(prefix="curr_test_")
    try:
        rows = [(i, float(i % 7) / 7.0) for i in range(120)]
        parts = [rows[0::2], rows[1::2]]
        store = curriculum_store(base, lambda b: b, n_buckets=4)
        for i, part in enumerate(parts):
            store.write(_curr_scored(spark, part), i)
        before = sorted(
            tuple(r) for r in curriculum_state(spark, store).collect()
        )
        # crash-replay: batch 1 rewrites its own dir (same pure score)
        store.write(_curr_scored(spark, parts[1]), 1)
        assert (
            sorted(tuple(r) for r in curriculum_state(spark, store).collect())
            == before
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_compact_curriculum_folds_and_replays(spark):
    import shutil
    import tempfile

    from mevi_spark.streaming.incremental import (
        curriculum_state,
        curriculum_store,
    )

    base = tempfile.mkdtemp(prefix="curr_compact_")
    try:
        rows = [(i, float((i * 37) % 100) / 100.0) for i in range(300)]
        parts = [rows[0::3], rows[1::3], rows[2::3]]
        store = curriculum_store(base, lambda b: b, n_buckets=8)
        for i, part in enumerate(parts):
            store.write(_curr_scored(spark, part), i)

        def state():
            return sorted(
                tuple(r) for r in curriculum_state(spark, store).collect()
            )

        want = state()
        # replay before the fold: a crashed batch rewrites its own dir
        store.write(_curr_scored(spark, parts[1]), 1)
        assert state() == want
        # the fold: served order identical, live dirs absorbed
        assert store.compact(spark) == 3
        assert store.live() == []
        assert state() == want
        # a late batch after the fold stays live and serves
        late = [(9000 + i, 0.5 + i / 1000.0) for i in range(10)]
        store.write(_curr_scored(spark, late), 3)
        assert [os.path.basename(p) for p in store.live()] == ["b000000003"]
        all_rows = rows + late
        want_rank = {
            d: i + 1
            for i, (d, _) in enumerate(
                sorted(all_rows, key=lambda x: (x[1], x[0]))
            )
        }
        got = {
            r["doc_id"]: r["global_rank"]
            for r in curriculum_state(spark, store).collect()
        }
        assert got == want_rank
        # a second fold absorbs the late dir too
        assert store.compact(spark) == 1
        assert {
            r["doc_id"]: r["global_rank"]
            for r in curriculum_state(spark, store).collect()
        } == want_rank
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_mixture_cells_state_merges_compacts_and_replays(spark):
    """The folded cell-count base is bounded at |langs|·|sources| rows
    (the merge, replay and fold themselves:
    ``test_partial_store_replay_and_compaction``)."""
    import shutil
    import tempfile

    from mevi_spark.streaming.incremental import mixture_cells_store

    base = tempfile.mkdtemp(prefix="cells_")
    try:
        rows = [
            (i, ["en", "fr", "de"][i % 3], ["web", "books"][i % 2])
            for i in range(120)
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, lang string, source string"
        )
        store = mixture_cells_store(base)
        for i in range(3):
            store.write(docs.filter(F.col("doc_id") % 3 == i), i)
        assert store.compact(spark) == 3
        n_cells = len({(lang, src) for _, lang, src in rows})
        assert spark.read.parquet(f"{base}/base").count() == n_cells
    finally:
        shutil.rmtree(base, ignore_errors=True)
