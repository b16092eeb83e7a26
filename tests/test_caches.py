"""Session-cache lifecycle: the chain/run artifacts live ON their
session object (an attribute, so their lifetime is exactly the
session's — a weak-keyed module map leaked because cached DataFrames
strongly reference their session), and ``clear_session_caches`` frees
the persisted blocks deterministically (VERDICT r3 #5)."""

from __future__ import annotations

from pyspark import StorageLevel

from mevi_spark.plans import retrieval as R


def test_clear_session_caches_frees_blocks(spark, sf_dir):
    mapping, codebook = R._codebook2(spark, sf_dir)
    run = R._ann_run(spark, sf_dir)
    assert R._chain_cache(spark) and R._run_cache(spark)
    assert mapping.storageLevel != StorageLevel.NONE
    assert run.storageLevel != StorageLevel.NONE

    R.clear_session_caches(spark)

    assert not getattr(spark, "_mevi_chain_cache", None)
    assert not getattr(spark, "_mevi_run_cache", None)
    assert mapping.storageLevel == StorageLevel.NONE
    assert codebook.storageLevel == StorageLevel.NONE
    assert run.storageLevel == StorageLevel.NONE

    # idempotent on an empty session, and a rebuild re-populates
    R.clear_session_caches(spark)
    m2, _ = R._codebook2(spark, sf_dir)
    assert m2.storageLevel != StorageLevel.NONE
    assert sorted(r["id"] for r in m2.limit(5).collect()) == sorted(
        r["id"] for r in mapping.limit(5).collect()
    )


def test_codebook_is_staged_and_reused(spark, sf_dir):
    """The trained codebook is a staged on-disk artifact keyed by the
    embeddings mtime: clearing session caches and rebuilding must NOT
    rewrite it (no new centroid-training jobs for an unchanged corpus),
    and the rebuilt chain must produce the identical mapping."""
    import os

    from mevi_spark.plans.staging import staged_path

    R.clear_session_caches(spark)
    m1, cb1 = R._codebook2(spark, sf_dir)
    rows1 = sorted(map(tuple, m1.collect()))
    cb_rows1 = sorted((r["level"], r["code"]) for r in cb1.collect())
    path = staged_path("codebook2", sf_dir)
    assert os.path.exists(os.path.join(path, "_STAGED"))
    mtime = os.path.getmtime(path)

    R.clear_session_caches(spark)
    m2, cb2 = R._codebook2(spark, sf_dir)
    assert os.path.getmtime(path) == mtime  # reused, not rebuilt
    assert sorted(map(tuple, m2.collect())) == rows1
    assert sorted((r["level"], r["code"]) for r in cb2.collect()) == cb_rows1


def test_caches_are_per_session_maps(spark, sf_dir):
    """The store hangs off the session object — no module registry a
    recycled id() (or a value->key reference cycle) could leak."""
    R._codebook2(spark, sf_dir)
    assert set(R._chain_cache(spark)) == {sf_dir}
    for key in getattr(spark, "_mevi_run_cache", {}):
        assert isinstance(key, tuple) and key[0] == sf_dir
    # a different session sees its own (empty) store, not this one's
    fresh = spark.newSession()
    try:
        assert getattr(fresh, "_mevi_chain_cache", None) is None
    finally:
        pass


def test_dpp_conf_key_works_on_default_confs(spark):
    """The driver runs a VANILLA session where none of the planner confs
    are explicitly set; conf.get validates even the fallback value
    against the conf's type, so the key builder must never pass a
    sentinel that fails validation (round-7 regression: '' for the
    byte-typed broadcast threshold broke entry() on vanilla sessions
    while every configured-session check stayed green)."""
    fresh = spark.newSession()
    for key in (
        "spark.sql.optimizer.dynamicPartitionPruning.enabled",
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    ):
        try:
            fresh.conf.unset(key)
        except Exception:
            pass
    key = R._dpp_conf_key(fresh)
    assert len(key) == 3 and all(v for v in key)


def test_drained_batches_leave_cache_manager_as_found(spark, tmp_path):
    """Each micro-batch arrives on its own Python session object, out of
    reach of the caller's ``clear_session_caches``: ``_drain_batches``
    must release what its sink parked with ``defer_unpersist``."""
    from mevi_spark.operators.cache import defer_unpersist
    from mevi_spark.streaming.incremental import (
        _drain_batches,
        stream_parquet_source,
    )

    src, seen = str(tmp_path / "in"), []
    for i in range(3):
        spark.range(10 * i, 10 * i + 10).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    R.clear_session_caches(spark)
    before = cache_manager.numCachedEntries()

    def sink(batch, _batch_id):
        seen.append(defer_unpersist(batch.persist()).count())

    stream = stream_parquet_source(spark, src, "id long")
    _drain_batches(stream, str(tmp_path / "ckpt"), sink).awaitTermination()
    R.clear_session_caches(spark)
    assert seen == [10, 10, 10]
    assert cache_manager.numCachedEntries() == before
