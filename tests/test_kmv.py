"""KMV bottom-k distinct sketch: exactness against a pure-python
replica, mergeability (merge of per-part sketches == sketch of the
whole), under-full exactness, the estimator's certified envelope, and
the maintenance store's replay/compaction invariants."""

from __future__ import annotations

import hashlib
import math
import shutil
import tempfile

import pytest

from mevi_spark.operators.sketch import (
    kmv_bottom_k,
    kmv_certify,
    kmv_estimate,
    kmv_merge,
)


def _md5(key: str, salt: str = "kmv") -> str:
    return hashlib.md5(f"{salt}|{key}".encode()).hexdigest()


def _replica(keys, k):
    """Pure-python bottom-k over the distinct key set."""
    return sorted({(_md5(x), x) for x in keys})[:k]


def _keys_df(spark, keys, n_parts=5):
    return spark.createDataFrame(
        [(x,) for x in keys], "key string"
    ).repartition(n_parts)


def _rows(df):
    return sorted((r["hh"], r["key"]) for r in df.collect())


def test_bottom_k_matches_replica_with_duplicates(spark):
    # duplicated keys interleaved across partitions must not displace
    # distinct ones: the sketch is over the DISTINCT key space
    keys = [f"w{i % 40}" for i in range(500)]
    got = _rows(kmv_bottom_k(_keys_df(spark, keys), "key", 16))
    assert got == _replica(keys, 16)


def test_merge_of_part_sketches_equals_whole(spark):
    # the mergeable-summaries property the partial-dir store relies
    # on: bottom-k(∪ bottom-k(part_i)) == bottom-k(∪ part_i), with
    # overlapping parts (shared keys dedup on the hash)
    keys = [f"k{i}" for i in range(300)]
    parts = [keys[0:120], keys[100:220], keys[200:300]]
    sketches = [
        kmv_bottom_k(_keys_df(spark, p), "key", 24) for p in parts
    ]
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    assert _rows(kmv_merge(u, 24)) == _replica(keys, 24)


def test_underfull_sketch_is_exact_and_certifies(spark):
    keys = [f"only{i}" for i in range(10)] * 3
    sk = kmv_bottom_k(_keys_df(spark, keys), "key", 64).collect()
    assert len(sk) == 10
    assert kmv_estimate(sk, 64) == 10.0
    assert kmv_certify(sk, 10, 64) == 10.0
    # a sketch that lost a key must fail the under-full certificate
    with pytest.raises(AssertionError, match="missed keys"):
        kmv_certify(sk[:-1], 10, 64)


def test_estimator_within_envelope_and_bound_bites(spark):
    n, k = 20000, 128
    keys = [f"u{i}" for i in range(n)]
    sk = kmv_bottom_k(_keys_df(spark, keys, 8), "key", k).collect()
    assert len(sk) == k
    est = kmv_certify(sk, n, k)
    assert abs(est - n) / n <= 5.0 / math.sqrt(k - 2)
    # the same sketch certified against a wrong exact count must fail
    # — the envelope is tight enough to catch a 3x cardinality lie
    with pytest.raises(AssertionError, match="envelope"):
        kmv_certify(sk, 3 * n, k)


def test_kmv_store_replay_and_compaction(spark):
    """The merged store equals the independent Python replica (replay
    and the fold: ``test_streaming_maintenance.py::
    test_partial_store_replay_and_compaction``)."""
    from mevi_spark.streaming.incremental import kmv_store

    k = 32
    keys = [f"s{i}" for i in range(400)]
    base = tempfile.mkdtemp(prefix="kmv_test_")
    try:
        store = kmv_store(base, "key", k=k)
        for i in range(3):
            part = [x for j, x in enumerate(keys) if j % 3 == i]
            store.write(_keys_df(spark, part), i)
        assert _rows(store.state(spark)) == _replica(keys, k)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_grouped_bottom_k_matches_replica(spark):
    from mevi_spark.operators.sketch import kmv_bottom_k_grouped

    # keys shared ACROSS groups (same hash under two groups must both
    # survive — dedup is on (group, hh), not hh alone), duplicates
    # within groups, and one group smaller than k
    rows = [(f"g{i % 3}", f"key{j % 50}") for i in range(3) for j in range(200)]
    rows += [("tiny", "a"), ("tiny", "b"), ("tiny", "a")]
    df = spark.createDataFrame(
        rows, "grp string, key string"
    ).repartition(5)
    k = 8
    got = sorted(
        (r["grp"], r["rnk"], r["key"], r["hh"])
        for r in kmv_bottom_k_grouped(
            df, "key", k, ["grp"], salt="gsample"
        ).collect()
    )
    want = []
    for g in {"g0", "g1", "g2", "tiny"}:
        ks = {key for gg, key in rows if gg == g}
        bot = sorted((_md5(x, "gsample"), x) for x in ks)[:k]
        want += [(g, i + 1, key, hh) for i, (hh, key) in enumerate(bot)]
    assert got == sorted(want)


def test_grouped_bottom_k_keeps_null_group(spark):
    from mevi_spark.operators.sketch import kmv_bottom_k_grouped

    rows = [("a", "x1"), ("a", "x2"), (None, "y1"), (None, "y2")]
    df = spark.createDataFrame(rows, "grp string, key string")
    got = kmv_bottom_k_grouped(df, "key", 8, ["grp"], salt="gsample")
    by_grp = {}
    for r in got.collect():
        by_grp.setdefault(r["grp"], set()).add(r["key"])
    # the NULL stratum survives the per-partition prune (dropna=False)
    assert by_grp == {"a": {"x1", "x2"}, None: {"y1", "y2"}}
