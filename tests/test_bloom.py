"""Bloom bitset: no false negatives (the guarantee the exact-verify
composition rests on), a sane false-positive rate at the designed
load, bit-position parity with a pure-python replica, and real
pruning in the registered composition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mevi_spark.functions.bloom import bloom_build, bloom_positions, bloom_probe

M, K = 1 << 14, 4

# --- pure-Python XXH64 (public spec, https://xxhash.com) -------------------
# Independent replica of Spark's built-in xxhash64 so the bit-position
# parity check doesn't trust Spark to verify Spark. Spark chains columns:
# xxhash64(lit(salt), key) = XXH64(utf8(key), seed=XXH64(utf8(salt), 42)).
_MASK = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _MASK


def _rnd(acc, inp):
    acc = (acc + inp * _P2) & _MASK
    return (_rotl(acc, 31) * _P1) & _MASK


def _xxh64(data: bytes, seed: int) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1, v2 = (seed + _P1 + _P2) & _MASK, (seed + _P2) & _MASK
        v3, v4 = seed & _MASK, (seed - _P1) & _MASK
        while i + 32 <= n:
            v1 = _rnd(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _rnd(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _rnd(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _rnd(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h = ((h ^ _rnd(0, v)) * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        h ^= _rnd(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    return h ^ (h >> 32)


def _spark_xxhash64(key: str, salt: str) -> int:
    h = _xxh64(key.encode(), _xxh64(salt.encode(), 42))
    return h - (1 << 64) if h >= (1 << 63) else h


def _py_positions(key: str, m: int, k: int, salt: str = "bloom"):
    # Kirsch-Mitzenmacher double hashing, mirroring functions/bloom.py
    # (python % is pmod for positive modulus, matching F.pmod)
    h1 = _spark_xxhash64(key, f"{salt}a") % m
    h2 = (_spark_xxhash64(key, f"{salt}b") % m * 2 + 1) % m
    return [(h1 + i * h2) % m for i in range(k)]


def test_positions_match_python_replica(spark):
    keys = [f"key-{i}" for i in range(50)]
    df = spark.createDataFrame([(x,) for x in keys], "g string")
    got = {
        r["g"]: list(r["pos"])
        for r in df.select(
            "g", bloom_positions(F.col("g"), M, K).alias("pos")
        ).collect()
    }
    assert got == {x: _py_positions(x, M, K) for x in keys}


def test_no_false_negatives_and_bounded_fp(spark):
    members = [f"in-{i}" for i in range(2000)]
    others = [f"out-{i}" for i in range(2000)]
    df = spark.createDataFrame([(x,) for x in members], "g string")
    words = bloom_build(df, "g", M, K)
    probe = spark.createDataFrame(
        [(x,) for x in members + others], "g string"
    ).select("g", bloom_probe(F.col("g"), words, M, K).alias("hit"))
    res = {r["g"]: r["hit"] for r in probe.collect()}
    # Bloom guarantee: every member probes true
    assert all(res[x] for x in members)
    # designed FP rate at n=2000, m=2^14, k=4 is ~1.2%; allow 4x slack
    fp = sum(1 for x in others if res[x])
    assert fp / len(others) < 0.05, fp


def test_registered_composition_prunes(spark):
    from mevi_spark.functions.bloom import bloom_build as _bb
    from mevi_spark.functions.text import word_shingles
    from mevi_spark.plans.pipeline_ops import _corpus

    sf = "/root/testdata/sf0.001"
    sh = _corpus(spark, sf).select(
        "doc_id", word_shingles("text", 5).alias("s")
    )
    ev = (
        sh.filter(F.col("doc_id") >= 100000)
        .select(F.explode("s").alias("g"))
        .distinct()
    )
    words = _bb(ev, "g", 1 << 18, 4)
    tr = sh.filter(F.col("doc_id") < 100000).select(
        "doc_id", F.explode("s").alias("g")
    )
    total = tr.count()
    cand = tr.filter(bloom_probe(F.col("g"), words, 1 << 18, 4))
    n_cand = cand.count()
    exact = tr.join(F.broadcast(ev), "g").count()
    # the pre-filter keeps every true hit and drops most of the rest
    assert exact <= n_cand < 0.8 * total, (exact, n_cand, total)


def test_non_power_of_two_m_rejected():
    # the odd-h2 full-period argument only holds for power-of-two m;
    # _strides must refuse rather than silently degrade the FP rate
    for bad in (0, 3, 100, (1 << 14) + 1):
        with pytest.raises(ValueError, match="power of two"):
            bloom_positions(F.lit("x"), bad, 4)
