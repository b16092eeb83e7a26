"""Product quantization: encode matches a NumPy brute-force argmin per
subspace, ADC scores equal the LUT-sum definition, and the encode plan
broadcasts the codebook (never shuffles vectors against it)."""

from __future__ import annotations

import numpy as np
import pytest

from mevi_spark.plans.plan_facts import plan_facts
from mevi_spark.operators.pq import (
    adc_lut,
    adc_scan_scores,
    pq_codebook_from_centroids,
    pq_encode,
    split_subvectors,
)

M, SUB, K, DIM, N = 4, 4, 5, 16, 40


@pytest.fixture(scope="module")
def fixture(spark):
    rng = np.random.RandomState(11)
    vecs = rng.randn(N, DIM).round(3)
    cents = rng.randn(K, DIM).round(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(N)],
        "vec_id long, embedding array<double>",
    )
    cent_df = spark.createDataFrame(
        [(k, [float(x) for x in cents[k]]) for k in range(K)],
        "code int, centroid array<double>",
    )
    cb = pq_codebook_from_centroids(cent_df, M, SUB)
    codes = pq_encode(split_subvectors(emb, M, SUB), cb)
    return vecs, cents, emb, cb, codes


def _np_codes(vecs, cents):
    out = {}
    for i in range(len(vecs)):
        for m in range(M):
            v = vecs[i, m * SUB : (m + 1) * SUB]
            d = ((cents[:, m * SUB : (m + 1) * SUB] - v) ** 2).sum(axis=1)
            out[(i, m)] = int(np.argmin(d))  # np.argmin = first min = low code
    return out


def test_pq_encode_matches_numpy_argmin(fixture):
    vecs, cents, _emb, _cb, codes = fixture
    want = _np_codes(vecs, cents)
    got = {(r.vec_id, r.m): r.code for r in codes.collect()}
    assert got == want
    # err_e6 is the true squared subspace residual
    for r in codes.collect():
        v = vecs[r.vec_id, r.m * SUB : (r.m + 1) * SUB]
        c = cents[r.code, r.m * SUB : (r.m + 1) * SUB]
        assert r.err_e6 == pytest.approx(((v - c) ** 2).sum() * 1e6, abs=2)


def test_adc_scores_equal_lut_sum(fixture):
    vecs, cents, emb, cb, codes = fixture
    from pyspark.sql import functions as F

    qs = split_subvectors(emb.filter(F.col("vec_id") < 3), M, SUB)
    lut = adc_lut(qs.withColumnRenamed("vec_id", "qid"), cb)
    got = {
        (r.qid, r.vec_id): r.score_e6
        for r in adc_scan_scores(codes.drop("err_e6"), lut).collect()
    }
    np_codes = _np_codes(vecs, cents)
    for q in range(3):
        for i in range(N):
            want = sum(
                round(
                    float(
                        vecs[q, m * SUB : (m + 1) * SUB]
                        @ cents[np_codes[(i, m)], m * SUB : (m + 1) * SUB]
                    )
                    * 1e6
                )
                for m in range(M)
            )
            assert abs(got[(q, i)] - want) <= M  # per-partial rounding ulps


def test_pq_encode_plan_broadcasts_codebook(fixture):
    *_, codes = fixture
    joins = plan_facts(codes).joins
    assert "BroadcastHashJoin" in joins
    assert not {"SortMergeJoin", "CartesianProduct"} & set(joins)


def test_ivf_pq_full_probe_equals_exhaustive_adc(fixture):
    """With nprobe = K (probe every cluster) the IVF-PQ composition
    must reduce to the exhaustive ADC scan — pruning only ever REMOVES
    candidates, it never changes a surviving score."""
    from pyspark.sql import functions as F

    from mevi_spark.operators.topk import topk_per_group

    vecs, cents, emb, cb, codes = fixture
    q = emb.filter(F.col("vec_id") < 2).withColumnRenamed("vec_id", "qid")
    lut = adc_lut(split_subvectors(q, M, SUB, id_col="qid"), cb)
    exhaustive = {
        (r.qid, r.vec_id, r.rank)
        for r in topk_per_group(
            adc_scan_scores(codes.drop("err_e6"), lut),
            ["qid"], "score_e6", 5, ["vec_id"],
        ).collect()
    }
    # full-probe IVF: every cluster probed → same candidate set as
    # exhaustive
    cand = q.select("qid").crossJoin(emb.select("vec_id"))
    pruned = {
        (r.qid, r.vec_id, r.rank)
        for r in topk_per_group(
            cand.join(codes.drop("err_e6"), "vec_id")
            .join(F.broadcast(lut), ["qid", "m", "code"])
            .groupBy("qid", "vec_id")
            .agg(F.sum("p_e6").alias("score_e6")),
            ["qid"], "score_e6", 5, ["vec_id"],
        ).collect()
    }
    assert pruned == exhaustive


def test_recall_curves_monotone(spark, sf_dir):
    """The registered recall rows (``pq_ivf_recall_curve``,
    ``multi_assign_recall``) must be non-decreasing in nprobe / R —
    the candidate sets are nested, so more probes or assignments can
    only add hits. The driver row certifies the exact values; this
    pins the property the curve exists to demonstrate."""
    from mevi_spark.plans.registry import get_queries

    qs = get_queries()
    curve = {
        r.nprobe: (r.hits, r.recall_e6)
        for r in qs["pq_ivf_recall_curve"](spark, sf_dir).collect()
    }
    assert sorted(curve) == [1, 2, 3]
    assert curve[1][1] <= curve[2][1] <= curve[3][1]
    assert curve[1][0] >= 1  # nprobe=1 already finds same-cluster NNs
    ma = {
        r.r: r.recall_e6
        for r in qs["multi_assign_recall"](spark, sf_dir).collect()
    }
    assert sorted(ma) == [1, 2, 3]
    assert ma[1] <= ma[2] <= ma[3]
