"""SQ8 scalar quantization: numpy brute-force parity and the
quantization-error bound the ANN tier depends on."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mevi_spark.operators.sq import sq8_encode, sq8_reconstruct, sq8_train
from mevi_spark.plans.plan_facts import plan_facts
from mevi_spark.sources.io import load_table


@pytest.fixture(scope="module")
def trained(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    mins, maxs = sq8_train(emb, "embedding")
    return emb, mins, maxs


def test_sq8_train_matches_numpy(spark, sf_dir, trained):
    emb, mins, maxs = trained
    mat = np.array(
        [r.embedding for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    assert mins == pytest.approx(mat.min(axis=0).tolist(), abs=0)
    assert maxs == pytest.approx(mat.max(axis=0).tolist(), abs=0)


def test_sq8_roundtrip_error_bound(spark, sf_dir, trained):
    emb, mins, maxs = trained
    out = sq8_reconstruct(
        sq8_encode(emb, mins, maxs), mins, maxs
    ).select("vec_id", "embedding", "q", "rec")
    rows = out.collect()
    mn = np.array(mins)
    mx = np.array(maxs)
    # half a quantization step per dimension (+ float slack)
    bound = (mx - mn) / 255.0 / 2.0 + 1e-9
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64)
        q = np.array(r.q)
        rec = np.array(r.rec)
        assert q.min() >= 0 and q.max() <= 255
        expected_q = np.where(
            mx == mn, 0, np.clip(np.round(255.0 * (v - mn) / (mx - mn)), 0, 255)
        )
        assert (q == expected_q).all()
        assert (np.abs(v - rec) <= bound).all()


def test_sq8_encode_is_map_only(spark, sf_dir, trained):
    """Encode/reconstruct must stay shuffle-free — the 100 TB contract:
    no Exchange in the physical plan (the train agg runs separately)."""
    emb, mins, maxs = trained
    facts = plan_facts(sq8_reconstruct(sq8_encode(emb, mins, maxs), mins, maxs))
    assert not facts.shuffles and not facts.broadcasts
