"""RQ layer (A4/A5/A6/U2/F11/S7) vs NumPy oracles on the embeddings
fixture (planted label clusters, FIXTURES.md)."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from mevi_spark.operators.rq import (
    ema_update_codebook,
    load_rq_model,
    reconstruct,
    rq_encode_seeded,
    save_rq_model,
    train_rq_kmeans,
)


def _vecs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vector"),
        "label",
    )


def _np_data(rows):
    ids = np.array([r.id for r in rows])
    mat = np.array([r.vector for r in rows], dtype=np.float64)
    labels = np.array([r.label for r in rows])
    return ids, mat, labels


def test_rq_encode_seeded_matches_numpy(spark, sf_dir):
    df = _vecs(spark, sf_dir).cache()
    rows = df.collect()
    ids, mat, labels = _np_data(rows)

    mapping, codebook = rq_encode_seeded(
        df, seed_code="label", id_col="id", vec_col="vector", levels=2
    )
    got = {r.id: (r.code_0, r.code_1) for r in mapping.collect()}
    cb = {
        (r.level, r.code): np.array(r.centroid)
        for r in codebook.collect()
    }

    # NumPy oracle — level 0: per-label means, argmin ‖r − c‖²
    resid = mat.copy()
    codes = np.zeros((len(ids), 2), dtype=int)
    seed = labels
    for lvl in range(2):
        uniq = np.unique(seed)
        cents = {u: resid[seed == u].mean(axis=0) for u in uniq}
        for u in uniq:
            np.testing.assert_allclose(
                cb[(lvl, int(u))], cents[u], rtol=0, atol=1e-9
            )
        carr = np.stack([cents[u] for u in uniq])
        d = ((resid[:, None, :] - carr[None, :, :]) ** 2).sum(axis=2)
        pick = uniq[np.argmin(d, axis=1)]
        codes[:, lvl] = pick
        resid = resid - np.stack([cents[p] for p in pick])
        seed = pick
    for i, vid in enumerate(ids):
        assert got[vid] == (codes[i, 0], codes[i, 1]), f"id {vid}"


def test_train_rq_kmeans_reduces_residual(spark, sf_dir):
    df = _vecs(spark, sf_dir)
    mapping, codebook = train_rq_kmeans(
        df, levels=2, k=8, id_col="id", vec_col="vector", max_iter=10
    )
    rows = mapping.collect()
    assert len(rows) == df.count()
    assert all(len(r.code) == 2 for r in rows)
    assert codebook.count() == 16  # 2 levels × 8

    rec = reconstruct(mapping, codebook, levels=2, id_col="id")
    joined = rec.join(df, "id").select(
        F.aggregate(
            F.zip_with(
                F.col("vector").cast("array<double>"),
                "reconstructed",
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("err2")
    )
    mse2 = joined.agg(F.avg("err2")).first()[0]

    # level-0-only model (same seed ⇒ identical first level): the second
    # residual level must strictly reduce reconstruction error
    m1, cb1 = train_rq_kmeans(
        df, levels=1, k=8, id_col="id", vec_col="vector", max_iter=10
    )
    rec1 = reconstruct(m1, cb1, levels=1, id_col="id")
    mse1 = (
        rec1.join(df, "id")
        .select(
            F.aggregate(
                F.zip_with(
                    F.col("vector").cast("array<double>"),
                    "reconstructed",
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("err2")
        )
        .agg(F.avg("err2"))
        .first()[0]
    )
    assert mse2 < mse1


def test_reconstruct_matches_numpy(spark, sf_dir):
    df = _vecs(spark, sf_dir)
    mapping, codebook = rq_encode_seeded(
        df, seed_code="label", id_col="id", vec_col="vector", levels=2
    )
    cb = {(r.level, r.code): np.array(r.centroid) for r in codebook.collect()}
    rec = {r.id: np.array(r.reconstructed) for r in
           reconstruct(mapping, codebook, levels=2, id_col="id").collect()}
    for r in mapping.collect():
        expect = cb[(0, r.code_0)] + cb[(1, r.code_1)]
        np.testing.assert_allclose(rec[r.id], expect, atol=1e-12)


def test_ema_update_matches_numpy(spark, sf_dir):
    df = _vecs(spark, sf_dir).withColumnRenamed("label", "code").cache()
    rows = df.collect()
    mat = np.array([r.vector for r in rows], dtype=np.float64)
    codes = np.array([r.code for r in rows])

    k = int(codes.max()) + 1
    init = spark.createDataFrame(
        [(int(i), [0.0] * mat.shape[1]) for i in range(k)],
        "code int, centroid array<double>",
    )
    out = {r.code: r for r in
           ema_update_codebook(df, init, decay=0.5, vec_col="vector").collect()}

    for i in range(k):
        n_k = int((codes == i).sum())
        sum_k = mat[codes == i].sum(axis=0) if n_k else np.zeros(mat.shape[1])
        size = 0.5 * 1.0 + 0.5 * n_k
        avg = 0.5 * np.zeros(mat.shape[1]) + 0.5 * sum_k
        assert abs(out[i].cluster_size - size) < 1e-9
        np.testing.assert_allclose(
            np.array(out[i].centroid), avg / size, atol=1e-6
        )


def test_ema_restarts_dead_codes(spark, sf_dir):
    df = _vecs(spark, sf_dir).withColumnRenamed("label", "code")
    dim = len(df.first().vector)
    # codebook with an extra code 99 that no row is assigned to
    init = spark.createDataFrame(
        [(int(i), [0.0] * dim) for i in list(range(10)) + [99]],
        "code int, centroid array<double>",
    )
    out = {r.code: r for r in
           ema_update_codebook(df, init, decay=0.5, restart_min=0.9,
                               vec_col="vector").collect()}
    # dead code 99: EMA size 0.5·1 + 0.5·0 = 0.5 < 0.9 → restarted
    assert out[99].cluster_size == 1.0
    assert any(abs(x) > 1e-12 for x in out[99].centroid)


def test_save_load_roundtrip(spark, sf_dir, tmp_path):
    df = _vecs(spark, sf_dir)
    mapping, codebook = train_rq_kmeans(
        df, levels=2, k=4, id_col="id", vec_col="vector", max_iter=5
    )
    path = str(tmp_path / "rq_model")
    save_rq_model(mapping, codebook, path)
    m2, cb2 = load_rq_model(spark, path)
    assert sorted((r.id, tuple(r.code)) for r in mapping.collect()) == \
        sorted((r.id, tuple(r.code)) for r in m2.collect())
    a = {(r.level, r.code): tuple(r.centroid) for r in codebook.collect()}
    b = {(r.level, r.code): tuple(r.centroid) for r in cb2.collect()}
    assert a == b


def test_level_centroids_arrow_matches_sql(spark, sf_dir):
    """The mapInPandas partial-agg scale path computes the same centroids
    as the decimal-exact SQL path (within float64 accumulation order)."""
    from mevi_spark.operators.rq import rq_level_centroids

    df = _vecs(spark, sf_dir)
    a = {
        r["code"]: np.array(r["centroid"])
        for r in rq_level_centroids(
            df, code_col="label", vec_col="vector", impl="sql"
        ).collect()
    }
    b = {
        r["code"]: np.array(r["centroid"])
        for r in rq_level_centroids(
            df, code_col="label", vec_col="vector", impl="arrow"
        ).collect()
    }
    assert set(a) == set(b)
    for code in a:
        np.testing.assert_allclose(a[code], b[code], rtol=1e-12, atol=1e-12)


def test_assign_topr_r1_reduces_to_assign_nearest(spark, sf_dir):
    """The top-R generalization at R=1 must reproduce assign_nearest
    EXACTLY (same struct ordering, same (d asc, code asc) tie-break) —
    the reduction VERDICT r8 asks to pin."""
    from mevi_spark.operators.rq import (
        assign_nearest,
        assign_topr,
        rq_level_centroids,
    )

    df = _vecs(spark, sf_dir)
    cents = rq_level_centroids(df, code_col="label", vec_col="vector")
    single = {
        r.id: r.code
        for r in assign_nearest(df, cents, "id", "vector").collect()
    }
    top1 = assign_topr(df, cents, "id", "vector", 1).collect()
    assert all(r.rank == 1 for r in top1)
    assert {r.id: r.code for r in top1} == single


def test_assign_topr_ranks_by_distance_and_nests(spark, sf_dir):
    """R=3 rows per vector, rank-ordered by true L2 distance (NumPy
    oracle), and the R=2 set is a prefix of the R=3 set."""
    from mevi_spark.operators.rq import assign_topr, rq_level_centroids

    df = _vecs(spark, sf_dir)
    cents = rq_level_centroids(df, code_col="label", vec_col="vector")
    cent_map = {
        r.code: np.array(r.centroid) for r in cents.collect()
    }
    rows = df.collect()
    mat = {r.id: np.array(r.vector, dtype=np.float64) for r in rows}
    got3 = {}
    for r in assign_topr(df, cents, "id", "vector", 3).collect():
        got3.setdefault(r.id, []).append((r.rank, r.code))
    got2 = {}
    for r in assign_topr(df, cents, "id", "vector", 2).collect():
        got2.setdefault(r.id, []).append((r.rank, r.code))
    codes = sorted(cent_map)
    for vid, v in mat.items():
        d = {c: float(((v - cent_map[c]) ** 2).sum()) for c in codes}
        want = sorted(codes, key=lambda c: (d[c], c))[:3]
        assert [c for _rk, c in sorted(got3[vid])] == want, vid
        assert sorted(got2[vid]) == sorted(got3[vid])[:2], vid


def _jobs_of(spark, group, fn):
    """``fn()``'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("idle", "idle")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_centroid_entries_collects_a_fixed_codebook_once(spark):
    """A codebook frame over local rows is collected once per frame
    object: the second call starts no Spark job and returns the same
    entries. A new frame with other rows is collected anew."""
    from mevi_spark.operators.rq import centroid_entries

    rows = [(1, [0.5, 2.0]), (0, [1.0, -1.0])]
    cents = spark.createDataFrame(rows, "code long, centroid array<double>")
    first, n_first = _jobs_of(spark, "cb-fixed-1", lambda: centroid_entries(cents))
    again, n_again = _jobs_of(spark, "cb-fixed-2", lambda: centroid_entries(cents))
    assert first == [(0, [1.0, -1.0], 2.0), (1, [0.5, 2.0], 4.25)]
    assert n_first > 0 and n_again == 0
    assert again == first
    other = spark.createDataFrame(
        [(0, [3.0, 0.0])], "code long, centroid array<double>"
    )
    assert centroid_entries(other) == [(0, [3.0, 0.0], 9.0)]
    # a derived frame over the same local rows is fixed too
    derived = cents.filter(F.col("code") == 0)
    centroid_entries(derived)
    _, n_derived = _jobs_of(spark, "cb-fixed-3", lambda: centroid_entries(derived))
    assert n_derived == 0


def test_centroid_entries_rereads_a_file_backed_codebook(spark, tmp_path):
    """A codebook frame over files is collected on every call: after its
    file is rewritten in place, the same frame object returns the new
    rows, never the entries of its first collect."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mevi_spark.operators.rq import centroid_entries

    path = tmp_path / "codebook"
    path.mkdir()
    part = str(path / "part-0.parquet")

    def write(vec):
        table = pa.table(
            {"code": pa.array([0], pa.int64()),
             "centroid": pa.array([vec], pa.list_(pa.float64()))}
        )
        pq.write_table(
            table, part, compression="NONE", use_dictionary=False,
            write_statistics=False,
        )
        return os.path.getsize(part)

    size = write([1.0, 2.0])
    cents = spark.read.parquet(str(path))
    assert centroid_entries(cents) == [(0, [1.0, 2.0], 5.0)]
    # same byte size, so the frame's cached listing still matches
    assert write([3.0, 0.5]) == size
    got, n_jobs = _jobs_of(spark, "cb-file", lambda: centroid_entries(cents))
    assert n_jobs > 0
    assert got == [(0, [3.0, 0.5], 9.25)]
