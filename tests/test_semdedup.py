"""SemDeDup (Abbas et al. 2023) — cluster-scoped cosine dedup with the
far-from-centroid keep-policy, pinned on hand-built vectors."""

from __future__ import annotations

import pytest

from mevi_spark.operators.dedup import semantic_dedup


def _centroids(spark, cents: dict[int, list[float]]):
    return spark.createDataFrame(
        [(k, v) for k, v in cents.items()], "code long, centroid array<double>"
    )


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_keeps_lowest_centroid_cosine_member(spark):
    # cluster centroid along +x; two near-identical vectors, one tilted
    # further off-axis (lower centroid cosine) — SemDeDup keeps THAT one
    cents = _centroids(spark, {0: [1.0, 0.0]})
    vecs = _vecs(
        spark,
        [
            (1, [1.0, 0.10]),  # closer to centroid → pruned
            (2, [1.0, 0.12]),  # farther (lower cc) → kept
        ],
    )
    out = {r.vec_id: r.kept for r in semantic_dedup(
        vecs, cents, threshold=0.95
    ).collect()}
    assert out == {1: 0, 2: 1}


def test_cluster_scoping_blocks_cross_cluster_compare(spark):
    # identical vectors that route to DIFFERENT clusters are never
    # compared — both kept (the within-cluster contract that makes the
    # self-join scale)
    cents = _centroids(spark, {0: [1.0, 0.0], 1: [0.0, 1.0]})
    vecs = _vecs(
        spark,
        [
            (1, [0.7, 0.69]),  # argmin → cluster 0 (barely)
            (2, [0.69, 0.7]),  # argmin → cluster 1
        ],
    )
    rows = {r.vec_id: r for r in semantic_dedup(
        vecs, cents, threshold=0.9
    ).collect()}
    assert rows[1].code == 0 and rows[2].code == 1
    assert rows[1].kept == 1 and rows[2].kept == 1


def test_exact_tie_breaks_on_lower_id(spark):
    # bit-identical vectors have EQUAL centroid cosine: the lower id
    # survives, deterministically
    cents = _centroids(spark, {0: [1.0, 0.0]})
    vecs = _vecs(spark, [(5, [1.0, 0.5]), (9, [1.0, 0.5])])
    out = {r.vec_id: r.kept for r in semantic_dedup(
        vecs, cents, threshold=0.95
    ).collect()}
    assert out == {5: 1, 9: 0}


def test_below_threshold_pairs_untouched(spark):
    cents = _centroids(spark, {0: [1.0, 0.0]})
    vecs = _vecs(spark, [(1, [1.0, 0.0]), (2, [1.0, 1.0])])  # cos ≈ 0.707
    out = {r.vec_id: r.kept for r in semantic_dedup(
        vecs, cents, threshold=0.95
    ).collect()}
    assert out == {1: 1, 2: 1}


def test_dup_group_keeps_exactly_one_max_priority(spark):
    # a 3-member duplicate group (all pairwise >= τ): only the single
    # lowest-centroid-cosine member survives
    cents = _centroids(spark, {0: [1.0, 0.0]})
    vecs = _vecs(
        spark,
        [
            (1, [1.0, 0.10]),
            (2, [1.0, 0.11]),
            (3, [1.0, 0.12]),  # lowest cc → the survivor
        ],
    )
    out = {r.vec_id: r.kept for r in semantic_dedup(
        vecs, cents, threshold=0.99
    ).collect()}
    assert out == {1: 0, 2: 0, 3: 1}

def test_giant_cluster_guard_bounds_pairs_and_matches_exact(spark):
    """A cluster above ``giant_cluster_cap`` switches to sign-LSH banded
    candidates. On a fixture whose true duplicates are bit-identical
    vectors (identical vectors share every sign key, so LSH can never
    miss them) the guarded result must equal the exact tournament, while
    the candidate pair count stays well under the full self-join's
    n·(n-1)."""
    import numpy as np

    from mevi_spark.operators.dedup import (
        _buckets,
        deterministic_planes,
        semantic_dedup,
        sign_band_keys,
    )

    rng = np.random.RandomState(7)
    dim, n = 32, 60
    base = rng.randn(n, dim)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # pairwise cosines of seeded random unit vectors concentrate near 0
    # (std ~ 1/sqrt(dim)); assert the fixture premise so a seed change
    # fails loudly instead of silently weakening the test
    gram = base @ base.T
    np.fill_diagonal(gram, 0.0)
    assert gram.max() < 0.95
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    # duplicate groups: identical copies of three base vectors, at ids
    # above n so the copy loses the (equal-_cc, lower-id) tie-break
    for j, src in enumerate((0, 1, 2)):
        rows.append((n + j, [float(x) for x in base[src]]))
    vecs = _vecs(spark, rows)
    # one centroid → everything lands in one cluster of n+3 rows
    cents = _centroids(spark, {0: [1.0] + [0.0] * (dim - 1)})

    exact = {
        r.vec_id: r.kept
        for r in semantic_dedup(
            vecs, cents, threshold=0.95, giant_cluster_cap=10**9
        ).collect()
    }
    guarded = {
        r.vec_id: r.kept
        for r in semantic_dedup(
            vecs, cents, threshold=0.95, giant_cluster_cap=16
        ).collect()
    }
    assert guarded == exact
    # each identical pair pruned exactly one (the higher id)
    assert {k: v for k, v in exact.items() if v == 0} == {
        n: 0, n + 1: 0, n + 2: 0
    }

    # the bound itself: banded candidates ≪ the full self-join fan-out
    # (ordered same-bucket pairs over every band, as the kernel verifies)
    keys = sign_band_keys(
        np.array([v for _, v in rows]),
        np.array(deterministic_planes(dim, 16), np.float64),
        4,
    )
    n_total = n + 3
    cand = sum(len(g) * (len(g) - 1) for band in keys.T for g in _buckets(band))
    assert cand < 0.5 * n_total * (n_total - 1), cand


def test_giant_cluster_guard_leaves_small_clusters_exact(spark):
    """Small clusters keep the full self-join even when another cluster
    trips the guard: a sub-threshold-LSH-visible dup pair in the small
    cluster must still prune (exactness below the cap is contractual —
    the oracle runs the exact rule)."""
    import numpy as np

    from mevi_spark.operators.dedup import semantic_dedup

    rng = np.random.RandomState(11)
    dim = 16
    big = rng.randn(40, dim)
    big /= np.linalg.norm(big, axis=1, keepdims=True)
    # route the giant cluster to centroid 0 (+x half-space), the small
    # near-dup pair to centroid 1 (+y)
    big[:, 0] = np.abs(big[:, 0]) + 2.0
    big /= np.linalg.norm(big, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in big[i]]) for i in range(40)]
    y = [0.0, 2.0] + [0.0] * (dim - 2)
    y2 = [0.01, 2.0] + [0.0] * (dim - 2)
    rows += [(100, y), (101, y2)]
    cents = _centroids(
        spark,
        {
            0: [1.0] + [0.0] * (dim - 1),
            1: [0.0, 1.0] + [0.0] * (dim - 2),
        },
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            _vecs(spark, rows), cents, threshold=0.99,
            giant_cluster_cap=10,
        ).collect()
    }
    assert out[100].code == 1 and out[101].code == 1
    # 100 vs 101: cosine ~0.99999 ≥ τ; 101 has lower centroid cosine
    # (tilted off +y) → 101 kept, 100 pruned — by the EXACT rule
    assert out[101].kept == 1 and out[100].kept == 0


@pytest.mark.parametrize("cap", [10**9, 1], ids=["exact", "banded"])
def test_threshold_cut_is_inclusive_at_the_spark_cosine(spark, cap):
    """The prune cut is ``cos >= τ`` on the cosine Spark's ``cosine``
    computes, bit for bit: τ = c prunes the pair, the next double above
    c keeps it — in an exact cluster and in a banded one (cap below
    the cluster size)."""
    import numpy as np

    from mevi_spark.functions.vector import cosine
    from mevi_spark.operators.dedup import deterministic_planes, sign_band_keys

    a, b = [1.0, 0.1, 0.3], [1.0, 0.12, 0.29]
    c = spark.createDataFrame(
        [(a, b)], "a array<double>, b array<double>"
    ).select(cosine("a", "b")).first()[0]
    assert c < 1.0
    # the banded case compares only same-bucket rows: assert the pair
    # shares a band so the cut, not the banding, decides
    keys = sign_band_keys(
        np.array([a, b]), np.array(deterministic_planes(3, 16), np.float64), 4
    )
    assert (keys[0] == keys[1]).any()
    cents = _centroids(spark, {0: [1.0, 0.0, 0.0]})
    vecs = _vecs(spark, [(1, a), (2, b)])

    def kept(tau):
        return {r.vec_id: r.kept for r in semantic_dedup(
            vecs, cents, threshold=tau, giant_cluster_cap=cap
        ).collect()}

    assert sorted(kept(c).values()) == [0, 1]
    assert kept(float(np.nextafter(c, np.inf))) == {1: 1, 2: 1}
