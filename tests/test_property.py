"""Property-based equivalence: the two independent batch sessionize
implementations (lag+running-sum windows vs the engine's
``session_window`` aggregation) must agree on arbitrary event streams.

Exactly-at-gap boundaries are excluded by assumption: the close rules
legitimately differ there (lag uses ``gap > threshold``,
``session_window``'s window end is exclusive), and the µs-random
testdata never produces them — the same caveat both docstrings state.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, assume, given, settings, strategies as st
from pyspark.sql import Window, functions as F

from mevi_spark.functions.time import epoch_us

GAP_US = 1_800_000_000  # 30 min — the threshold both implementations use
_BASE = dt.datetime(2024, 3, 1, 0, 0, 0)

_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),            # user_id
        st.integers(min_value=0, max_value=3 * 86400),    # offset seconds
    ),
    min_size=1,
    max_size=25,
    unique=True,
)


def _batch_lag_sessionize(df):
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = epoch_us(df, "ts")
    gap = us - F.lag(us).over(w)
    seq = df.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > GAP_US), F.lit(1)).otherwise(F.lit(0)),
    )
    sess = seq.withColumn(
        "session_idx",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def _batch_window_sessionize(df):
    win = F.session_window(F.col("ts"), "30 minutes")
    return (
        df.groupBy(win.alias("_w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.col("_w.start").alias("session_start"),
            F.expr("_w.end - INTERVAL 30 MINUTES").alias("session_end"),
        )
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_events)
def test_sessionize_implementations_agree(spark, events):
    per_user: dict[int, list[int]] = {}
    for u, s in events:
        per_user.setdefault(u, []).append(s)
    for offs in per_user.values():
        offs.sort()
        assume(all(b - a != 1800 for a, b in zip(offs, offs[1:])))

    rows = [
        (i, u, _BASE + dt.timedelta(seconds=s))
        for i, (u, s) in enumerate(sorted(events))
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    a = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in _batch_lag_sessionize(df).collect()
    }
    b = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in _batch_window_sessionize(df).collect()
    }
    assert a == b


_vec = st.lists(
    st.integers(min_value=-8, max_value=8).map(float), min_size=4, max_size=4
)
_corpus = st.lists(
    st.tuples(_vec, st.integers(min_value=0, max_value=2)),  # (vec, code)
    min_size=4,
    max_size=20,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_corpus, st.lists(_vec, min_size=1, max_size=3))
def test_ivf_full_probe_equals_exact(spark, corpus, qvecs):
    """IVF with nprobe = K (probe every list) must return exactly the
    exact top-k — the recall knob's boundary condition, on arbitrary
    integer-valued vectors (ties included: both paths break on doc_id)."""
    from mevi_spark.operators.ann import ivf_topk_join
    from mevi_spark.operators.rq import rq_level_centroids
    from mevi_spark.operators.topk import exact_topk_join

    docs = spark.createDataFrame(
        [(i, v, c) for i, (v, c) in enumerate(corpus)],
        "doc_id long, doc_vec array<double>, code long",
    )
    queries = spark.createDataFrame(
        [(i, v) for i, v in enumerate(qvecs)],
        "query_id long, query_vec array<double>",
    )
    cents = rq_level_centroids(docs, code_col="code", vec_col="doc_vec")
    n_lists = cents.count()
    exact = {
        (r.query_id, r.rank, r.doc_id)
        for r in exact_topk_join(queries, docs, k=5, metric="ip").collect()
    }
    ivf = {
        (r.query_id, r.rank, r.doc_id)
        for r in ivf_topk_join(
            queries, docs, cents, k=5, nprobe=int(n_lists)
        ).collect()
    }
    assert ivf == exact


# magnitudes bounded so partial products / running sums stay finite:
# an overflow ends in inf/NaN, and NaN payload bits are not part of the
# bit-identity contract
_finite = st.floats(
    allow_nan=False,
    allow_infinity=False,
    width=64,
    allow_subnormal=True,
    min_value=-1e150,
    max_value=1e150,
)
_pairs = st.integers(min_value=1, max_value=6).flatmap(
    lambda d: st.lists(
        st.tuples(
            st.lists(_finite, min_size=d, max_size=d),
            st.lists(_finite, min_size=d, max_size=d),
        ),
        min_size=1,
        max_size=12,
    )
)


def _bits(v: float) -> bytes:
    import struct

    return struct.pack("<d", v)


def _spark_vs_gram(spark, va: list, vb: list):
    """``(Spark dot, dot_fold Gram entry)`` for every (a, b) row pair,
    the Gram built as the SemDeDup kernel builds it."""
    import numpy as np

    from mevi_spark.functions.vector import dot, dot_fold

    gram = dot_fold(np.array(va)[:, None], np.array(vb)[None])
    df = spark.createDataFrame(
        [(i, k, a, b) for i, a in enumerate(va) for k, b in enumerate(vb)],
        "i long, k long, va array<double>, vb array<double>",
    )
    rows = df.select("i", "k", dot("va", "vb").alias("d")).collect()
    assert len(rows) == len(va) * len(vb)
    return [(r.d, gram[r.i, r.k]) for r in rows]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_pairs)
def test_dot_fold_bit_identical(spark, pairs):
    """The SemDeDup kernel's Gram fold must be BIT-identical to the
    interpreted ``F.aggregate(zip_with(...))`` fold on arbitrary finite
    doubles (subnormals, signed zeros, magnitude extremes included) —
    the contract ``functions/vector.py::dot_fold`` documents."""
    va, vb = [a for a, _ in pairs], [b for _, b in pairs]
    for d_spark, d_fold in _spark_vs_gram(spark, va, vb):
        assert _bits(d_spark) == _bits(d_fold), (d_spark, d_fold)


def test_dot_fold_negative_zero_seed(spark):
    """Regression pin for the fold-seed edge: a pair whose running sum
    stays ``-0.0`` must come back ``+0.0`` from BOTH folds (``dot``'s
    0.0 seed normalizes it; ``dot_fold``'s zero-initialised Gram must
    too)."""
    for va, vb in (([[-1.0, -2.0]], [[0.0, 0.0]]), ([[0.0]], [[-3.5]])):
        for d_spark, d_fold in _spark_vs_gram(spark, va, vb):
            assert _bits(d_spark) == _bits(0.0)
            assert _bits(d_fold) == _bits(0.0)


# ---------------------------------------------------------------------------
# quantile-compactor soundness (pure kernel, no Spark): the tracked
# rank-error bound must hold for ANY value after ANY batch/merge
# sequence, and the fold must be deterministic (replay = identical
# summary). These are the two properties the maintenance store leans
# on: mp_certify checks the first against the real corpus at fixture
# scale; determinism is what makes crash-replay of a partial dir a
# no-op.

_mp_batches = st.lists(
    st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)


def _mp_fold(batches, k):
    from mevi_spark.operators.sketch import _mp_compact_levels

    levels: dict[int, list[float]] = {}
    err = 0
    for batch in batches:
        levels.setdefault(0, []).extend(batch)
        err += _mp_compact_levels(levels, k)
    return levels, err


@settings(max_examples=200, deadline=None)
@given(_mp_batches, st.integers(min_value=2, max_value=9))
def test_mp_compactor_bound_and_capacity(batches, k):
    """After any ingest sequence: every level holds <= k items, the
    summary's total weight equals the ingested count, and for every
    probe value the weighted estimated rank sits within the tracked
    error of the true rank (probes = all ingested values AND midpoints
    between adjacent distinct values — the gaps are where dropped
    values hide, same probe rule as mp_certify)."""
    levels, err = _mp_fold(batches, k)
    all_vals = sorted(v for b in batches for v in b)
    items = [(v, 1 << lvl) for lvl, buf in levels.items() for v in buf]
    assert all(len(buf) <= k for buf in levels.values())
    assert sum(w for _, w in items) == len(all_vals)
    distinct = sorted(set(all_vals))
    probes = distinct + [
        (a + b) / 2.0 for a, b in zip(distinct, distinct[1:])
    ]
    for p in probes:
        true = sum(1 for v in all_vals if v <= p)
        est = sum(w for v, w in items if v <= p)
        assert abs(est - true) <= err, (p, est, true, err)


@settings(max_examples=50, deadline=None)
@given(_mp_batches, st.integers(min_value=2, max_value=9))
def test_mp_compactor_deterministic_replay(batches, k):
    """The same batch sequence folds to the IDENTICAL summary (levels,
    contents, tracked error) — the deterministic-compaction property
    that makes a replayed partial-dir overwrite byte-identical."""
    a_levels, a_err = _mp_fold(batches, k)
    b_levels, b_err = _mp_fold(batches, k)
    assert a_err == b_err
    assert {l: sorted(b) for l, b in a_levels.items()} == {
        l: sorted(b) for l, b in b_levels.items()
    }


# ---------------------------------------------------------------------------
# connected-components (pointer jumping) vs a pure-Python union-find


_edges = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=14),
        st.integers(min_value=1, max_value=14),
    ),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_edges)
def test_connected_components_match_union_find(spark, raw):
    """The pointer-jumping label contraction must produce the min-id
    component labeling of ANY edge set (self-loops, duplicates, long
    chains, multiple components) — checked against an independent
    pure-Python union-find."""
    from mevi_spark.operators.dedup import connected_components

    edges = [(a, b) for a, b in raw if a != b]
    assume(edges)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = {n for e in edges for n in e}
    want = {(n, find(n)) for n in nodes}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r["id"], r["component"])
        for r in connected_components(df).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# overlap-grid rebuild: coverage semantics vs a python reference


_docs_cuts = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),             # doc_id
        st.integers(min_value=0, max_value=30),            # cut start
    ),
    min_size=0,
    max_size=12,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_docs_cuts, st.integers(min_value=2, max_value=8))
def test_rebuild_covered_words_matches_python(spark, raw_cuts, w):
    """Word-level rebuild under ANY cut set (overlapping, duplicate,
    out-of-range spans) must equal the python reference: drop word i
    iff some cut c has c <= i < c+w."""
    import hashlib

    from mevi_spark.plans.pipeline_ops import rebuild_covered_words

    texts = {
        1: " ".join(f"w{i}" for i in range(25)),
        2: " ".join(f"x{i}" for i in range(8)),
        3: "solo",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    cuts = spark.createDataFrame(
        raw_cuts or [(99, 0)], "doc_id long, start int"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_kept_words"], r["rebuilt_md5"])
        for r in rebuild_covered_words(docs, cuts, w_words=w).collect()
    }
    for d, text in texts.items():
        words = text.split(" ")
        spans = [c for dd, c in raw_cuts if dd == d]
        kept = [
            word
            for i, word in enumerate(words)
            if not any(c <= i < c + w for c in spans)
        ]
        md5 = hashlib.md5(" ".join(kept).encode()).hexdigest()
        assert got[d] == (len(words), len(kept), md5), (d, got[d])


# ---------------------------------------------------------------------------
# range-bucket global ranking: permutation property on random scores


_scores = st.lists(
    st.integers(min_value=0, max_value=9),
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_scores)
def test_ranked_by_range_buckets_is_exact_permutation(spark, raw):
    """Any score distribution (few distinct values → giant tie groups,
    single value → one bucket) must yield the exact (score, id) total
    order as a 1..N permutation."""
    from mevi_spark.plans.pipeline_ops import ranked_by_range_buckets

    rows = [(i, float(v)) for i, v in enumerate(raw)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    got = sorted(
        (r["global_rank"], r["doc_id"])
        for r in ranked_by_range_buckets(
            df, "score", ["doc_id"], n_buckets=4
        ).collect()
    )
    want = [
        (i + 1, doc)
        for i, (doc, _) in enumerate(
            sorted(rows, key=lambda t: (t[1], t[0]))
        )
    ]
    assert got == want
