"""Vector scalar functions as pure column expressions (SURVEY.md §2.8).

All of these stay JVM-side inside whole-stage codegen — no Python UDFs;
:func:`dot_fold` is the NumPy twin of :func:`dot` for Python kernels.
Arithmetic is done in float64 regardless of the storage type (embeddings
are ``array<float>`` on disk) so results are deterministic and match the
DuckDB oracle bit-for-bit: both engines fold the array left-to-right in
double precision (verified empirically).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, functions as F


def lit_vec(vals) -> Column:
    """``array<double>`` literal from a Python sequence as ONE
    expression node (``F.lit`` on the list), not ``dim`` separate
    ``F.lit`` calls wrapped in ``F.array``.

    Same post-optimization plan (CreateArray over foldable literals
    constant-folds to the identical Literal), but the driver-side cost
    differs sharply: per-element construction is ``dim`` py4j round
    trips and a ``dim``-child tree for every eager analyzer pass, which
    dominated the RQ chain build (~1.5 s at dim=64, K=10, 2 levels).
    """
    return F.lit([float(v) for v in vals])


def sql_ident(name: str) -> str:
    """Backtick-quote a column name for embedding in SQL text
    (escaping embedded backticks)."""
    return "`" + name.replace("`", "``") + "`"


def sql_double_array(vals) -> str:
    """SQL text for an ``array<double>`` literal, bit-exact.

    ``repr(float)`` is the shortest string that round-trips to the same
    double in Python, and Java's ``Double.parseDouble`` is correctly
    rounded, so ``parse(repr(v)) == v`` bit-for-bit (verified including
    subnormals and exponent forms). Text + one ``F.expr`` parse is the
    cheap way to inline a codebook: building the same tree through the
    Column API is hundreds of py4j round trips per expression (~0.5 s
    warm at K=10 × dim=64 — the dominant RQ chain-build cost), while
    the JVM-side parse of the equivalent text is milliseconds.
    """
    return "array(" + ",".join(sql_double(v) for v in vals) + ")"


def sql_json_literal(value, schema: str) -> str:
    """SQL text for a large constant collection as a near-O(1)
    analysis-time tree: ``from_json('<json>', '<schema>')``.

    A K·dim codebook inlined as ``array(named_struct(...), ...)`` text
    parses to ~K·dim expression nodes, and EVERY later plan-construction
    op re-pays analysis over that subtree (~15 ms per op at K=10,
    dim=64 — profiled; it dominated the beam's build). ``from_json`` of
    one string literal is two nodes at analysis time and ConstantFolding
    collapses it to a single Literal before execution, so runtime plans
    are identical. Doubles stay bit-exact: ``json.dumps`` emits the
    shortest round-trip form and Jackson's parse is correctly rounded
    (verified incl. 1e±308). Non-finite values raise (``allow_nan=False``)
    — same contract as :func:`sql_double`.
    """
    import json

    js = json.dumps(value, allow_nan=False)
    if "'" in js or "\\" in js:
        raise ValueError("sql_json_literal supports numeric/plain content only")
    return f"from_json('{js}', '{schema}')"


def sql_double(v) -> str:
    """One bit-exact SQL double literal (see :func:`sql_double_array`);
    non-finite values would parse-error opaquely, so they fail loudly
    here instead."""
    f = float(v)
    if not math.isfinite(f):
        raise ValueError(f"non-finite SQL double literal: {v!r}")
    return repr(f) + "D"


def _d(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product (F5) — ``MEVI/pq.py:124-131`` ``compute_scores('ip')``,
    ``MEVI/document_encoder.py:128-132``."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; a zero-norm side scores 0.0 (ranked last)
    instead of dividing by zero — Spark 4's ANSI default turns the
    bare division into a job-aborting DIVIDE_BY_ZERO the moment a
    dead/padding embedding appears, and the blocked Arrow kernel
    (``operators/topk.py``) already guards the same way, so the two
    impls of one operator must agree. For non-zero vectors the
    expression is the identical dot/(‖a‖·‖b‖) division (bit-equal to
    the oracles' form)."""
    den = l2_norm(a) * l2_norm(b)
    return F.when(den == 0.0, F.lit(0.0)).otherwise(dot(a, b) / den)


def l2_dist_sq(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance (F5, 'l2' metric in ``MEVI/pq.py:124-131``)."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def neg_l2_score(a: Column | str, b: Column | str) -> Column:
    """Negative L2 used as a similarity score (bigger = closer)."""
    return -l2_dist_sq(a, b)


def iptol2_doc(v: Column | str, phi: Column) -> Column:
    """MIPS→L2 augmentation, doc side (F6): ``v ← (v, sqrt(phi − ‖v‖²))``.

    The known reduction the reference applies at ``MEVI/pq.py:82-119`` so
    inner-product search can run on L2-only structures (our
    ``BucketedRandomProjectionLSH``). ``phi`` must be ≥ max ‖v‖² over the
    corpus.
    """
    extra = F.sqrt(F.greatest(phi - dot(v, v), F.lit(0.0)))
    return F.concat(_d(v), F.array(extra))


def iptol2_query(v: Column | str) -> Column:
    """MIPS→L2 augmentation, query side (F6): ``q ← (q, 0)``."""
    return F.concat(_d(v), F.array(F.lit(0.0)))


def code_flat(code: Column | str, k: int) -> Column:
    """Flat cluster index (F8): ``idx = Σ code_i · K^(M−1−i)``, the
    radix-K fold of ``MEVI/main_models.py:1046-1051`` / ``3355-3358``.

    Used as the *physical* join/partition key everywhere instead of the
    ``array<int>`` code (SURVEY §7.5.5): a long hashes/partitions cheaply
    and makes the code→docs join partition-prunable at scale.
    """
    code = F.col(code) if isinstance(code, str) else code
    return F.aggregate(
        code,
        F.lit(0).cast("long"),
        lambda acc, x: acc * k + x.cast("long"),
    )


def code_tokens(code: Column | str, k: int) -> Column:
    """F7 ``encode_single_newid``: per-level code → shared-vocabulary
    token id, ``token_i = level_i·K + code_i + 2``
    (``MEVI/main_models.py:83-108``; offsets 0/1 are the T5 pad/eos).
    Pure column arithmetic over the code array."""
    code = F.col(code) if isinstance(code, str) else code
    return F.transform(
        code, lambda c, i: (i * F.lit(k) + c + F.lit(2)).cast("int")
    )


def tokens_to_code(toks: Column | str, k: int) -> Column:
    """F7 ``decode_token`` inverse: ``code_i = (token_i − 2) mod K``
    (``MEVI/main_models.py:117-136``)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    return F.transform(toks, lambda t: ((t - F.lit(2)) % F.lit(k)).cast("int"))


def code_unflat(flat: Column | str, k: int, m: int) -> Column:
    """Inverse of :func:`code_flat`: long → ``array<int>`` of length M.

    Mirrors ``decode_token`` (``MEVI/main_models.py:117-136``) without the
    token-offset arithmetic (our codes are plain per-level ints; the
    reference's ``level·K + code + 2`` token packing, F7, only exists to
    share one T5 vocabulary).
    """
    flat = F.col(flat) if isinstance(flat, str) else flat
    # digit extraction must be EXACT integer arithmetic: Spark's `/`
    # on longs is double division, which rounds once flat ≥ 2^53
    # (K=1024, M=6 reaches 2^60) and breaks the code_flat round-trip.
    # Decimal remainder/divide stay exact for divisible quotients.
    d = flat.cast("decimal(38,0)")
    parts = []
    for i in range(m):
        p = F.lit(k ** (m - 1 - i))
        q = (d - (d % p)) / p  # exact: numerator divisible by p
        parts.append((q.cast("long") % k).cast("int"))
    return F.array(*parts)


def dot_fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """NumPy twin of :func:`dot`, BIT-IDENTICAL to it: the products
    ``a[..., j]·b[..., j]`` summed left to right from a 0.0 seed over
    the last axis, with the leading axes broadcast — ``dot_fold(x, x)``
    is every row's squared norm, ``dot_fold(x[:, None], y[None])`` the
    Gram matrix of two row sets, built by rank-1 updates in dimension
    order::

        acc = 0.0 + a0·b0; acc += a1·b1; ...

    Per entry that is exactly the interpreted ``F.aggregate`` fold —
    IEEE ops applied in the same order give the same bits (the 0.0
    seed turns a ``-0.0`` sum into ``+0.0`` in both), so results
    computed here hash-match the Spark expression and the oracles
    (pinned by ``tests/test_property.py::test_dot_fold_bit_identical``).
    A BLAS matmul would not: it reassociates the sum."""
    a = np.ascontiguousarray(np.moveaxis(np.asarray(a, np.float64), -1, 0))
    b = np.ascontiguousarray(np.moveaxis(np.asarray(b, np.float64), -1, 0))
    acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    term = np.empty_like(acc)
    for aj, bj in zip(a, b, strict=True):
        np.multiply(aj, bj, out=term)
        acc += term
    return acc
