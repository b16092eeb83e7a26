"""Bloom-filter membership pre-filter (broadcast bitset).

``decontaminate_eval`` broadcasts the RAW eval shingle union — right
while the blocklist fits an executor. When the filter side grows to
billions of n-grams / URLs / content hashes (web-scale blocklists),
broadcast a compact BITSET instead: m bits probed by k salted hashes,
map-side, zero shuffle. Bloom guarantees NO false negatives, so an
exact verify join against the real set over ONLY the bloom-positive
survivors restores exactness — shuffle volume proportional to true
hits + false positives (rate ``(1 − e^{−k·n/m})^k``), never the
corpus. The pre-filter is a pure plan optimization: composed with the
verify join the result is bit-identical to the exact operator, which
is why ``bloom_decontaminate`` shares ``decontaminate_eval``'s oracle
verbatim.

Scale shape of the BUILD: set-bit positions are OR-folded into their
32-bit words DISTRIBUTED (``bit_or`` partial-aggregates map-side), so
the shuffle and the driver collect carry ≤ m/32 word rows — bounded by
the sketch size regardless of key count; the word list inlines into
the probe expression via ``sql_json_literal`` (2 analysis-time nodes,
ConstantFolding → one Literal). 32-bit words keep every inlined value
and every probe intermediate inside non-negative BIGINT arithmetic.

Standard construction (Bloom, CACM 1970); no reference counterpart
(the reference has no blocklist analytics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from mevi_spark.functions.vector import sql_json_literal

_POW2 = [1 << b for b in range(32)]


def bloom_positions(
    key: Column, m: int, n_hashes: int, salt: str = "bloom"
) -> Column:
    """``array<long>`` of the k bit positions for ``key`` — the SAME
    expression on the build and probe sides (one definition, so the
    no-false-negative guarantee cannot drift).

    Positions derive from TWO ``xxhash64`` hashes via
    Kirsch-Mitzenmacher double hashing, ``pos_i = (h1 + i·h2) mod m``
    (Kirsch & Mitzenmacher, ESA 2006: asymptotically the same FP rate
    as k independent hashes). The hash is Spark's built-in
    ``xxhash64`` — JVM-native long arithmetic inside whole-stage
    codegen, no md5 hex-string round trip: the probe runs per exploded
    corpus n-gram (the hottest map side in the repo), and the bitset
    positions NEVER appear in query output, so the repo's md5
    cross-engine-determinism convention buys nothing here — the shared
    ``decontaminate_eval`` oracle checks only the end result. ``h2``
    is forced odd (an odd value stays odd mod the power-of-two ``m``
    this module requires, so the stride hits distinct residues) and
    both hashes reduce mod m BEFORE the stride multiply, keeping every
    intermediate ≤ k·m — no overflow for any k."""
    h1, h2, mm = _strides(key, m, salt)
    return F.array(
        *[(h1 + F.lit(i) * h2) % mm for i in range(n_hashes)]
    )


def _strides(key: Column, m: int, salt: str):
    """The (h1, h2, m) triple behind ``pos_i = (h1 + i·h2) mod m`` —
    ONE definition shared by :func:`bloom_positions` (build) and
    :func:`bloom_probe`, so the two sides cannot drift apart and
    silently break the no-false-negative guarantee.

    ``m`` must be a power of two: the odd-``h2`` full-period argument
    (odd stays odd, and an odd stride mod 2^b visits distinct
    residues) only holds there — for odd ``m``, ``(2·h+1) mod m`` can
    be 0, collapsing all k probes onto ``h1``. Asserted, not assumed.

    ``xxhash64`` is signed; ``pmod`` (not ``%``) maps it into
    ``[0, m)``. ``h2`` is reduced mod m BEFORE the ·2+1, so the odd
    form never overflows and the final reduce keeps it < m."""
    if m <= 0 or m & (m - 1):
        raise ValueError(f"bloom m must be a power of two, got {m}")
    mm = F.lit(int(m))
    h1 = F.pmod(F.xxhash64(F.lit(f"{salt}a"), key), mm)
    h2 = (F.pmod(F.xxhash64(F.lit(f"{salt}b"), key), mm) * F.lit(2) + F.lit(1)) % mm
    return h1, h2, mm


def bloom_position_frame(
    df: DataFrame, col: str, m: int, n_hashes: int, salt: str = "bloom"
) -> DataFrame:
    """The distinct set-bit positions of a key frame as ``(p long)`` —
    ≤ m rows by construction (map-side partial distinct caps what
    shuffles). Positions are a MERGEABLE SET: the bitset is an OR-fold,
    and OR-folding bitsets ≡ distinct over the position union, which is
    what lets the maintenance store (``streaming/incremental.py::
    bloom_store``) equal a from-scratch build exactly —
    position-SET equality, not an approximation."""
    return (
        df.select(
            F.explode(
                bloom_positions(F.col(col), m, n_hashes, salt)
            ).alias("p")
        )
        .distinct()
    )


def words_from_positions(rows, m: int) -> list[int]:
    """Fold collected position rows into the ``ceil(m/32)`` 32-bit
    words the probe expression inlines."""
    words = [0] * ((int(m) + 31) // 32)
    for r in rows:
        p = int(r["p"])
        words[p >> 5] |= 1 << (p & 31)
    return words


def bloom_size_bits(
    n_keys: int,
    bits_per_key: int = 12,
    floor: int = 1 << 18,
    cap: int = 1 << 23,
) -> int:
    """Scale-adaptive ``m``: the next power of two ≥
    ``bits_per_key · n_keys``, clamped to ``[floor, cap]``.

    A FIXED m saturates as the blocklist grows — at ``k·n/m ≈ 43``
    (the sf1 fixture against the old constant 2^18) every bit is 1 and
    the probe passes 100% of keys while still costing its per-row
    hashes: pure overhead, measured. 12 bits/key ≈ 1.1% FP at k=4
    (``(1 − e^{−k/12·k})^k``); the cap bounds the *inlined literal*
    (2^23 bits = 256k words ≈ 2.6 MB of JSON) — past it this
    driver-inlined representation is the wrong tool and the bitset
    should live in the maintained position store
    (``streaming/incremental.py::bloom_store``) or a broadcast
    artifact, not a plan literal. Above the cap the filter degrades
    gracefully (higher FP, never false negatives), and the exact
    verify join keeps the composed result bit-identical regardless —
    which is also why re-sizing m never changes any query's output."""
    want = max(int(floor), min(int(cap), int(bits_per_key) * max(1, int(n_keys))))
    m = 1 << (int(want) - 1).bit_length()
    return min(int(cap), max(int(floor), m))


def bloom_build(
    df: DataFrame, col: str, m: int, n_hashes: int, salt: str = "bloom"
) -> list[int]:
    """Build the bitset as ``ceil(m/32)`` 32-bit words. One map-only
    pass over the key frame; the shuffle and the driver collect carry
    ≤ ``m/32`` word rows — the positions are OR-folded into their
    32-bit word DISTRIBUTED (``bit_or`` partial-aggregates map-side),
    so neither scales with the key count and both are 32× smaller
    than the former distinct-position collect. Output is identical to
    folding distinct positions driver-side (OR is idempotent and
    commutative — the same argument that makes the incremental
    position store exact)."""
    pos = df.select(
        F.explode(
            bloom_positions(F.col(col), m, n_hashes, salt)
        ).alias("p")
    )
    rows = (
        pos.groupBy(F.shiftright("p", 5).alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(cast(1 as bigint),"
                " cast(pmod(p, 32) as int)))"
            ).alias("bits")
        )
        .collect()
    )
    words = [0] * ((int(m) + 31) // 32)
    for r in rows:
        words[int(r["w"])] = int(r["bits"])
    return words


def bloom_probe(
    key: Column,
    words: list[int],
    m: int,
    n_hashes: int,
    salt: str = "bloom",
) -> Column:
    """Boolean membership probe against an inlined bitset:
    ``forall`` over the k-position array, each position's bit read as
    ``word % 2^(b+1) >= 2^b`` — pure LONG arithmetic (``/`` would be
    double division; an inexactly-rounded quotient near an integer
    could flip a bit test), no UDF. PySpark's ``shiftright`` only
    takes a literal shift, so the variable bit extract goes through a
    32-entry power-of-two lookup.

    Structured as ONE higher-order ``forall(transform(sequence(...)))``
    rather than an unrolled k-term conjunction: the unrolled form
    repeated the m/32-word array literal 2·k times and the xxhash64
    subtrees k times, which pushed the filter out of efficient
    evaluation entirely — measured 13.3 s over the 2.84M-row sf1
    blocklist vs 1.5 s for this form (bit-for-bit identical decisions;
    the position arithmetic is verbatim :func:`bloom_positions`, so
    build and probe still share one definition of the positions)."""
    w = F.expr(sql_json_literal(words, "array<bigint>"))
    pw = F.expr(sql_json_literal(_POW2, "array<bigint>"))
    h1, h2, mm = _strides(key, m, salt)
    positions = F.transform(
        F.sequence(F.lit(0), F.lit(int(n_hashes) - 1)),
        lambda i: (h1 + i.cast("long") * h2) % mm,
    )

    def _bit_set(p: Column) -> Column:
        word = F.element_at(w, (F.shiftright(p, 5) + 1).cast("int"))
        bit = F.element_at(pw, (p % 32 + 1).cast("int"))
        return (word % (bit * F.lit(2))) >= bit

    return F.forall(positions, _bit_set)
