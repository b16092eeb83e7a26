"""Deduplication operators for the large-scale training-data pipeline:
exact (hash groupBy), MinHash+LSH near-dup, SimHash, n-gram Jaccard,
embedding-cosine near-dup, and connected-components canonicalization.

Design for 100 TB (the reference has no dedup layer; these follow the
standard web-scale recipes):

* **never all-pairs** — every near-dup path generates candidates through
  an equi-join key (LSH band, SimHash chunk, shared shingle, sign
  bucket) and only verifies the candidates;
* all hashing is the deterministic ``hash60`` (md5-derived) so results
  are reproducible run-to-run and checkable against a DuckDB oracle;
* candidate verification (Jaccard / Hamming / cosine) happens on the
  joined pair rows — a shuffle whose size is the candidate count, not
  n². SemDeDup is the exception: its candidates are a whole cluster,
  verified by one grouped NumPy Gram kernel (the rows shuffle once,
  no pair rows exist).

Connected components uses min-label propagation with pointer jumping
(driver loop, converges in O(log graph-diameter) rounds — the jump
contracts label chains so even a degenerate million-long dup chain
needs ~20 rounds, not 10⁶), each round two shuffles; exhaustion
without convergence is a loud error, never a silently-split cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from mevi_spark.functions.text import norm_text
from mevi_spark.functions.vector import dot_fold, lit_vec
from mevi_spark.functions.text_analysis import simhash_bits_long


# ---------------------------------------------------------------------------
# exact dedup


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by md5 of the *normalized* text.

    Returns one row per distinct content:
    ``(canonical_id, n_dups, member_ids)`` where ``canonical_id`` is the
    minimum member id. One shuffle (the groupBy); the md5 is computed
    map-side in codegen.
    """
    keyed = df.select(
        F.col(id_col).alias("_id"), F.md5(norm_text(text_col)).alias("_k")
    )
    return (
        keyed.groupBy("_k")
        .agg(
            F.min("_id").alias("canonical_id"),
            F.count("_id").alias("n_dups"),
            F.sort_array(F.collect_list("_id")).alias("member_ids"),
        )
        .drop("_k")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding


#: slot value for empty shingle sets — larger than any real slot hash
#: (slot values reach ``num_hashes·2^56``, so ``2^62`` covers
#: ``num_hashes ≤ 64``; beyond that the sum also nears long overflow),
#: so empty docs never collide with content
MINHASH_SENTINEL = 1 << 62


def banded_keys(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 4,
    sig_len: int | None = None,
) -> DataFrame:
    """``(_id, band, key)``: each signature split into ``bands`` equal
    bands, key = the band's slot values verbatim (csv). The equi-join
    key both the batch self-join (:func:`lsh_candidate_pairs`) and the
    incremental batch-vs-index probe (``streaming/incremental.py``)
    share.

    Built as ONE selectExpr of SQL text — the Column-API form cost a
    py4j round trip per banding sub-expression (the dominant
    plan-BUILD cost of the dedup family, same finding as the r7 beam
    fix); the SQL functions are the identical expressions."""
    from mevi_spark.functions.vector import sql_ident

    n = sig_len if sig_len is not None else sigs.select(F.size(sig_col)).first()[0]
    return sigs.selectExpr(
        f"{sql_ident(id_col)} AS _id",
        f"explode({band_structs_sql(sig_col, bands, n)}) AS bk",
    ).select("_id", "bk.band", "bk.key")


def band_structs_sql(sig_col: str, bands: int, sig_len: int) -> str:
    """SQL text of one signature's bands as
    ``array(named_struct('band', b, 'key', csv), ...)`` — the one
    definition of a band key, exploded by :func:`banded_keys` and
    hashed in place by the incremental maintainer's bucket set."""
    from mevi_spark.functions.vector import sql_ident

    if sig_len % bands:
        raise ValueError(
            f"signature length {sig_len} not divisible by bands={bands}: "
            f"the trailing {sig_len % bands} slots would silently join no "
            f"band (ann.lsh_topk_join raises on the same condition)"
        )
    rpb = sig_len // bands
    sc = sql_ident(sig_col)
    return "array(" + ", ".join(
        f"named_struct('band', {b}, 'key',"
        f" concat_ws(',', transform(slice({sc}, {b * rpb + 1}, {rpb}),"
        f" x -> CAST(x AS STRING))))"
        for b in range(bands)
    ) + ")"


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 4,
    sig_len: int | None = None,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` equal bands, join
    docs sharing any band verbatim → distinct candidate ``(id_a, id_b)``
    pairs with ``id_a < id_b``.

    The join key is ``(band_index, band_values_csv)`` — an equi-join, so
    Spark hash-partitions by band content and never builds n² pairs.
    """
    banded = banded_keys(sigs, id_col, sig_col, bands, sig_len)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingled: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
) -> DataFrame:
    """Verify candidate pairs by exact Jaccard over the shingle sets:
    keeps pairs with ``jaccard >= threshold``; adds the score. Two
    broadcast-or-shuffle hash joins sized by the candidate count.

    The union size is the inclusion-exclusion arithmetic
    ``|A| + |B| − |A∩B|`` over per-doc sizes computed ONCE map-side —
    not ``size(array_union(...))`` per pair: the shingle arrays are
    distinct by construction (``shingle_frame``'s array_distinct), so
    the identity is exact, and it removes the second per-pair
    hash-set materialization (measured at sf1: the verify stage
    dropped ~25%, output bit-identical)."""
    sa = shingled.select(
        F.col(id_col).alias("id_a"),
        F.col(shingle_col).alias("_sa"),
        F.size(shingle_col).alias("_na"),
    )
    sb = shingled.select(
        F.col(id_col).alias("id_b"),
        F.col(shingle_col).alias("_sb"),
        F.size(shingle_col).alias("_nb"),
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.col("_na") + F.col("_nb") - inter
    # Size-ratio bound BEFORE the per-pair intersect (guide §3.2 "reduce
    # the join input"): J(A,B) = |A∩B|/|A∪B| ≤ min/max, so
    # min < τ·max ⟹ J < τ and the pair is one the jaccard filter below
    # would reject anyway — dropping it early is output-invariant. The
    # size test is two already-computed map-side longs; rows failing it
    # never evaluate the O(|A|+|B|) hash-set intersect (CombineFilters
    # keeps this predicate FIRST in the conjunction, and codegen
    # short-circuits left-to-right). Boundary exactness: sizes are
    # integers (< 2^51), so fl(τ·max) ≤ min whenever τ·max ≤ min — a
    # J == τ pair can never be rounded out (pinned in
    # tests/test_dedup.py::test_jaccard_verify_size_ratio_cut…).
    # Measured sf1 (dedup_minhash_pairs, interleaved A/B, warm
    # medians): 8.37 s → 7.35 s.
    ratio_ok = (
        F.least("_na", "_nb").cast("double")
        >= F.lit(threshold) * F.greatest("_na", "_nb").cast("double")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(ratio_ok)
        .withColumn(
            "jaccard",
            F.when(union == 0, F.lit(0.0)).otherwise(
                inter.cast("double") / union
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """``(doc_id, shingles)`` staged through *attribute* projections.

    Building the shingle set as one nested column expression (the
    composed :func:`~mevi_spark.functions.text.word_shingles`) lets
    Catalyst's CollapseProject inline the normalize+split chain into
    every downstream lambda — the split then re-executes PER ARRAY
    ELEMENT (and per MinHash seed), which turned the sf0.1 bench run of
    dedup_minhash into 783 s.
    Staging token/shingle arrays as real columns blocks the collapse
    (non-cheap expression referenced >1×), so the regex+split runs once
    per row and every lambda reads an attribute.
    """
    from mevi_spark.functions.text import norm_tokens

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        norm_tokens(text_col).alias("_toks"),
    )
    t = F.col("_toks")
    sh = F.when(
        F.size(t) < shingle_n, F.array().cast("array<string>")
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (shingle_n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, shingle_n)),
            )
        )
    )
    return toks.select("doc_id", sh.alias("shingles"))


def minhash_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """``(doc_id, shingles, sig)``: the staged signature frame —
    shingles built once per row as a real column (see
    :func:`shingle_frame`), one md5 per shingle feeding all
    ``num_hashes`` slots via double hashing. The unit both the batch
    pipeline (:func:`dedup_minhash`) and the incremental index
    maintainer (``streaming/incremental.py::incremental_neardup``)
    compute per document exactly once. The frame keeps ``df``'s
    partitioning; :func:`dedup_minhash` spreads a narrow scan first."""
    shingled = shingle_frame(df, text_col, id_col, shingle_n)
    # Kirsch-Mitzenmacher double hashing: h1 = first 14 hex chars of the
    # shingle's md5 (56 bits), h2 = next 14 forced odd, slot i = min of
    # h1 + i·h2 (max ≈ num_hashes·2^56, below the sentinel for
    # num_hashes ≤ 64). SQL text, ONE py4j call per stage instead of one
    # per slot×sub-expression (the Column-API form cost ~0.6 s of round
    # trips per build — profiled r8, same class as the r7 beam fix)
    pair_sql = (
        "transform(shingles, s -> named_struct("
        "'h1', CAST(conv(substring(md5(s), 1, 14), 16, 10) AS BIGINT),"
        " 'h2', CAST(conv(substring(md5(s), 15, 14), 16, 10) AS BIGINT)"
        " | CAST(1 AS BIGINT)))"
    )
    slots_sql = ", ".join(
        f"coalesce(array_min(transform(_hs,"
        f" h -> h.h1 + CAST({i} AS BIGINT) * h.h2)),"
        f" CAST({MINHASH_SENTINEL} AS BIGINT))"
        for i in range(num_hashes)
    )
    return shingled.selectExpr(
        "doc_id", "shingles", f"{pair_sql} AS _hs"
    ).selectExpr("doc_id", "shingles", f"array({slots_sql}) AS sig")


def dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs: MinHash signatures → LSH banding →
    Jaccard-verified ``(id_a, id_b, jaccard)``. The standard web-scale
    dedup (GPT-3/C4 style) expressed as three joins, no all-pairs.

    Each stage projects from the previous stage's *columns* (see
    :func:`shingle_frame`): shingles are built once per row, one md5
    per shingle feeds all ``num_hashes`` slots via double hashing, the
    band keys slice the signature attribute. The signature frame is
    persisted (memory, spill-to-disk) because three downstream branches
    read it (both sides of the band self-join + both sides of the
    Jaccard verify) — the same materialize-signatures step a 100 TB run
    would stage through parquet. The persisted block is parked in the
    session's deferred-unpersist registry
    (:mod:`mevi_spark.operators.cache`) rather than eagerly
    checkpoint-and-released: the caller's first action materializes
    signatures and joins in ONE pass (the former eager
    ``localCheckpoint`` paid a full extra materialization before the
    caller's own action), and ``clear_session_caches`` still frees the
    blocks deterministically in long-lived sessions."""
    from mevi_spark.operators.cache import defer_unpersist
    from mevi_spark.sources.io import spread_small_scan

    # the signature stage is per-row md5 over every shingle — the one
    # place a single-row-group input serializes the whole corpus onto
    # one core (measured 4× at sf0.1); identity when the scan already
    # plans wide
    df = spread_small_scan(df.sparkSession, df)
    base = minhash_frame(df, text_col, id_col, num_hashes, shingle_n).persist()
    # empty-shingle docs (< shingle_n tokens) all share the all-sentinel
    # signature: banding them would make ONE band key quadratic in
    # their count while the verify rejects every such pair anyway
    # (union=0 -> jaccard 0.0) — excluding them up front changes no
    # output and removes the hot key (a web corpus's stub/404 docs)
    nonempty = base.filter(F.size("shingles") > 0)
    cands = lsh_candidate_pairs(
        nonempty.select("doc_id", "sig"), "doc_id", "sig", bands,
        sig_len=num_hashes,
    )
    out = jaccard_verify(cands, base.select("doc_id", "shingles"), threshold)
    defer_unpersist(base)
    return out


# ---------------------------------------------------------------------------
# SimHash


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bits: int = 60,
    chunks: int | None = None,
    max_chunk_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: docs whose 60-bit simhashes differ in
    ≤ ``max_hamming`` bits.

    Candidates via the pigeonhole chunk trick: split the hash into
    ``chunks > max_hamming`` bit-chunks (default ``max_hamming + 1``);
    any pair within the Hamming budget must agree on ≥1 chunk, so an
    equi-join per chunk finds all of them — complete, never all-pairs.
    Verification is ``bit_count(xor)`` on the joined rows.

    ``max_chunk_freq`` is the skew guard (the df-cut of
    :func:`ngram_jaccard_pairs` applied to chunk keys): a (chunk, key)
    group of m docs contributes m² candidate rows to the self-join, so
    one dominant chunk value — a boilerplate-heavy corpus where a
    15-bit slice collapses — turns the band quadratic. Groups larger
    than the cut are dropped *before* the join, bounding candidates by
    ``chunks · n · max_chunk_freq``. Recall impact is explicit and
    small: a qualifying pair is lost only if EVERY chunk the two hashes
    agree on is over-frequent; with default settings a surviving
    less-common chunk still recovers the pair. ``None`` disables the
    guard (exact pigeonhole completeness).
    """
    if chunks is None:
        chunks = max_hamming + 1
    assert max_hamming < chunks, "pigeonhole needs max_hamming < chunks"
    # uneven split is fine: chunk boundaries just need to cover n_bits
    bounds = [round(i * n_bits / chunks) for i in range(chunks + 1)]
    hashed = df.select(
        F.col(id_col).alias("_id"),
        simhash_bits_long(text_col, n_bits).alias("_sh"),
    )
    chunked = hashed.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("_sh", bounds[c])
                        .bitwiseAND((1 << (bounds[c + 1] - bounds[c])) - 1)
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("_id", "_sh", "ck.chunk", "ck.key")
    if max_chunk_freq is not None:
        ok_keys = (
            chunked.groupBy("chunk", "key")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_chunk_freq)
            .select("chunk", "key")
        )
        chunked = chunked.join(ok_keys, ["chunk", "key"], "left_semi")
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._sh").alias("_sha"),
            F.col("b._sh").alias("_shb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted-index candidates, no LSH approximation)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via the inverted-shingle-index join:
    explode shingles, self-equi-join on the shingle, count shared
    occurrences per pair, then ``jaccard = shared / (|a|+|b|-shared)``.

    Finds *every* pair above threshold (no LSH misses); cost is the
    inverted-index self-join, which is quadratic in the posting-list
    length of the most frequent shingle — one shingle present in ``d``
    docs contributes ``d·(d−1)/2`` candidate pairs. ``max_doc_freq`` is
    the web-scale df-cut: shingles appearing in more than that many docs
    are dropped from the index *before* the self-join (one extra
    groupBy + semi-join), bounding every posting list. With the cut,
    ``jaccard`` is computed over the **filtered** shingle sets (both
    numerator and the ``|a|``/``|b|`` sizes), so the score stays a true
    Jaccard of the surviving shingles.
    """
    from mevi_spark.operators.cache import defer_unpersist

    # persisted before the explode: a Generate over an expensive array
    # expression re-evaluates the child per OUTPUT ELEMENT (measured
    # 64x at sf1), and `sizes` is a second consumer — the same
    # persisted-block pattern as dedup_minhash, released at teardown
    base = shingle_frame(df, text_col, id_col, shingle_n).select(
        F.col("doc_id").alias("_id"), F.col("shingles").alias("_sh")
    ).persist()
    defer_unpersist(base)
    inv = base.select("_id", F.explode("_sh").alias("_s"))
    if max_doc_freq is not None:
        keep = (
            inv.groupBy("_s")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("_s")
        )
        inv = inv.join(keep, "_s")
        sizes = inv.groupBy("_id").agg(F.count("*").alias("_n"))
    else:
        sizes = base.select("_id", F.size("_sh").alias("_n"))
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a._s") == F.col("b._s"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .agg(F.count("*").alias("_shared"))
    )
    na = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    jac = F.col("_shared").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_shared")
    )
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (deterministic sign-LSH buckets)


def _sign_key(vec: Column, planes: list[list[int]]) -> Column:
    """Bucket key: sign bits of projections onto deterministic ±1
    hyperplanes (one bit per plane)."""
    key = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        proj = F.lit(0.0)
        # static fold: plane entries are ±1, so projection = signed sum
        proj = F.aggregate(
            F.zip_with(
                vec,
                lit_vec(plane),
                lambda x, w: x * w,
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        key = key + F.when(
            proj > 0, F.lit(1 << p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return key


def deterministic_planes(dim: int, n_planes: int) -> list[list[int]]:
    """±1 hyperplanes derived from md5 — reproducible across engines and
    runs (no RNG state)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane|{p}|{d}".encode()).hexdigest()
            row.append(1 if int(h[:2], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    bands: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Near-dup vector pairs: sign-LSH bucket join → cosine-verified
    ``(id_a, id_b, cosine)``.

    Candidates = pairs agreeing on at least one of ``bands`` bands of
    ``n_planes/bands`` sign bits (random-hyperplane LSH; collision
    probability ``(1 - θ/π)^bits`` per band). Verification is an exact
    float64 cosine on the candidate rows only.
    """
    if n_planes % bands:
        raise ValueError(
            f"n_planes {n_planes} not divisible by bands={bands}: the "
            f"trailing bits would silently join no band"
        )
    if dim is None:
        probe = df.select(vec_col).first()
        if probe is None or probe[0] is None:
            raise ValueError(
                "embedding_near_dup: empty input (or NULL first vector)"
                " and dim not given — pass dim explicitly"
            )
        dim = len(probe[0])
    planes = deterministic_planes(dim, n_planes)
    per_band = n_planes // bands
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    hashed = df.select(
        F.col(id_col).alias("_id"),
        v.alias("_v"),
        norm.alias("_norm"),
        *[
            _sign_key(v, planes[b * per_band : (b + 1) * per_band]).alias(
                f"_b{b}"
            )
            for b in range(bands)
        ],
    )
    banded = hashed.select(
        "_id",
        "_v",
        "_norm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"_b{b}").alias("key")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "_v", "_norm", "bk.band", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a._v"), F.col("b._v"), lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._v").alias("_va"),
            F.col("b._v").alias("_vb"),
            F.col("a._norm").alias("_na"),
            F.col("b._norm").alias("_nb"),
        )
        .distinct()
        .withColumn(
            "cosine",
            F.aggregate(
                F.zip_with("_va", "_vb", lambda x, y: x * y),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
            / (F.col("_na") * F.col("_nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# connected components (canonicalize near-dup clusters)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Min-label propagation + pointer jumping over the dup-pair graph
    → ``(id, component)`` where component = min id reachable.

    Driver loop of ≤ ``max_iter`` rounds, each round two steps:
    neighbor-min propagation (one groupBy shuffle over the edge list)
    then ONE pointer jump ``component ← min(component,
    component[component])`` (a labels⋈labels self-join). The jump is
    what makes the loop diameter-INDEPENDENT: propagation alone moves
    a label one hop per round — a 10⁶-long near-dup chain (pathological
    but real at corpus scale: overlapping boilerplate shingles chain
    page after page) would need 10⁶ rounds = 10⁶ shuffles; with the
    label-of-label contraction the effective distance at least halves
    per round, so convergence is O(log diameter) — ~20 rounds covers
    any graph that fits on disk. Invariant kept by both steps: a
    node's label is always the id of some node in its own component
    and never below the component min, so the fixpoint (no label
    changed — labels constant across every symmetrized edge) is
    exactly component = min reachable id. Exhausting ``max_iter``
    without convergence RAISES rather than returning silently-split
    components; ``localCheckpoint`` truncates the lineage so the plan
    doesn't grow exponentially.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        # candidate label per node: min over self and neighbors' labels
        neigh = (
            edges.join(
                labels.withColumnRenamed("id", "dst").withColumnRenamed(
                    "component", "_nc"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("_nc").alias("_minn"))
        )
        prop = labels.join(neigh, "id", "left").select(
            "id",
            F.least("component", F.coalesce("_minn", "component")).alias(
                "_pc"
            ),
            F.col("component").alias("_old"),
        )
        # pointer jump: label values ARE node ids (the invariant), so
        # label[label[u]] is one equi-join of the propagated labels
        # against themselves; left join — a node whose label is itself
        # matches trivially, coalesce only guards null-safety
        parent = prop.select(
            F.col("id").alias("_jid"), F.col("_pc").alias("_jc")
        )
        updated = (
            prop.join(parent, prop["_pc"] == parent["_jid"], "left")
            .select(
                "id",
                F.least("_pc", F.coalesce("_jc", "_pc")).alias("component"),
                (
                    F.least("_pc", F.coalesce("_jc", "_pc"))
                    < F.col("_old")
                ).alias("_changed"),
            )
        ).localCheckpoint(eager=True)
        n_changed = updated.filter("_changed").count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds ({n_changed} labels still changing) — the graph "
            f"diameter exceeds max_iter; raise it"
        )
    return labels


# ---------------------------------------------------------------------------
# line-level boilerplate removal (CCNet / RefinedWeb recipe)


def strip_frequent_lines(
    lines: DataFrame,
    df_threshold: int,
    doc_col: str = "doc_id",
    ord_col: str = "line_no",
    line_col: str = "line",
) -> DataFrame:
    """Corpus-frequency line dedup: drop every line that occurs in more
    than ``df_threshold`` DISTINCT documents (headers, footers, nav
    bars, cookie banners — the CCNet §4.1 / RefinedWeb recipe), then
    reassemble each document from its surviving lines in order.

    Returns ``(doc_col, clean_text, n_kept, n_dropped)``.

    100 TB shape: the doc-frequency count runs on ``hash60(line)`` —
    two line-hash-keyed shuffles of 8-byte keys (per-doc dedup, then
    the count), never of line text; the drop set (lines ABOVE the
    threshold — by construction a handful of very frequent strings) is
    BROADCAST back, so the marking pass and the reassembly's single
    doc-keyed shuffle never move the boilerplate decision. Same
    discipline as the shingle df-cut in :func:`ngram_jaccard_pairs`,
    and the same collision tradeoff: a 60-bit collision between a
    frequent line and an innocent one drops the innocent line too
    (expected collisions ≈ n²/2⁶¹ — ~1 spurious drop per 1.5 billion
    DISTINCT lines; acceptable for boilerplate stripping, where a rare
    lost line is noise. Need exactness? Re-key on two independent
    hash60 seeds — 120 bits — at double the key bytes per shuffle).
    """
    from mevi_spark.functions.text_analysis import hash60

    h = hash60(F.col(line_col), "bl")
    dfc = (
        lines.select(h.alias("_lh"), doc_col)
        .distinct()
        .groupBy("_lh")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    boiler = dfc.filter(F.col("_df") > df_threshold).select("_lh")
    marked = lines.withColumn("_lh", h).join(
        F.broadcast(boiler.withColumn("_b", F.lit(1))), "_lh", "left"
    )
    keep = F.col("_b").isNull()
    return marked.groupBy(doc_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            keep, F.struct(F.col(ord_col), F.col(line_col))
                        )
                    )
                ),
                lambda s: s[line_col],
            ),
        ).alias("clean_text"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.sum(F.col("_b").isNotNull().cast("long")).alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-cosine semantic dedup


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    entries: list | None = None,
    giant_cluster_cap: int = 1024,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): k-means-cluster
    the embeddings, compare cosines only WITHIN a cluster, and inside
    each duplicate group keep the member with the LOWEST cosine to its
    cluster centroid (the paper's keep-policy: far-from-centroid
    examples carry the most information).

    Composition of existing pieces: nearest-centroid assignment is
    :func:`mevi_spark.operators.rq.assign_nearest` (map-only literal-
    codebook argmin, zero shuffle); the within-cluster comparison is
    the per-cluster Gram kernel of :func:`semdedup_tournament` — never
    all-pairs. Precisely: a row x is PRUNED iff some same-cluster y has
    ``cos(x, y) >= threshold`` and higher keep-priority, where priority
    is (centroid-cosine ASC, id ASC) — so the max-priority member of
    every duplicate group always survives, deterministically. Ids must
    be unique.

    Returns ``(id_col, code, cent_cosine, kept)`` — one row per input
    vector, ``kept`` ∈ {0, 1}, ``cent_cosine`` rounded to 6dp for
    exposure (comparisons use the unrounded bit-stable fold).

    100 TB shape: the assignment and centroid-cosine are map-only
    (broadcast codebook); the only corpus shuffle is the kernel's
    group-by on the cluster code. Cost is Σ|cluster|²·dim in the
    kernel — bounded by choosing k proportional to corpus size so
    clusters stay ~10⁴-10⁵ rows (the paper runs k=50k over 1.3B
    examples for exactly this reason) AND, because k is fixed before
    the data is seen and one degenerate cluster can swallow the
    corpus, by ``giant_cluster_cap``: any cluster above the cap is
    compared only within its sign-LSH buckets (see
    :func:`semdedup_tournament`).
    """
    from mevi_spark.functions.vector import cosine
    from mevi_spark.operators.rq import assign_nearest, centroid_entries

    if entries is None:
        entries = centroid_entries(centroids)
    assigned = assign_nearest(
        df, centroids, id_col=id_col, vec_col=vec_col, entries=entries
    )
    scored = assigned.join(
        F.broadcast(centroids.select("code", "centroid")), "code"
    ).select(
        F.col(id_col).alias("_id"),
        "code",
        F.col(vec_col).cast("array<double>").alias("_v"),
        cosine(vec_col, "centroid").alias("_cc"),
    )
    return semdedup_tournament(
        scored,
        threshold,
        giant_cluster_cap=giant_cluster_cap,
        dim=len(entries[0][1]),
    ).select(
        F.col("_id").alias(id_col),
        "code",
        F.round("_cc", 6).alias("cent_cosine"),
        "kept",
    )


def semdedup_tournament(
    scored: DataFrame,
    threshold: float,
    giant_cluster_cap: int = 1024,
    lsh_planes: int = 16,
    lsh_bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """The SemDeDup within-cluster keep/prune rule on a scored frame
    ``(_id, code, _v, _cc)`` (unique ``_id``) → the same columns plus
    ``kept`` ∈ {0, 1}.

    ONE definition shared by the batch operator above and the
    streaming maintenance (``streaming/incremental.py::
    incremental_semdedup``): the keep-priority (centroid-cosine ASC,
    id ASC) and the threshold comparison must stay bit-identical
    between the two or the maintained state silently diverges from
    the batch answer (and from their shared DuckDB oracle).

    One ``groupBy("code").applyInPandas`` kernel: each cluster arrives
    whole in one Python task, which builds its Gram matrix with
    :func:`~mevi_spark.functions.vector.dot_fold` (rank-1 updates in
    dimension order, so every dot, ``‖v‖ = sqrt(diag)`` and cosine is
    bit-identical to :func:`~mevi_spark.functions.vector.cosine`) and
    applies ``beats & (cos >= threshold)`` as a boolean mask. The
    cosine rows are built ``_TILE`` at a time, so a cluster of n rows
    holds ``_TILE·n`` doubles, not n². One shuffle, no pair rows.

    Giant-cluster guard (the 100 TB skew path): the exact kernel is
    Σ|cluster|²·dim work, and k is chosen BEFORE the data is seen, so
    one degenerate cluster (boilerplate mass, embedding collapse) of
    10⁷ rows is 10¹⁴ pairs in a single task — a straggler that never
    finishes. Clusters whose size exceeds ``giant_cluster_cap``
    therefore compare only within the buckets of the deterministic
    sign-LSH banding :func:`embedding_near_dup` uses: candidates =
    pairs sharing at least one of ``lsh_bands`` bands of
    ``lsh_planes/lsh_bands`` sign bits (:func:`sign_band_keys`),
    verified by the SAME cosine + priority mask. Above the cap the
    result is approximate in one direction only (a true dup pair whose
    vectors disagree on every band is missed, so its loser survives)
    — at the 0.95-cosine thresholds SemDeDup runs, per-bit collision
    probability is ``1 - θ/π ≈ 0.90`` and the per-pair miss
    probability ``(1 - 0.9^4)^4 ≈ 0.04`` at the defaults; the paper's
    own cluster-then-compare step is already a sampling of the true
    pair set. Below the cap the result is exact.

    The routing happens per cluster inside the kernel, from the size
    of the group it received: no size frame, no plan-build job and no
    cluster-size snapshot baked into the plan. ``dim`` (the embedding
    width, known to both callers from their codebook) fixes the ±1
    hyperplanes; ``dim=None`` turns the guard off. Vectors must be
    finite and ``dim`` wide.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    if lsh_planes % lsh_bands:
        raise ValueError(
            f"lsh_planes {lsh_planes} not divisible by bands="
            f"{lsh_bands}: the trailing bits would silently join no band"
        )
    planes = (
        None
        if dim is None
        else np.array(deterministic_planes(int(dim), lsh_planes), np.float64)
    )
    tau, cap = float(threshold), int(giant_cluster_cap)

    def cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.stack(pdf["_v"].to_numpy())
        ids = pdf["_id"].to_numpy()
        cc = pdf["_cc"].to_numpy(np.float64)
        if planes is None or len(pdf) <= cap:
            pruned = _beaten(x, ids, cc, tau)
        else:
            pruned = np.zeros(len(pdf), dtype=bool)
            for keys in sign_band_keys(x, planes, lsh_bands).T:
                for m in _buckets(keys):
                    pruned[m] |= _beaten(x[m], ids[m], cc[m], tau)
        return pdf.assign(kept=(~pruned).astype(np.int64))

    cols = scored.select("_id", "code", "_v", "_cc")
    schema = StructType(
        cols.schema.fields + [StructField("kept", LongType(), False)]
    )
    return cols.groupBy("code").applyInPandas(cluster, schema)


# rows of the cosine matrix built at once: bounds a cluster's working
# set to _TILE·n doubles however large n gets
_TILE = 512


def _beaten(
    x: np.ndarray, ids: np.ndarray, cc: np.ndarray, tau: float
) -> np.ndarray:
    """Per row of one compare unit: does some other row beat it
    (lower ``_cc``, then lower ``_id``) at cosine ``>= tau``? The
    cosine is :func:`~mevi_spark.functions.vector.cosine`'s, bit for
    bit: ``dot / (‖a‖·‖b‖)`` over the left-fold dots, 0.0 where the
    denominator is 0."""
    nrm = np.sqrt(dot_fold(x, x))
    out = np.zeros(len(x), dtype=bool)
    for i in range(0, len(x), _TILE):
        a = slice(i, i + _TILE)
        den = nrm[a, None] * nrm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(
                den == 0.0, 0.0, dot_fold(x[a, None], x[None]) / den
            )
        beats = (cc[None, :] < cc[a, None]) | (
            (cc[None, :] == cc[a, None]) & (ids[None, :] < ids[a, None])
        )
        out[a] = (beats & (cos >= tau)).any(axis=1)
    return out


def sign_band_keys(
    x: np.ndarray, planes: np.ndarray, bands: int
) -> np.ndarray:
    """``(n, bands)`` sign-LSH keys of the rows of ``x``: bit p of band
    b is whether the projection onto ±1 plane ``b·per_band + p`` is
    positive — the keys :func:`_sign_key` computes in Spark (the same
    0.0-seeded fold of ``x·w``). The planes are
    :func:`deterministic_planes`, so batch and streaming cannot
    diverge on candidates."""
    per_band = len(planes) // bands
    bits = dot_fold(x[:, None], planes[None]) > 0.0
    return (bits.reshape(len(x), bands, per_band) << np.arange(per_band)).sum(
        axis=-1
    )


def _buckets(keys: np.ndarray) -> list[np.ndarray]:
    """Row indices sharing each key, singletons dropped (a lone row has
    nothing to compare against)."""
    order = np.argsort(keys, kind="stable")
    groups = np.split(order, np.flatnonzero(np.diff(keys[order])) + 1)
    return [g for g in groups if len(g) > 1]
