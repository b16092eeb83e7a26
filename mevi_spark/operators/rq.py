"""Residual Quantization (RQ) — train, encode, cluster-table build.

Reference surface (SURVEY.md §2.4/§2.9):

* A4  k-means per subvector level on residuals (``MEVI/pq.py:550-598``,
  faiss variant ``:175-198``), M=4 levels × K=32 codes at full config.
* A5  centroid-average init: ``codebook[k] = mean of member embeddings``,
  then subtract-assign the residual (``MEVI/pq.py:488-524``).
* U2  encode: per level, argmin distance to the level's codebook,
  subtract the centroid, recurse on the residual
  (``MEVI/pq.py:281-305``).
* A1  cluster table: group docs by code (``MEVI/pq.py:200-247``).

Spark restatement: the per-level loop runs on the driver (M is 2-4); each
iteration is a DataFrame job. Codebooks are tiny (M×K rows) and always
broadcast. Assignment = broadcast-crossJoin + argmin window; at K≤64 the
crossJoin fans each row out K ways — fine at any corpus size because it
is map-side only (no shuffle until the argmin window, which AQE handles;
for very large corpora switch ``argmin_impl='pandas'`` to keep argmin
inside the scan stage).

Two trainers:

* :func:`train_rq_kmeans` — MLlib KMeans per level (the production
  path; distributed Lloyd's, seeded).
* :func:`rq_level_centroids` + seeded assignments — the
  centroid-average-init-only variant (exactly A5), fully deterministic
  and SQL-expressible, used for cross-engine oracle parity.

Determinism: centroid means accumulate element sums in DECIMAL(28,12)
(order-independent, exact) and divide once in float64; distances are the
expanded form ``‖a‖² − 2·a·c + ‖c‖²`` built from the same left-to-right
array folds the DuckDB oracle uses, so assignments match bit-for-bit.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, functions as F

from mevi_spark.functions.vector import (
    code_flat,
    dot,
    sql_double,
    sql_double_array,
    sql_ident,
    sql_json_literal,
)
from mevi_spark.operators.topk import topk_per_group


def rq_level_centroids(
    assigned: DataFrame,
    code_col: str,
    vec_col: str,
    impl: str = "sql",
) -> DataFrame:
    """A5 centroid-average: per-code elementwise mean → ``(code, centroid)``.

    ``sql``
        Exact/order-independent via decimal accumulation of a
        posexplode. Scale note: the explode is pipelined inside the map
        stage and the (code, pos) aggregation partial-aggregates before
        the exchange, so the shuffle carries K·dim rows per partition —
        the n·dim row explosion never crosses the wire. (A 1-agg-per-
        element variant was benchmarked and is ~3× slower per row with
        no shuffle advantage.) Bit-identical to the DuckDB oracle's
        decimal sums.

    ``arrow``
        Per-partition NumPy partial sums from a ``mapInPandas`` kernel.
        Partial sums are float64, so results can differ from ``sql`` in
        the last ~2 ulps; use ``sql`` when cross-engine bit-parity
        matters.
    """
    if impl == "arrow":
        return _level_centroids_arrow(assigned, code_col, vec_col)
    if impl != "sql":
        raise ValueError(f"unknown impl: {impl!r}")
    from mevi_spark.functions.agg import scaled_long

    pos_val = assigned.select(
        F.col(code_col).alias("code"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    # scaled-long accumulation at 12 decimals: exact and order-
    # independent like the former DECIMAL(28,12) cast+sum, without the
    # per-row BigDecimal. (double)S / 1e12 is the correctly-rounded
    # true quotient while S < 2⁵³ (|val|·10¹² stays far under 2⁵¹ for
    # unit-scale embeddings), i.e. bit-identical to the oracle's
    # decimal→double conversion; past 2⁵³ (≳9·10³-row groups of
    # unit values × 10¹²? no — 9·10¹⁵ total units, huge margins) the
    # last ulp could differ — see functions/agg.py for the wide option.
    sums = pos_val.groupBy("code", "pos").agg(
        F.sum(scaled_long("val", scale=12)).alias("s"),
        F.count("*").alias("n"),
    )
    elem = sums.select(
        "code",
        "pos",
        ((F.col("s").cast("double") / F.lit(1e12)) / F.col("n")).alias("m"),
    )
    return elem.groupBy("code").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
        ).alias("centroid")
    )


def _level_centroids_arrow(
    assigned: DataFrame, code_col: str, vec_col: str
) -> DataFrame:
    """Partial-aggregate kernel behind ``rq_level_centroids(impl='arrow')``
    — the Spark analog of the reference's chunked sum/ndocs centroid
    average (``MEVI/pq.py:488-524``, chunked over memmap blocks)."""
    import numpy as np
    import pandas as pd

    def partial(batches):
        acc: dict = {}
        for pdf in batches:
            for code, grp in pdf.groupby(code_col):
                mat = np.stack(grp[vec_col].to_numpy()).astype(np.float64)
                s, n = mat.sum(axis=0), len(grp)
                if code in acc:
                    acc[code][0] += s
                    acc[code][1] += n
                else:
                    acc[code] = [s, n]
        if acc:
            yield pd.DataFrame(
                {
                    "code": list(acc),
                    "psum": [v[0] for v in acc.values()],
                    "pn": [v[1] for v in acc.values()],
                }
            )

    partials = assigned.select(code_col, vec_col).mapInPandas(
        partial, "code long, psum array<double>, pn long"
    )
    # final merge: ≤ partitions rows per code; elementwise reduce in JVM
    merged = partials.groupBy("code").agg(
        F.collect_list("psum").alias("_ps"), F.sum("pn").alias("_n")
    )
    total = F.aggregate(
        F.slice("_ps", 2, F.greatest(F.size("_ps") - 1, F.lit(0))),
        F.element_at("_ps", 1),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    return merged.select(
        "code",
        F.transform(total, lambda v: v / F.col("_n")).alias("centroid"),
    )


def entries_from_rows(rows) -> list[tuple[int, list[float], float]]:
    """``[(code, centroid, ‖c‖²)]`` sorted by code, from collected rows
    carrying ``code`` and ``centroid`` — THE canonical fold: ‖c‖² is
    accumulated left-to-right in Python float64, the same IEEE op
    sequence as the engine-side ``dot(c, c)`` fold (and DuckDB's
    ``list_dot_product``), so precomputing it driver-side changes no
    bit of any distance. Every consumer that turns codebook rows into
    literal entries (the seeded chain, the staged-codebook rebuild)
    must go through this one function so the fold can never diverge."""
    entries = []
    for r in rows:
        cent = [float(v) for v in r["centroid"]]
        cc = 0.0
        for v in cent:
            cc += v * v
        entries.append((int(r["code"]), cent, cc))
    entries.sort()
    return entries


# collected entries per codebook frame object whose rows cannot change;
# the values hold no reference back to the frame, so a dropped frame
# drops its entry
_ENTRIES_BY_FRAME: "weakref.WeakKeyDictionary[DataFrame, list]" = (
    weakref.WeakKeyDictionary()
)
# RDD classes whose partitions are data held by the driver or a
# checkpoint, never re-read from an outside source
_FIXED_RDDS = {"ParallelCollectionRDD", "LocalCheckpointRDD", "ReliableCheckpointRDD"}


def _fixed_rows(df: DataFrame) -> bool:
    """True when every collect of ``df`` returns the same rows: a
    deterministic plan over data held in the plan itself (local rows,
    ``range``) or in an RDD that reads no outside source. A plan over
    files, tables or an RDD with a file input is not fixed — its rows
    change when the files do. Reads plan and RDD metadata; starts no
    job."""
    plan = df._jdf.queryExecution().analyzed()
    if not plan.deterministic():
        return False
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        name = leaf.getClass().getSimpleName()
        if name == "LogicalRDD":
            stack = [leaf.rdd()]
            while stack:
                rdd = stack.pop()
                deps = rdd.dependencies()
                if deps.size() == 0:
                    if rdd.getClass().getSimpleName() not in _FIXED_RDDS:
                        return False
                stack.extend(deps.apply(j).rdd() for j in range(deps.size()))
        elif name not in ("LocalRelation", "Range", "OneRowRelation"):
            return False
    return True


def centroid_entries(centroids: DataFrame) -> list[tuple[int, list[float], float]]:
    """Collect a K-row codebook to ``[(code, centroid, ‖c‖²)]`` sorted by
    code — the literal artifact behind the ``expr`` assignment path
    (fold semantics in :func:`entries_from_rows`).

    A frame whose rows cannot change (:func:`_fixed_rows`) is collected
    once per frame object: a maintainer handed the same codebook frame
    on every call (``incremental_semdedup`` per drain) starts no job
    after the first. Every other frame is collected on every call."""
    entries = _ENTRIES_BY_FRAME.get(centroids)
    if entries is None:
        entries = entries_from_rows(centroids.select("code", "centroid").collect())
        if _fixed_rows(centroids):
            _ENTRIES_BY_FRAME[centroids] = entries
    return entries


def assign_nearest(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    out_code: str = "code",
    impl: str = "expr",
    keep: tuple[str, ...] = (),
    entries: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """U2 one level: argmin_{code} ‖v − c‖², deterministic tie-break on
    code. Returns ``(id_col, vec_col, *keep, out_code)``.

    Distance uses the expanded form so every float op is a sequential
    array fold (cross-engine bit-stable); ‖v‖² is constant per row and
    dropped from the argmin.

    ``expr`` (default)
        The codebook is collected (K rows — the reference broadcasts the
        same artifact, ``MEVI/pq.py:217-247``) and inlined as a literal
        struct array; the argmin is ``array_min`` over per-centroid
        ``(distance, code)`` structs, whose lexicographic ordering IS the
        (distance asc, code asc) tie-break. The whole assignment is one
        map-only projection inside whole-stage codegen — **zero
        shuffle**, fused into the scan stage at any corpus size. Right
        whenever K·dim literals are expression-sized (K ≤ ~256 at 64-d;
        the reference's config is K ≤ 32).

    ``join``
        Broadcast-crossJoin + window argmin — no driver collect, the
        fallback when the codebook is too large to inline (shuffles the
        K-fanned row set for the window).
    """
    if impl == "join":
        c = F.broadcast(centroids.select(F.col("code").alias("_c"), "centroid"))
        scored = vectors.select(id_col, vec_col, *keep).crossJoin(c).select(
            id_col,
            vec_col,
            *keep,
            F.col("_c"),
            (dot("centroid", "centroid") - 2.0 * dot(vec_col, "centroid")).alias("_d"),
        )
        best = topk_per_group(
            scored.withColumn("_nd", -F.col("_d")), [id_col], "_nd", 1, ["_c"]
        )
        return best.select(id_col, vec_col, *keep, F.col("_c").alias(out_code))
    if impl != "expr":
        raise ValueError(f"unknown impl: {impl!r}")

    if entries is None:
        entries = centroid_entries(centroids)
    # one SQL-text parse instead of hundreds of Column-API py4j round
    # trips (~0.5 s warm per expression at K=10 × dim=64 — the dominant
    # chain-build cost); repr(float)+'D' literals are bit-exact (see
    # sql_double_array). Same plan after parsing: array_min over
    # (distance, code) structs, lexicographic = the (d asc, c asc)
    # tie-break.
    cents_sql = ",".join(
        f"named_struct('d',{sql_double(cc)},'c',{int(code)}L,"
        f"'cent',{sql_double_array(cent)})"
        for code, cent, cc in entries
    )
    v_sql = f"cast({sql_ident(vec_col)} AS array<double>)"
    best = F.expr(
        f"array_min(transform(array({cents_sql}), e -> named_struct("
        f"'d', e.d - 2.0D * aggregate(zip_with({v_sql}, e.cent,"
        f" (x, y) -> x * y), 0.0D, (acc, x) -> acc + x),"
        f"'c', e.c))).c"
    )
    return vectors.select(id_col, vec_col, *keep).withColumn(out_code, best)


def assign_topr(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    r: int,
    out_code: str = "code",
    keep: tuple[str, ...] = (),
    entries: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """Doc-side top-R multi-cluster assignment — the reference's
    ``gen_pq_doc_topk`` recall booster (``MEVI/main_models.py:
    3246-3270``; SURVEY A1 "top-R multi-cluster variant"): place each
    vector in its R nearest clusters instead of only the argmin, so the
    coarse probe finds boundary documents the single assignment loses.
    Returns ``(id_col, *keep, rank, out_code)`` — R rows per vector,
    ``rank`` 1-based by (distance asc, code asc).

    The k>1 generalization of :func:`assign_nearest`'s ``expr`` path:
    the SAME per-centroid ``(d, code)`` structs, but ``sort_array`` +
    ``slice`` instead of ``array_min`` — struct lexicographic ordering
    keeps the identical tie-break, so ``r=1`` reduces EXACTLY to
    ``assign_nearest`` (pinned in ``tests/test_rq.py``). Still one
    map-only projection — zero shuffle at any corpus size; the output
    table is R·n rows, the storage cost the reference pays for the
    recall (the cluster-partitioned layout then holds each doc in R
    partitions, and the coarse scan prunes exactly as before).
    """
    if entries is None:
        entries = centroid_entries(centroids)
    cents_sql = ",".join(
        f"named_struct('d',{sql_double(cc)},'c',{int(code)}L,"
        f"'cent',{sql_double_array(cent)})"
        for code, cent, cc in entries
    )
    v_sql = f"cast({sql_ident(vec_col)} AS array<double>)"
    topr = F.expr(
        f"slice(sort_array(transform(array({cents_sql}), e -> named_struct("
        f"'d', e.d - 2.0D * aggregate(zip_with({v_sql}, e.cent,"
        f" (x, y) -> x * y), 0.0D, (acc, x) -> acc + x),"
        f"'c', e.c))), 1, {int(r)})"
    )
    return (
        vectors.select(id_col, vec_col, *keep)
        .withColumn("_topr", topr)
        .select(id_col, *keep, F.posexplode("_topr").alias("_p0", "_e"))
        .select(
            id_col,
            *keep,
            (F.col("_p0") + 1).cast("int").alias("rank"),
            F.col("_e.c").alias(out_code),
        )
    )


def subtract_centroid(
    assigned: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    code_col: str,
    out_col: str,
    impl: str = "expr",
    entries: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """Residual step of U2: ``r = v − c[code]`` (elementwise, float64).

    ``expr`` inlines the K-row codebook as a literal map and subtracts
    via ``element_at`` — map-only, no join stage; ``join`` is the
    broadcast-join fallback for codebooks too large to inline.
    """
    if impl == "join":
        c = F.broadcast(
            centroids.select(F.col("code").alias(code_col), "centroid")
        )
        return assigned.join(c, code_col).withColumn(
            out_col,
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("centroid"),
                lambda a, b: a - b,
            ),
        ).drop("centroid")
    if impl != "expr":
        raise ValueError(f"unknown impl: {impl!r}")
    if entries is None:
        entries = centroid_entries(centroids)
    # SQL text for the same single-parse reason as assign_nearest
    map_sql = "map(" + ",".join(
        f"{int(code)}L,{sql_double_array(cent)}" for code, cent, _ in entries
    ) + ")"
    return assigned.withColumn(
        out_col,
        F.expr(
            f"zip_with(cast({sql_ident(vec_col)} AS array<double>),"
            f" element_at({map_sql}, cast({sql_ident(code_col)} AS bigint)),"
            f" (a, b) -> a - b)"
        ),
    )


def assign_subtract_fused(
    frame: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    out_code: str,
    out_resid: str,
    keep: tuple[str, ...] = (),
    entries: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """One RQ level, fused: argmin assignment AND residual subtraction
    sharing a single literal codebook.

    :func:`assign_nearest` + :func:`subtract_centroid` each inline the
    K·dim codebook literals into their own expression — two SQL parses
    and two codegen constant pools per level, which is the dominant
    chain-BUILD cost at small K (measured ~0.5 s/level of driver-side
    parse at K=10·dim=64). Here the argmin keeps the winning centroid in
    its struct, so one expression yields both the code and the residual:
    ``array_min`` orders lexicographically on ``(d, c, cent)`` — ``c``
    is unique per centroid, so the tie-break is the same (d asc, c asc)
    as :func:`assign_nearest` and ``cent`` is never compared. The
    distance and the residual arithmetic are the identical op sequences
    (same float ops, same order), so assignments and residuals are
    bit-identical to the unfused pair. The ``_best`` struct is staged as
    a real column (CollapseProject keeps non-cheap exprs referenced
    twice staged), so the argmin runs once per row.
    """
    if entries is None:
        entries = centroid_entries(centroids)
    # from_json constant: 2 analysis-time nodes instead of K·dim — the
    # downstream chain ops stop re-paying analysis over the codebook
    # subtree (see sql_json_literal); ConstantFolding collapses it to
    # one Literal before execution, so the runtime plan is unchanged
    cents_sql = sql_json_literal(
        [
            {"d": cc, "c": int(code), "cent": cent}
            for code, cent, cc in entries
        ],
        "array<struct<d:double,c:bigint,cent:array<double>>>",
    )
    v_sql = f"cast({sql_ident(vec_col)} AS array<double>)"
    best = F.expr(
        f"array_min(transform({cents_sql}, e -> named_struct("
        f"'d', e.d - 2.0D * aggregate(zip_with({v_sql}, e.cent,"
        f" (x, y) -> x * y), 0.0D, (acc, x) -> acc + x),"
        f"'c', e.c, 'cent', e.cent)))"
    )
    staged = frame.select(id_col, vec_col, *keep).withColumn("_best", best)
    return staged.select(
        id_col,
        *keep,
        F.col("_best")["c"].alias(out_code),
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("_best")["cent"],
            lambda a, b: a - b,
        ).alias(out_resid),
    )


def rq_encode_seeded(
    vectors: DataFrame,
    seed_code: str,
    id_col: str = "id",
    vec_col: str = "vector",
    levels: int = 2,
    persist_levels: bool = False,
    persisted_out: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic RQ: level-0 codebook is the centroid-average of a
    seed partition (``seed_code`` column, e.g. a class label — exactly
    the reference's cluster-mean init, ``MEVI/pq.py:488-524``); each
    later level is the centroid-average of the previous level's residual
    groups. No iterative refinement → fully SQL-expressible.

    ``persist_levels=True`` persists each level's K-row centroid frame,
    so consumers that materialize both outputs (the mapping AND the
    codebook) don't recompute the per-level aggregations — the Spark
    form of the reference staging each level's codebook as an artifact
    (``MEVI/pq.py:217-247``). Centroid frames are K rows; the residual
    frames are NOT persisted (corpus-sized).

    Returns ``(mapping, codebook)``:
    ``mapping = (id, code_0..code_{L-1})``,
    ``codebook = (level, code, centroid)``.
    """
    cur = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("resid"),
        F.col(seed_code).alias("_seed"),
    )
    codebooks = []
    code_cols: list[str] = []
    seed_col = "_seed"
    for lvl in range(levels):
        cents = rq_level_centroids(cur, seed_col, "resid")
        if persist_levels:
            cents = cents.persist()
            if persisted_out is not None:
                # hand the persisted K-row frames back so the caller's
                # teardown can unpersist them deterministically instead
                # of waiting for session GC (clear_session_caches
                # contract, plans/retrieval.py)
                persisted_out.append(cents)
        codebooks.append(cents.select(F.lit(lvl).alias("level"), "code", "centroid"))
        # one K-row collect per level (materializes the persisted
        # centroid frame); assignment and residual are then ONE fused
        # literal expression — the whole per-level encode chain stays
        # map-only, no crossJoin/window/join stages (round-5 plan fix),
        # and the codebook literals parse/compile once per level instead
        # of twice (round-7 build-cost fix)
        entries = centroid_entries(cents)
        cur = assign_subtract_fused(
            cur, cents, "id", "resid", f"code_{lvl}", "resid2",
            keep=tuple(code_cols), entries=entries,
        ).select(
            "id", F.col("resid2").alias("resid"), *code_cols, f"code_{lvl}"
        )
        code_cols.append(f"code_{lvl}")
        seed_col = f"code_{lvl}"
    codes = cur.select("id", *code_cols)
    codebook = codebooks[0]
    for cb in codebooks[1:]:
        codebook = codebook.unionByName(cb)
    return codes, codebook


def rq_encode_from_entries(
    vectors: DataFrame,
    level_entries: list[list[tuple[int, list[float], float]]],
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """The mapping half of :func:`rq_encode_seeded` when the per-level
    codebooks already exist as collected entries (a staged artifact —
    the reference loads its pickled codebooks the same way,
    ``MEVI/pq.py:217-247``): the whole encode chain is literal
    assign→subtract expressions, map-only, with NO centroid aggregation
    jobs. Given the entries the seeded chain collected, the emitted
    expressions — and therefore every code and residual — are
    bit-identical to its mapping.

    Returns ``(id, code_0..code_{L-1})``.
    """
    cur = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("resid"),
    )
    code_cols: list[str] = []
    for lvl, entries in enumerate(level_entries):
        cur = assign_subtract_fused(
            cur, None, "id", "resid", f"code_{lvl}", "resid2",
            keep=tuple(code_cols), entries=entries,
        ).select(
            "id", F.col("resid2").alias("resid"), *code_cols, f"code_{lvl}"
        )
        code_cols.append(f"code_{lvl}")
    return cur.select("id", *code_cols)


def train_rq_kmeans(
    vectors: DataFrame,
    levels: int = 4,
    k: int = 32,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "vector",
    max_iter: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """A4 production path: MLlib KMeans per level on residuals
    (``MEVI/pq.py:550-598``; driver loop over M levels as SURVEY §7.1).

    Returns ``(mapping, codebook)`` like :func:`rq_encode_seeded`, plus a
    ``code`` array and ``code_flat`` radix index on the mapping.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    cur = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("resid"),
    )
    spark = vectors.sparkSession
    codebooks = []
    codes = cur.select("id")
    for lvl in range(levels):
        feat = cur.withColumn("features", array_to_vector("resid"))
        model = KMeans(k=k, seed=seed + lvl, maxIter=max_iter).fit(feat)
        cents = spark.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
            "code int, centroid array<double>",
        )
        codebooks.append(cents.select(F.lit(lvl).alias("level"), "code", "centroid"))
        pred = model.transform(feat).select(
            "id", "resid", F.col("prediction").alias(f"code_{lvl}")
        )
        cur = subtract_centroid(
            pred, cents, "resid", f"code_{lvl}", "resid2"
        ).select("id", F.col("resid2").alias("resid"), f"code_{lvl}")
        # checkpoint the lineage: each level reuses the previous residual
        cur = cur.localCheckpoint(eager=False) if levels > 2 else cur
        codes = codes.join(cur.select("id", f"code_{lvl}"), "id")
    codebook = codebooks[0]
    for cb in codebooks[1:]:
        codebook = codebook.unionByName(cb)
    code_cols = [f"code_{i}" for i in range(levels)]
    mapping = codes.withColumn(
        "code", F.array(*[F.col(c) for c in code_cols])
    ).withColumn("code_flat", code_flat("code", k))
    return mapping, codebook


def reconstruct(
    mapping: DataFrame,
    codebook: DataFrame,
    levels: int,
    id_col: str = "id",
) -> DataFrame:
    """F11: embedding ≈ Σ_level codebook[level][code_level]
    (``MEVI/pq.py:768-799``). Never materializes the K^M table the
    reference precomputes (``MEVI/main_models.py:3272-3309``, flagged in
    SURVEY §7.5.3) — joins per level instead."""
    out = mapping
    for lvl in range(levels):
        cb = F.broadcast(
            codebook.filter(F.col("level") == lvl).select(
                F.col("code").alias(f"code_{lvl}"),
                F.col("centroid").alias(f"_c{lvl}"),
            )
        )
        out = out.join(cb, f"code_{lvl}")
    recon = F.col("_c0")
    for lvl in range(1, levels):
        recon = F.zip_with(recon, F.col(f"_c{lvl}"), lambda a, b: a + b)
    return out.withColumn("reconstructed", recon).drop(
        *[f"_c{i}" for i in range(levels)]
    )


def ema_update_codebook(
    assigned: DataFrame,
    codebook: DataFrame,
    decay: float = 0.99,
    restart_min: float = 1.0,
    code_col: str = "code",
    vec_col: str = "vector",
) -> DataFrame:
    """A6: exponential-moving-average codebook update with dead-code
    restart (``MEVI/pq.py:371-433``).

    The reference keeps per-code EMA state ``cluster_size`` and
    ``embed_avg`` (one-hot scatter-add + all-reduce, ``:371-400``):

        N_k ← γ·N_k + (1−γ)·n_k
        m_k ← γ·m_k + (1−γ)·Σ_{v∈k} v
        centroid_k = m_k / N_k

    and *restarts* any code whose EMA size falls under ``restart_min``
    with a sampled input vector (``:402-433``). Spark restatement: the
    batch statistics are ONE aggregation (per-code count + decimal
    element sums — order-independent, ``M×K`` result rows); the EMA
    arithmetic runs driver-side on the tiny codebook, exactly like the
    reference's all-reduced update. Restart vectors are the
    array-order-smallest input vectors (a deterministic stand-in for
    the reference's random sample).

    ``codebook`` needs ``(code, centroid)`` and optionally the EMA state
    ``(cluster_size, embed_avg)`` from a previous call (bootstrapped as
    ``cluster_size=1``, ``embed_avg=centroid`` when absent). Returns the
    updated ``(code, centroid, cluster_size, embed_avg)``.
    """
    import numpy as np

    stats = {
        int(r["code"]): (int(r["n"]), np.array(r["s"], dtype=np.float64))
        for r in assigned.select(
            F.col(code_col).alias("code"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .select("code", F.posexplode("v").alias("pos", "val"))
        .groupBy("code", "pos")
        .agg(
            F.sum(F.col("val").cast("decimal(28,12)")).alias("s"),
            F.count("*").alias("n"),
        )
        .groupBy("code")
        .agg(
            F.max("n").alias("n"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "s"))),
                lambda x: x["s"].cast("double"),
            ).alias("s"),
        )
        .collect()
    }

    has_state = "cluster_size" in codebook.columns
    cb_rows = codebook.collect()
    n_restart = sum(
        1
        for r in cb_rows
        if decay * (float(r["cluster_size"]) if has_state else 1.0)
        + (1 - decay) * stats.get(int(r["code"]), (0, None))[0]
        < restart_min
    )
    # deterministic pool: an unordered limit() returns whatever rows a
    # task happens to produce first, so restarted centroids would vary
    # run-to-run; array-order is total over the vectors and TakeOrdered
    # keeps the pull top-n-cheap
    restart_pool = [
        np.array(r["v"], dtype=np.float64)
        for r in assigned.select(
            F.col(vec_col).cast("array<double>").alias("v")
        ).orderBy("v").limit(max(n_restart, 0)).collect()
    ]

    out, pool_i = [], 0
    for r in sorted(cb_rows, key=lambda r: int(r["code"])):
        k = int(r["code"])
        cent = np.array(r["centroid"], dtype=np.float64)
        size = float(r["cluster_size"]) if has_state else 1.0
        avg = (
            np.array(r["embed_avg"], dtype=np.float64)
            if has_state
            else cent.copy()
        )
        n_k, sum_k = stats.get(k, (0, np.zeros_like(cent)))
        size = decay * size + (1 - decay) * n_k
        avg = decay * avg + (1 - decay) * sum_k
        if size < restart_min and pool_i < len(restart_pool):
            cent = restart_pool[pool_i]
            pool_i += 1
            size, avg = 1.0, cent.copy()
        else:
            cent = avg / max(size, 1e-12)
        out.append((k, cent.tolist(), size, avg.tolist()))

    return assigned.sparkSession.createDataFrame(
        out,
        "code int, centroid array<double>, cluster_size double, "
        "embed_avg array<double>",
    )


def save_rq_model(
    mapping: DataFrame, codebook: DataFrame, path: str
) -> None:
    """S7 sink: persist the trained model as two Parquet tables — the
    faiss ``write_index`` / pickled-mapping pair of the reference
    (``MEVI/pq.py:175-198``, ``:217-247``) without the bespoke formats.
    The mapping is repartitioned by ``code_flat`` when present so the
    coarse-to-fine join reads only the matching files (DPP-prunable)."""
    cb = codebook.coalesce(1)  # M×K rows — one small file
    cb.write.mode("overwrite").parquet(f"{path}/codebook")
    m = mapping
    if "code_flat" in m.columns:
        m = m.repartition("code_flat")
    m.write.mode("overwrite").parquet(f"{path}/mapping")


def load_rq_model(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """S7 scan: reload ``(mapping, codebook)`` written by
    :func:`save_rq_model` (``MEVI/pq.py:143-173`` reload path)."""
    return (
        spark.read.parquet(f"{path}/mapping"),
        spark.read.parquet(f"{path}/codebook"),
    )


def code_prefix_members(
    mapping: DataFrame,
    prefix_len: int,
    code_col: str = "code",
    id_col: str = "id",
) -> DataFrame:
    """J9: k-means-tree cluster membership by code *prefix*
    (``dataprocess/msmarco_passage/prepare_origin.py:12-28``: cluster id
    = prefix of the hierarchical newid; members via prefix expansion).

    Groups docs by the first ``prefix_len`` code digits — the tree node
    at depth ``prefix_len`` — returning ``(prefix: array<int>,
    prefix_key: string, n_docs, min_id)``. The equi-join-on-slice shape
    means Catalyst shuffles once on the (small-cardinality) prefix key;
    at scale, partition the mapping by the level-0 digit so every deeper
    prefix group is partition-local.
    """
    pref = F.slice(F.col(code_col), 1, prefix_len)
    return (
        mapping.groupBy(pref.alias("prefix"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("min_id"))
        .withColumn(
            "prefix_key",
            F.concat_ws("-", F.transform("prefix", lambda c: c.cast("string"))),
        )
        .select("prefix", "prefix_key", "n_docs", "min_id")
    )
