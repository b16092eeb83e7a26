"""Retrieval metrics (A3/W1/W4) with the reference's exact semantics.

The subtle semantics this module encodes as law (SURVEY §5, FIXTURES.md):

* **Recall@K denominator is |gt|, not |preds|** — ``MEVI/evaluate.py:12-13``
  (``sum(truth in preds[:K]) / len(gt)``).
* **MRR@K uses the MIN rank over a query's positives**, and is 0 unless
  that min rank < K — ``MEVI/evaluate.py:9-15`` (``1/(min_rank+1)``).
* **HitRate@K** is 1 if any positive appears in the top K
  (NQ path, ``MEVI/main_models.py:4144-4161``).
* **Duplicate query rows: last wins** — dict overwrite at
  ``MEVI/main_models.py:4119-4126``.
* A query whose positives never appear in ``preds`` has rank NULL and
  contributes 0 to every metric but still counts in the denominator
  (``MEVI/evaluate.py:16-20``).

Input shapes are array-typed run rows — ``(query, preds: array<long>)``
plus ground truth ``(query, gt_ids: array<long>)`` — matching the
reference's run files (§1.1). All metric math is JVM column expressions;
the aggregation is Spark's native partial+final hash agg (the reference
hand-rolls this with per-rank pickles merged by rank 0,
``MEVI/main_models.py:4100-4193``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _dedup_last_wins(df: DataFrame, key: str, order: str | None) -> DataFrame:
    """Last occurrence wins, mirroring dict-overwrite parsing
    (``MEVI/main_models.py:4119-4126``). ``order`` is a column that
    defines file order; with ``order=None`` an arbitrary-but-single row
    survives (``dropDuplicates``) — still one row per key, as the dict
    guarantees, just without the file-order tie-break."""
    if order is None:
        return df.dropDuplicates([key])
    w = Window.partitionBy(key).orderBy(F.col(order).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def ranks_of_ground_truth(
    run: DataFrame,
    gt: DataFrame,
    query_col: str = "query",
    preds_col: str = "preds",
    gt_col: str = "gt_ids",
    order_col: str | None = None,
) -> DataFrame:
    """W1: per (query, gt doc) 0-based rank in the ranked preds list, NULL
    when absent (``preds.index(g)`` loop at ``MEVI/evaluate.py:36-41``).

    Returns ``(query, gt_id, rank)``; queries missing from ``run`` keep
    NULL ranks (left join) so they still count in metric denominators; a
    query with an EMPTY gt array yields one row with NULL ``gt_id``
    (``explode_outer``) so it still reaches the denominators. Duplicate
    query rows in either input collapse to one (last wins when
    ``order_col`` names a file-order column).
    """
    g = _dedup_last_wins(gt, query_col, order_col).select(
        query_col, F.explode_outer(gt_col).alias("gt_id")
    )
    r = _dedup_last_wins(run, query_col, order_col).select(query_col, preds_col)
    joined = g.join(r, query_col, "left")
    pos = F.array_position(F.col(preds_col), F.col("gt_id"))  # 1-based, 0=absent
    return joined.select(
        query_col,
        "gt_id",
        F.when(pos > 0, (pos - 1).cast("long")).alias("rank"),
    )


def evaluate_run(
    run: DataFrame,
    gt: DataFrame,
    cutoffs: tuple[int, ...] = (1, 5, 10, 20, 50, 100, 1000),
    query_col: str = "query",
    preds_col: str = "preds",
    gt_col: str = "gt_ids",
    order_col: str | None = None,
) -> DataFrame:
    """A3: Recall@K / MRR@K / HitRate@K for K in ``cutoffs``.

    One output row per K: ``(k, recall, mrr, hitrate, n_queries)``.
    Mirrors ``MEVI/evaluate.py:27-58`` + ``MEVI/main_models.py:4144-4201``.
    A query with zero positives contributes 0 to every metric but still
    counts in ``n_queries`` (the reference iterates all queries in gts).
    """
    return (
        per_query_metrics(
            run, gt, cutoffs, query_col, preds_col, gt_col, order_col
        )
        .groupBy("k")
        .agg(
            F.avg("q_recall").alias("recall"),
            F.avg("q_mrr").alias("mrr"),
            F.avg("q_hit").alias("hitrate"),
            F.count("*").alias("n_queries"),
        )
        .orderBy("k")
    )


def per_query_metrics(
    run: DataFrame,
    gt: DataFrame,
    cutoffs: tuple[int, ...] = (1, 5, 10, 20, 50, 100, 1000),
    query_col: str = "query",
    preds_col: str = "preds",
    gt_col: str = "gt_ids",
    order_col: str | None = None,
) -> DataFrame:
    """The per-``(k, query)`` metric contributions ``(k, q_recall,
    q_mrr, q_hit)`` that :func:`evaluate_run` averages — exposed
    separately so the streaming maintenance twin
    (``streaming/incremental.py::eval_metrics_store``) can fold
    them into mergeable per-batch partials through the SAME rules
    (gt-denominator recall, min-rank MRR, zero-positive queries count
    in the denominator)."""
    per_gt = ranks_of_ground_truth(run, gt, query_col, preds_col, gt_col, order_col)

    # per-query: number of positives, min rank, ranks list
    per_q = per_gt.groupBy(query_col).agg(
        F.count("gt_id").alias("n_gt"),  # non-null: empty-gt query → 0
        F.min("rank").alias("min_rank"),
        F.collect_list("rank").alias("ranks"),  # NULLs drop out: absent preds
    )

    # one explode over the cutoff list → every K computed in a single
    # shuffle instead of |cutoffs| separate aggregations
    ks = F.explode(F.array(*[F.lit(int(k)) for k in cutoffs])).alias("k")
    exploded = per_q.select("*", ks)
    kk = F.col("k")
    hits_at_k = F.size(F.filter(F.col("ranks"), lambda r: r < kk))
    found = F.col("min_rank").isNotNull() & (F.col("min_rank") < kk)
    return exploded.select(
        "k",
        F.when(F.col("n_gt") > 0, hits_at_k.cast("double") / F.col("n_gt"))
        .otherwise(F.lit(0.0))
        .alias("q_recall"),
        F.when(found, F.lit(1.0) / (F.col("min_rank") + 1))
        .otherwise(F.lit(0.0))
        .alias("q_mrr"),
        F.when(found, F.lit(1.0)).otherwise(F.lit(0.0)).alias("q_hit"),
    )


def eval_metric_partials(perq: DataFrame) -> DataFrame:
    """One batch's mergeable eval partial: per-cutoff scaled-long sums
    of the per-query contributions plus the query count — associative,
    commutative, order-independent (the registry's decimal-stabilized
    sum convention), so merging any batch split reproduces the one-shot
    aggregate exactly. Contract: each query's run rows arrive in ONE
    batch (queries are the ingest unit — an eval sweep evaluates a
    query exactly once), so per-query rows are complete when folded."""
    from mevi_spark.functions.agg import scaled_long

    return perq.groupBy("k").agg(
        F.sum(scaled_long("q_recall")).alias("recall_s"),
        F.sum(scaled_long("q_mrr")).alias("mrr_s"),
        F.sum(scaled_long("q_hit")).alias("hit_s"),
        F.count(F.lit(1)).alias("n_queries"),
    )


def merge_eval_partials(parts: DataFrame) -> DataFrame:
    """Fold unioned eval partials — one k-keyed partial-aggregable
    sum."""
    return parts.groupBy("k").agg(
        F.sum("recall_s").alias("recall_s"),
        F.sum("mrr_s").alias("mrr_s"),
        F.sum("hit_s").alias("hit_s"),
        F.sum("n_queries").alias("n_queries"),
    )


def finalize_eval_metrics(state: DataFrame) -> DataFrame:
    """Current metrics from the maintained sums: ``sum / 1e6 / n``,
    rounded 6 — the exact decimal-stabilized mean the oracle computes
    with ``SUM(CAST(x AS DECIMAL(18,6))) / COUNT(*)``."""
    n = F.col("n_queries").cast("double")
    as_mean = lambda c: F.round(  # noqa: E731
        F.col(c).cast("double") / F.lit(1e6) / n, 6
    )
    return state.select(
        "k",
        as_mean("recall_s").alias("recall"),
        as_mean("mrr_s").alias("mrr"),
        as_mean("hit_s").alias("hitrate"),
        F.col("n_queries").cast("long").alias("n_queries"),
    ).orderBy("k")
