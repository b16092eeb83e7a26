"""Coarse-to-fine retrieval (J3 + J5 + A7 + W2) — the flagship MEVI path.

Reference flow (``MEVI/main_models.py:3554-4098``): the query model
predicts top-R cluster codes ("coarse" — here
:func:`mevi_spark.operators.beam.rq_beam_search`), each code expands to
its member docs (J3, ``:3923-3935``), members are re-scored by embedding
dot product (J5, ``:3944-3991``), duplicate docs across clusters are
merged by max-aggregating their scores (A7, ``:3999-4011``), and the
per-query top-k is taken (W2).

Spark restatement — and the one optimization that matters at 100 TB
(SURVEY §4 row 1): the doc-embedding table is **physically keyed by the
flat cluster code**, so the coarse→fine expansion is an equi-join on
``code_flat`` that prunes the corpus scan to the predicted clusters
(partition pruning / DPP when the table is written partitioned by a
code prefix — see :func:`write_partitioned_embeddings`). The reference
tracks this win as ``ndocs@cluster`` (``MEVI/main_models.py:4182``);
here it is simply the join selectivity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mevi_spark.functions.vector import dot
from mevi_spark.operators.topk import topk_per_group


def write_partitioned_embeddings(
    doc_embeddings: DataFrame,
    path: str,
    prefix_col: str = "code_prefix",
) -> None:
    """Persist the corpus embedding table partitioned by a coarse code
    prefix, the physical layout that lets the coarse→fine join prune the
    scan to predicted clusters (SURVEY §4 row 1). ``prefix_col`` is
    typically the level-0 code (K partitions) — partitioning by the full
    ``code_flat`` would create K^M directories."""
    doc_embeddings.write.mode("overwrite").partitionBy(prefix_col).parquet(path)


def coarse_to_fine(
    queries: DataFrame,
    coarse: DataFrame,
    doc_embeddings: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    doc_vec: str = "doc_vec",
) -> DataFrame:
    """J3 + J5 + A7 + W2.

    ``coarse``: ``(query_id, code_flat, ...)`` — predicted clusters.
    ``doc_embeddings``: ``(doc_id, code_flat, doc_vec)`` — the corpus
    keyed by its RQ code (the physical layout that makes the expansion
    join prunable).

    Returns ``(query_id, doc_id, score, rank)``, rank 1..k.
    """
    # J3: expand codes to member docs. Equi-join on the flat code — the
    # array-keyed join of the reference becomes a long-keyed hash join
    # (SURVEY §7.5.5).
    candidates = coarse.select(query_id, "code_flat").join(
        doc_embeddings.select(doc_id, "code_flat", doc_vec), "code_flat"
    )
    # J5: gather the query vector and re-rank by dot product
    q = F.broadcast(queries.select(query_id, query_vec))
    scored = candidates.join(q, query_id).select(
        query_id, doc_id, dot(query_vec, doc_vec).alias("score")
    )
    # A7: a doc reachable through multiple predicted clusters scores once,
    # max-aggregated (np.unique + max-agg, MEVI/main_models.py:3999-4011 —
    # NOT dropDuplicates, which keeps an arbitrary row and silently picks
    # wrong answers the moment scores differ per cluster).
    #
    # ONE exchange for A7 + W2 (guide §2.4 "two operations keyed the
    # same way can share one exchange"): hash-partitioning by query_id
    # alone satisfies BOTH the (query_id, doc_id) aggregation's
    # clustering requirement (a subset partitioning colocates every
    # group) and the top-k window's — the default groupBy shape paid a
    # (query_id, doc_id) exchange of every candidate row AND a second
    # query_id exchange for the window. Bit-identical results: max is
    # order-independent and the window tie-breaks on doc_id.
    #
    # The price: the explicit repartition(query_id) runs BEFORE the
    # aggregation, so the max is no longer partially aggregated
    # map-side — every candidate row, duplicates included, crosses the
    # exchange — and aggregation parallelism is capped at the number
    # of distinct queries. Re-measure this shape when docs repeat
    # heavily across predicted clusters or the query set is a few hot
    # queries; both make the default two-exchange plan cheaper.
    scored = scored.repartition(query_id).groupBy(query_id, doc_id).agg(
        F.max("score").alias("score")
    )
    # W2/W3: per-query top-k (same exchange as A7)
    return topk_per_group(scored, [query_id], "score", k, [doc_id])
