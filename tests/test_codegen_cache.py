"""A long-lived session reuses its generated code: a retrieval request
run a second time compiles no whole-stage-codegen class.

One request (exact top-k, RQ beam, coarse-to-fine, fusion, metrics)
needs about 160 generated classes at this SF. Spark's default
generated-class cache holds 100, so under it every repeat of the
request recompiled about 140 of them; ``get_spark`` sizes the cache to
hold the query path's working set."""

from __future__ import annotations

REQUEST = [
    "knn_topk_ip",
    "rq_beam_search",
    "coarse_to_fine_retrieval",
    "ensemble_fuse",
    "retrieval_eval_metrics",
]


def _request(spark, sf_dir) -> int:
    """Run the request once; return the classes it compiled."""
    from mevi_spark.plans.registry import get_queries
    from mevi_spark.plans.retrieval import clear_session_caches
    from mevi_spark.session import codegen_compiles

    qs = get_queries()
    before = codegen_compiles(spark)
    for name in REQUEST:
        assert qs[name](spark, sf_dir).collect(), name
    clear_session_caches(spark)
    return codegen_compiles(spark) - before


def test_repeated_retrieval_request_compiles_no_class(spark, sf_dir):
    from mevi_spark.session import codegen_compiles

    _request(spark, sf_dir)
    # the counter is live: this JVM has compiled the request's classes
    assert codegen_compiles(spark) > 0
    assert _request(spark, sf_dir) == 0
