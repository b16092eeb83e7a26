"""Exchange-count regression gate (VERDICT r8 next-round #6): the hot
queries' shuffle counts are pinned exactly in ``tools/plan_baseline.json``
and any change fails here, the same way DPP and broadcast shapes are
already pinned. The FULL registry is checked by
``python tools/plan_audit.py --check`` (this subset keeps the pytest
fast: bench queries + the r9-new plans, none of which execute drains
at construction)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools")
)

SUBSET = [
    # the bench headline queries (regressions here cost the ratio)
    "q1_pricing_summary",
    "q3_shipping_priority",
    "nation_revenue",
    "sessionize_events",
    "knn_topk_ip",
    "retrieval_eval_metrics",
    "rq_encode_two_level",
    "rq_beam_search",
    "coarse_to_fine_retrieval",
    "ensemble_fuse",
    "dedup_exact",
    "dedup_minhash_pairs",
    "text_quality_stats",
    # the quantization/ANN tier incl. the r9 additions
    "pq_encode_reconstruct",
    "pq_adc_topk",
    "pq_ivf_adc_topk",
    "pq_ivf_recall_curve",
    "opq_encode_reconstruct",
    "rq_assign_topr",
    "multi_assign_recall",
    "bm25_search",
]


def test_exchange_counts_match_baseline(spark, sf_dir):
    import plan_audit

    report = [
        e
        for e in plan_audit.audit(spark, sf_dir, filters=tuple(SUBSET))
        if e["query"] in SUBSET
    ]
    assert len(report) == len(SUBSET), {
        e["query"] for e in report
    }.symmetric_difference(SUBSET)
    assert not plan_audit.flagged(report)
    violations = plan_audit.check_exchanges(report, plan_audit.load_baseline())
    assert not violations, violations


@pytest.mark.parametrize(
    "first, audited",
    [
        ("bloom_decontaminate", "decontaminate_eval"),
        ("dedup_canonicalize", "dedup_minhash_pairs"),
    ],
)
def test_audit_is_independent_of_build_order(spark, sf_dir, first, audited):
    """Frames ``first`` persists must not change ``audited``'s count
    (the regex count once read 7 and 9 against pins of 5)."""
    import plan_audit
    from mevi_spark.plans.registry import get_queries

    get_queries()[first](spark, sf_dir)
    report = plan_audit.audit(spark, sf_dir, filters=(audited,))
    (entry,) = [e for e in report if e["query"] == audited]
    assert entry["exchanges"] == plan_audit.load_baseline()["exchanges"][audited]
    assert not plan_audit.flagged([entry])
