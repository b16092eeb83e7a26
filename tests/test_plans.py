"""Physical-plan quality regressions (SURVEY §4): the properties the
100 TB story depends on, asserted from the planner's own output so a
future edit can't silently reintroduce a scale-killer.

* no BroadcastNestedLoopJoin / CartesianProduct on any hot path (the
  only sanctioned crossJoins are broadcast K-row codebook expansions,
  which are excluded from the checked set);
* filter pushdown reaches the parquet scan (``PushedFilters``);
* whole-stage codegen spans exist once executed;
* the coarse-to-fine doc scan carries dynamic partition pruning.
"""

from __future__ import annotations

import pytest

from mevi_spark.plans.plan_facts import Shuffle, plan_facts
from mevi_spark.plans.registry import get_queries

# hot-path queries that must never plan an unbounded join
_NO_BLOWUP = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "nation_revenue",
    "sessionize_events",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "inverse_answer_index",
    "knn_topk_ip",
    "complement_qg10",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_quality_stats",
    "dedup_ngram_dfcut",
    "corpus_prep_pipeline",
    "bucketed_join_rollup",
    # round-8 session additions: the boilerplate drop set, PQ codebook,
    # ADC LUTs and IVF probes must all stay broadcast/map-only
    "line_boilerplate_strip",
    "heavy_hitters_terms",
    "pq_encode_reconstruct",
    "pq_adc_topk",
    "pq_ivf_adc_topk",
    "cdc_time_travel",
]
# NOT listed: coarse_to_fine_retrieval and the beam/eval queries — their
# lineage contains the sanctioned broadcast-Cross expansion against the
# K-row codebook (bounded by K per level, the reference's own semantics).


@pytest.mark.parametrize("name", _NO_BLOWUP)
def test_no_unbounded_join_strategies(spark, sf_dir, name):
    joins = plan_facts(get_queries()[name](spark, sf_dir)).joins
    assert "BroadcastNestedLoopJoin" not in joins, name
    assert "CartesianProduct" not in joins, name


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """Predicates must land in the parquet reader, not a post-scan
    Filter (q1's shipdate bound); the k-NN doc scan reads only the
    columns it scores."""
    qs = get_queries()
    (q1,) = plan_facts(qs["q1_pricing_summary"](spark, sf_dir)).scans
    assert q1.pushed_filters == (
        "IsNotNull(l_shipdate)",
        "LessThanOrEqual(l_shipdate,1998-09-02T00:00)",
    )
    (knn,) = plan_facts(qs["knn_topk_ip"](spark, sf_dir)).scans
    assert knn.read_schema == ("vec_id", "embedding")


def test_whole_stage_codegen_spans(spark, sf_dir):
    """AQE materializes stages lazily; after execution the final plan
    must show fused codegen spans (the JVM hot path, not interpreted)."""
    df = get_queries()["q1_pricing_summary"](spark, sf_dir)
    df.collect()
    assert plan_facts(df).codegen_stages > 0


def test_fine_path_plans_dpp(spark, sf_dir):
    """The staged cluster-partitioned doc side must give the expansion
    join a dynamicpruningexpression (the build also hard-asserts this;
    the test keeps the guarantee visible and bisectable) — read through
    the persisted run's cached relation."""
    from mevi_spark.plans.retrieval import _fine_run, clear_session_caches

    clear_session_caches(spark)
    fine = _fine_run(spark, sf_dir)
    assert plan_facts(fine).dpp
    assert fine.count() > 0


def test_ivf_gather_prunes_partitioned_corpus(spark, sf_dir):
    """The IVF scale claim, machine-checked: with the corpus stored in
    its cluster-partitioned layout (the IVF inverted-list structure as
    a physical layout), the candidate gather join plans dynamic
    partition pruning — per-query work is the probed lists' partitions,
    not the corpus (faiss ``nprobe``/``ndocs@cluster`` as a plan
    property)."""
    from pyspark.sql import functions as F

    from mevi_spark.operators.ann import ivf_topk_join
    from mevi_spark.operators.rq import rq_level_centroids
    from mevi_spark.plans.pruning_ops import write_label_partitioned
    from mevi_spark.plans.staging import ensure_staged

    def write(p):
        write_label_partitioned(spark, sf_dir, p)

    path = ensure_staged("prune_idx", sf_dir, write)
    part = spark.read.parquet(path).select(
        "doc_id",
        F.col("doc_vec"),
        F.col("code_prefix").cast("long").alias("code"),
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    cents = rq_level_centroids(emb, code_col="label", vec_col="embedding")
    out = ivf_topk_join(queries, part, cents, k=5, nprobe=3)
    assert plan_facts(out).dpp, "IVF gather lost dynamic partition pruning"
    assert out.count() > 0


def test_corpus_sample_remap_stays_dataframe(spark, sf_dir):
    """VERDICT r6 #4: the dense remap must stay Arrow end-to-end — no
    RDD hop (ExistingRDD scan = every row pickled through Python), and
    the whole operation is the two-pass shape: one offsets job at build
    + one output job at action."""
    sc = spark.sparkContext
    before = sc.statusTracker().getJobIdsForGroup("remap-plan")
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled")
    # AQE materializes each query stage as its own job, which is fine
    # but makes "how many passes over the data" unreadable; count jobs
    # with static planning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("remap-plan", "remap-plan")
    try:
        df = get_queries()["corpus_sample_remap"](spark, sf_dir)
        assert not plan_facts(df).nodes["Scan ExistingRDD"], "RDD API hop"
        build_jobs = len(sc.statusTracker().getJobIdsForGroup("remap-plan"))
        rows = df.collect()
        total_jobs = len(sc.statusTracker().getJobIdsForGroup("remap-plan"))
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
    # build = min/max stats + the per-bucket offsets count; output = one
    # windowed job over value-derived buckets
    assert build_jobs - len(before) <= 2, "build should be stats+offsets"
    assert total_jobs - build_jobs <= 1, "output pass should be one job"
    # dense remap invariants: new_id is 0..n-1 in doc_id order
    got = sorted((r["old_id"], r["new_id"]) for r in rows)
    assert [n for _, n in got] == list(range(len(got)))


def test_round8_session_broadcast_shapes(spark, sf_dir):
    """The session's scale claims as plan regressions: the boilerplate
    drop set, the MG candidate set, the PQ codebook and the per-query
    ADC LUTs are all BROADCAST (never a sort-merge shuffle of the
    corpus against them)."""
    for name in (
        "line_boilerplate_strip",
        "heavy_hitters_terms",
        "pq_adc_topk",
    ):
        joins = plan_facts(get_queries()[name](spark, sf_dir)).joins
        assert "BroadcastHashJoin" in joins, name
        assert "SortMergeJoin" not in joins, name
    # pq_ivf_adc_topk: probes + LUT broadcast, but the candidate⋈codes
    # edge is corpus-sized on BOTH sides — that one is SUPPOSED to be a
    # keyed shuffle join, so only the unbounded strategies are banned
    # (covered by _NO_BLOWUP) and the broadcasts must still be present
    joins = plan_facts(get_queries()["pq_ivf_adc_topk"](spark, sf_dir)).joins
    assert "BroadcastHashJoin" in joins


def test_ranked_by_range_buckets_total_order_and_parallel_window(spark):
    """The range-bucket ranking kernel must (a) produce the exact
    total order under heavy score ties (all ties share one bucket, so
    the tie-break column decides inside a single window), and (b)
    never plan a single-partition window — the whole point vs the
    naive global ROW_NUMBER."""
    from pyspark.sql import functions as F

    from mevi_spark.plans.pipeline_ops import ranked_by_range_buckets

    rows = [(i, float(i % 7) / 7.0) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    out = ranked_by_range_buckets(df, "score", ["doc_id"], n_buckets=8)
    got = [
        (r["doc_id"], r["global_rank"])
        for r in out.orderBy("global_rank").collect()
    ]
    want = [
        (doc, i + 1)
        for i, (doc, _) in enumerate(
            sorted(rows, key=lambda t: (t[1], t[0]))
        )
    ]
    assert got == want
    facts = plan_facts(out)
    assert facts.nodes["Window"] >= 1
    # the window's only shuffle is keyed on the bucket — a global
    # (empty partition-spec) window would plan a SinglePartition one
    assert facts.shuffles == (Shuffle("HashPartitioning", ("_bkt",)),)
