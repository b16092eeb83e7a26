"""Partition pruning for the coarse-to-fine path (SURVEY §4 row 1):
the doc-embedding table written ``partitionBy(level-0 code)`` must let
the fine re-rank scan only the predicted clusters' directories, and the
pruned plan must return exactly the same rows as the unpartitioned one.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from mevi_spark.operators.rerank import coarse_to_fine
from mevi_spark.plans.plan_facts import plan_facts
from mevi_spark.plans.pruning_ops import write_label_partitioned

SF_DIR = "/root/testdata/sf0.001"


def _queries(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").cast("long").alias("code_flat"),
    )


def test_static_pruning_reads_fewer_files(spark):
    path = tempfile.mkdtemp(prefix="prune_static_") + "/emb"
    part = write_label_partitioned(spark, SF_DIR, path)
    (total,) = plan_facts(part).scans
    (pruned,) = plan_facts(part.filter(F.col("code_prefix").isin([0, 1]))).scans
    assert total.partitions == 10  # one dir per label
    assert pruned.partitions == 2
    assert pruned.files < total.files


def test_fine_path_on_partitioned_table_prunes_and_matches(spark):
    path = tempfile.mkdtemp(prefix="prune_fine_") + "/emb"
    part = write_label_partitioned(spark, SF_DIR, path).withColumnRenamed(
        "code_prefix", "code_flat"
    )
    qs = _queries(spark)
    # coarse run: each query predicts its own label cluster (top-1)
    coarse = qs.select("query_id", "code_flat")

    fine = coarse_to_fine(qs, coarse, part, k=5)
    rows = {(r["query_id"], r["doc_id"], r["rank"]) for r in fine.collect()}

    # same query against the unpartitioned parquet — identical results
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    flat_docs = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("doc_vec"),
        F.col("label").cast("long").alias("code_flat"),
    )
    fine2 = coarse_to_fine(qs, coarse, flat_docs, k=5)
    rows2 = {(r["query_id"], r["doc_id"], r["rank"]) for r in fine2.collect()}
    assert rows == rows2 and len(rows) > 0

    # the expansion join against the partitioned side plans DPP: the
    # scan's partition filter waits for the coarse side's codes
    joined = part.join(
        F.broadcast(coarse.select("code_flat").distinct()), "code_flat"
    )
    assert plan_facts(joined).dpp
