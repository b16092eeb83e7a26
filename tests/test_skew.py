"""Salted join / salted aggregation: exact results under planned hot-key
spreading, and the salt really spreads the hot key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mevi_spark.operators.skew import salted_aggregate, salted_join


def _skewed(spark):
    # Zipf head: key 0 owns 90% of rows, and its VALUE is constant too —
    # the sentinel-duplicate shape where content-derived salts collapse
    # (identical rows hash identically; the salt must come from row
    # position to spread them)
    return spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, 0)
        .otherwise(F.col("id") % 7)
        .alias("k"),
        F.when(F.col("id") % 10 != 0, 0)
        .otherwise(F.col("id") * 3 % 101)
        .alias("v"),
        F.col("id"),
    )


def test_salted_join_matches_plain_join(spark):
    big = _skewed(spark)
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(7)], "k long, label string"
    )
    for how in ("inner", "left"):
        got = sorted(
            (r.id, r.k, r.label)
            for r in salted_join(big, small, ["k"], salts=5, how=how)
            .select("id", "k", "label")
            .collect()
        )
        want = sorted(
            (r.id, r.k, r.label)
            for r in big.join(small, ["k"], how)
            .select("id", "k", "label")
            .collect()
        )
        assert got == want and len(got) == 2000, how


def test_salted_join_spreads_the_hot_key(spark):
    # drop the id so the hot key's rows are LITERAL duplicates — the
    # worst case for any content-derived salt
    big = _skewed(spark).select("k", "v")
    small = spark.createDataFrame([(0, "hot")], "k long, label string")
    j = salted_join(big, small, ["k"], salts=5)
    from mevi_spark.operators.skew import _salt_expr

    n_groups = (
        big.repartition(8)  # hot duplicates across several input partitions
        .withColumn("_s", _salt_expr(["k"], 5))
        .filter(F.col("k") == 0)
        .select("_s")
        .distinct()
        .count()
    )
    assert n_groups >= 3  # duplicate rows spread across reducer keys
    assert j.count() == big.filter(F.col("k") == 0).count()


def test_salted_aggregate_exact(spark):
    df = _skewed(spark)
    got = sorted(
        (r.k, r.n, r.v_sum)
        for r in salted_aggregate(
            df,
            ["k"],
            {
                "n": (F.count("*"), F.sum("n")),
                "v_sum": (F.sum("v"), F.sum("v_sum")),
            },
            salts=8,
        ).collect()
    )
    want = sorted(
        (r.k, r.n, r.v_sum)
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("v_sum"))
        .collect()
    )
    assert got == want


def test_salt_column_collision_rejected(spark):
    df = _skewed(spark).withColumn("_mevi_salt", F.lit(1))
    with pytest.raises(ValueError, match="_mevi_salt"):
        salted_aggregate(df, ["k"], {"n": (F.count("*"), F.sum("n"))})


def test_salted_ops_accept_unhashable_payloads(spark):
    """ADVICE r6: the salt hashes only the join/group keys, so frames
    carrying payload types `hash` rejects (MapType) still salt fine."""
    df = spark.range(100).select(
        (F.col("id") % 3).alias("k"),
        F.col("id").alias("v"),
        F.create_map(F.lit("a"), F.col("id")).alias("payload"),
    )
    small = spark.createDataFrame(
        [(0, "x"), (1, "y"), (2, "z")], "k long, label string"
    )
    assert salted_join(df, small, ["k"], salts=4).count() == 100
    got = {
        (r.k, r.n)
        for r in salted_aggregate(
            df, ["k"], {"n": (F.count("*"), F.sum("n"))}, salts=4
        ).collect()
    }
    assert got == {(0, 34), (1, 33), (2, 33)}


def test_spread_small_scan_reads_planned_width_without_a_job(spark, sf_dir):
    """The spread check reads the partition count ``df.rdd`` would
    report from the plan, for every shape the pipeline passes it (a
    scan, a projected or filtered scan, a union of those, a
    repartition to a count), and starts no Spark job, even under AQE
    on an input that ends in a shuffle. Its decision is unchanged."""
    from mevi_spark.sources.io import planned_partitions, spread_small_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    narrow = docs.select("doc_id", "text").filter(F.col("doc_id") % 7 == 0)
    union = docs.select("doc_id", "text").unionByName(narrow)
    shapes = {
        "scan": docs,
        "narrow": narrow,
        "union": union,
        "repartition": union.repartition(3),
        "spread": spread_small_scan(spark, union),
    }
    width = spark.sparkContext.defaultParallelism
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    sc = spark.sparkContext
    try:
        for name, df in shapes.items():
            group = f"spread-check-{name}"
            sc.setJobGroup(group, group)
            try:
                planned = planned_partitions(df)
                out = spread_small_scan(spark, df)
            finally:
                sc.setJobGroup("idle", "idle")
            assert sc.statusTracker().getJobIdsForGroup(group) == [], name
            assert planned == df.rdd.getNumPartitions(), name
            assert (out is df) == (planned >= width), name
        # a shape the walk does not model falls back to the RDD
        assert planned_partitions(docs.groupBy("source").count()) is None
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
