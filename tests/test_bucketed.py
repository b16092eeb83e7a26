"""Bucketed-table layout: the co-located join must plan with ZERO
Exchange operators (the write-time shuffle replaces every query-time
shuffle — the property the 100 TB story buys), and results must match
the plain shuffled join."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from mevi_spark.plans.plan_facts import plan_facts
from mevi_spark.sources.bucketed import bucketed_join, write_bucketed
from mevi_spark.sources.io import load_table


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    tag = uuid.uuid4().hex[:8]
    t_o, t_c = f"t_orders_{tag}", f"t_cust_{tag}"
    write_bucketed(orders, t_o, ["o_custkey"], 8, path=str(tmp_path / "o"))
    write_bucketed(cust, t_c, ["c_custkey"], 8, path=str(tmp_path / "c"))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(t_o).join(
            spark.table(t_c),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        facts = plan_facts(j)
        assert facts.joins == ("SortMergeJoin",)
        assert not facts.shuffles and not facts.broadcasts, facts
        # (a per-task Sort remains: Spark only elides it for
        # one-file-per-bucket sorted scans; the shuffle elimination is
        # the property that matters — Sort is partition-local)
        assert [s.bucketed for s in facts.scans] == [True, True]

        got = sorted(
            (r.o_orderkey, r.c_mktsegment, float(r.o_totalprice))
            for r in j.select(
                "o_orderkey", "c_mktsegment", "o_totalprice"
            ).collect()
        )
        want = sorted(
            (r.o_orderkey, r.c_mktsegment, float(r.o_totalprice))
            for r in orders.join(
                cust, F.col("o_custkey") == F.col("c_custkey")
            )
            .select("o_orderkey", "c_mktsegment", "o_totalprice")
            .collect()
        )
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")


def test_bucketed_groupby_is_exchange_free(spark, sf_dir, tmp_path):
    """An aggregation on the bucket key reuses the bucketing too —
    partial+final agg collapse into one exchange-free pass."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    tag = uuid.uuid4().hex[:8]
    t_o = f"t_ordagg_{tag}"
    write_bucketed(orders, t_o, ["o_custkey"], 8, path=str(tmp_path / "oa"))
    try:
        agg = (
            spark.table(t_o)
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n"))
        )
        facts = plan_facts(agg)
        assert not facts.shuffles and not facts.broadcasts, facts
        assert agg.count() == orders.select("o_custkey").distinct().count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
