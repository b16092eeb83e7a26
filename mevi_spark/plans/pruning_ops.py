"""Demonstrated partition pruning for the coarse-to-fine path —
SURVEY §4 row 1, the reference's core physical-strategy win.

The reference scores only the docs inside the predicted clusters and
tracks that saving as ``ndocs@cluster`` (``MEVI/main_models.py:3911-4020``,
report ``:4182, 4334-4335``). In Spark the equivalent is a *physical*
property: write the doc-embedding table ``partitionBy(level-0 code)``
(:func:`mevi_spark.operators.rerank.write_partitioned_embeddings`) and
the coarse→fine expansion becomes a scan of only the predicted-code
partition directories —

* **static pruning** when the predicted codes are literals
  (``PartitionFilters`` on the scan), and
* **dynamic partition pruning (DPP)** when they arrive from the coarse
  join (``dynamicpruningexpression`` on the scan's partition filters).

:func:`~mevi_spark.plans.plan_facts.plan_facts` reads the *planned*
file listing off each scan (Spark 4's ``ScanFileListing``:
``partitionCount``/``totalNumberOfFiles``), so the registered query
asserts files-read < total-files from the same machinery the scheduler
uses — not from a re-listing of the directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mevi_spark.operators.rerank import write_partitioned_embeddings
from mevi_spark.plans.plan_facts import plan_facts
from mevi_spark.plans.registry import register
from mevi_spark.plans.staging import ensure_staged
from mevi_spark.sources.io import load_table


def write_label_partitioned(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """Write the embeddings corpus partitioned by the level-0 code
    (= ``label``) and read it back — the physical layout of the fine
    path's doc side."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("doc_vec"),
        F.col("label").cast("long").alias("code_prefix"),
    )
    write_partitioned_embeddings(docs, path, "code_prefix")
    return spark.read.parquet(path)


@register(
    "partition_pruning_stats",
    oracle="""
WITH n AS (SELECT COUNT(DISTINCT label) AS nlab FROM embeddings)
SELECT nlab::BIGINT AS total_partitions,
       3::BIGINT AS pruned_partitions,
       1::BIGINT AS static_pruned,
       1::BIGINT AS dpp_planned,
       (SELECT COUNT(*) FROM embeddings WHERE label IN (1, 2, 3))::BIGINT
         AS rows_in_pruned_scan
FROM n
""",
)
def partition_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §4 row 1 made checkable: writes the corpus partitioned by
    level-0 code, then proves from the planned file listings that

    * a literal coarse-code filter scans 3 of the K partition
      directories (static pruning), and
    * joining the partitioned table against the query subset's predicted
      level-0 codes (a *filtered* derivation, as the real coarse run is)
      plans a ``dynamicpruningexpression`` scan (DPP), Spark's runtime
      realization of the reference's ``ndocs@cluster`` saving. DPP only
      plans when the build side carries a selective predicate — a bare
      literal dim table does not qualify, a filtered scan does.

    The oracle pins the expected partition counts and the row count the
    pruned scan must still deliver (pruning must lose no rows)."""
    def write(p: str) -> None:
        write_label_partitioned(spark, sf_dir, p)

    path = ensure_staged("prune_idx", sf_dir, write)
    part = spark.read.parquet(path)

    (total,) = plan_facts(part).scans
    pruned_df = part.filter(F.col("code_prefix").isin([1, 2, 3]))
    (pruned,) = plan_facts(pruned_df).scans

    coarse = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 50 == 0)
        .select(F.col("label").cast("long").alias("code_prefix"))
        .distinct()
    )
    dpp = plan_facts(part.join(F.broadcast(coarse), "code_prefix")).dpp

    n_rows = pruned_df.count()
    row = (
        total.partitions,
        pruned.partitions,
        1 if (pruned.partitions < total.partitions
              and pruned.files < total.files) else 0,
        1 if dpp else 0,
        int(n_rows),
    )
    return spark.createDataFrame(
        [row],
        "total_partitions long, pruned_partitions long, "
        "static_pruned long, dpp_planned long, rows_in_pruned_scan long",
    )


# ---------------------------------------------------------------------------
# Z-order layout: multi-dimensional data skipping

# box bounds shared by the Spark query and the oracle (UTC micros for
# 2024-01-10 .. 2024-01-15, the middle of the events table's 30 days)
_ZB_T1 = 1704844800_000000
_ZB_T2 = 1705276800_000000
_ZB_U1, _ZB_U2 = 40, 70


# shared by zorder_box_scan AND its maintenance twin
# (plans/streaming_ops.py::streaming_zorder): the box aggregate over
# the maintained layout must equal the one-shot clustered layout
ZORDER_BOX_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
WHERE user_id BETWEEN {_ZB_U1} AND {_ZB_U2}
  AND epoch_us(ts) >= {_ZB_T1} AND epoch_us(ts) < {_ZB_T2}
GROUP BY event_type
"""


def box_scan_agg(z: DataFrame) -> DataFrame:
    """The 2-D box filter + decimal-stabilized aggregate over a
    z-clustered events frame — the read path shared by the batch query
    and the streaming twin's drain (one definition, one oracle)."""
    from mevi_spark.functions.agg import scaled_long
    from mevi_spark.functions.time import epoch_us

    return (
        z.filter(
            (F.col("user_id") >= _ZB_U1)
            & (F.col("user_id") <= _ZB_U2)
            & (epoch_us(z, "ts") >= _ZB_T1)
            & (epoch_us(z, "ts") < _ZB_T2)
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(scaled_long("value")).cast("double") / F.lit(1e6)).alias(
                "sum_value"
            ),
        )
    )


@register("zorder_box_scan", oracle=ZORDER_BOX_ORACLE)
def zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box query over the Z-ordered events layout
    (:func:`mevi_spark.sources.zorder.write_zordered`): events
    clustered by the Morton key of (user_id, epoch-us), then filtered
    on BOTH dimensions and aggregated. The oracle checks the layout
    loses no rows; the data-skipping benefit itself — every file
    carries a bounded range in EACH dimension, so parquet min-max
    stats prune the 2-D box to intersecting files only, where a
    time-sorted layout prunes only on time — is asserted from the
    parquet footers in ``tests/test_zorder.py``.

    100 TB plan shape: the layout costs one range shuffle at write
    time (amortized over every subsequent box query); the read side is
    a plain scan whose ``PushedFilters`` consume the stats with no
    reader code at all. Aggregation is decimal-stabilized per the
    registry float rule."""
    from mevi_spark.functions.time import epoch_us
    from mevi_spark.sources.zorder import write_zordered

    ev = load_table(spark, sf_dir, "events")

    def write(p: str) -> None:
        write_zordered(
            ev, p, F.col("user_id"), epoch_us(ev, "ts"), n_files=24
        )

    path = ensure_staged("zorder_events", sf_dir, write, table="events")
    return box_scan_agg(spark.read.parquet(path))
