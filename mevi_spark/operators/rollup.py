"""Multi-resolution rollup partials — the mergeable unit behind the
hypertable-style continuous aggregate.

``rollup_partials`` computes, in ONE scan, per-(resolution, bucket,
event type) counts and exact scaled-long sums via ``GROUPING SETS``;
``merge_rollup_partials`` folds any collection of partials into the
same shape (counts and scaled-long sums are associative and
commutative, so merging is a plain keyed sum). The batch query
(``plans/temporal_ops.py::events_hypertable_rollup``) computes
partials over the whole table and finalizes; the incremental refresh
(``streaming/incremental.py::rollup_store``, a ``PartialStore``)
computes them per micro-batch and maintains the merged state — same
partials, proven by the shared oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mevi_spark.functions.agg import scaled_long
from mevi_spark.functions.time import epoch_us

MIN_US = 60_000_000
HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000

#: default resolution ladder (label → bucket width in µs), ordered
#: finest-first; labels must be unique
RESOLUTIONS: dict[str, int] = {"1m": MIN_US, "1h": HOUR_US, "1d": DAY_US}


def rollup_partials(
    ev: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    resolutions: dict[str, int] = RESOLUTIONS,
) -> DataFrame:
    """``(resolution, bucket_us, event_type, n_events, sum_e6)`` over
    one scan: a |resolutions|× Expand then ordinary partial-aggregated
    shuffles; state bounded by buckets×types. ``sum_e6`` is the exact
    scaled-long (µ-units) sum — order-independent, mergeable, bit-equal
    to a DECIMAL(18,6) accumulation."""
    labels = list(resolutions)
    us = epoch_us(ev, ts_col)
    b = ev.select(
        F.col(type_col).alias("event_type"),
        F.col(value_col).alias("_v"),
        *[
            (us - us % w).cast("long").alias(f"_b_{lab}")
            for lab, w in resolutions.items()
        ],
    )
    # grouping() is only legal inside the grouped projection, so the
    # resolution label is computed in agg() alongside the aggregates.
    # Built nested from the coarsest fallback outward so a
    # single-resolution dict degenerates to a constant label instead
    # of crashing (None.otherwise), and earlier labels take precedence
    # exactly as in the flat when-chain.
    if not labels:
        raise ValueError("resolutions must name at least one bucket width")
    resolution = F.lit(labels[-1])
    for lab in reversed(labels[:-1]):
        resolution = F.when(
            F.grouping(f"_b_{lab}") == 0, lab
        ).otherwise(resolution)
    g = b.groupingSets(
        [[f"_b_{lab}", "event_type"] for lab in labels],
        *[f"_b_{lab}" for lab in labels],
        "event_type",
    ).agg(
        resolution.alias("resolution"),
        F.count("*").alias("n_events"),
        F.sum(scaled_long("_v")).alias("sum_e6"),
    )
    return g.select(
        "resolution",
        F.coalesce(*[f"_b_{lab}" for lab in labels])
        .cast("long")
        .alias("bucket_us"),
        "event_type",
        "n_events",
        "sum_e6",
    )


def merge_rollup_partials(parts: DataFrame) -> DataFrame:
    """Fold partials (any number of batches' worth) back into one row
    per (resolution, bucket, type) — ONE keyed shuffle, state bounded
    by buckets×types regardless of how many batches contributed."""
    return parts.groupBy("resolution", "bucket_us", "event_type").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_e6").alias("sum_e6"),
    )


def finalize_rollup(parts: DataFrame) -> DataFrame:
    """Partials → the presentation shape the batch query and oracle
    share: µ-unit sums back to a rounded double."""
    return parts.select(
        "resolution",
        "bucket_us",
        "event_type",
        "n_events",
        F.round(F.col("sum_e6").cast("double") / F.lit(1e6), 6).alias(
            "sum_value"
        ),
    )
