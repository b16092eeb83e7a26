"""Z-order (Morton) clustering writer — multi-dimensional data
skipping for the file layout.

A time-sorted events layout prunes beautifully on ``ts`` and not at
all on ``user_id``: every file spans the full user range, so a
two-dimensional box query still reads every file. Interleaving the
bits of both dimensions into one Morton key and range-partitioning +
sorting the write on that key gives every output file a BOUNDED range
in *each* dimension — parquet's per-file/row-group min-max stats then
prune a 2-D box to the files whose cell actually intersects it (the
Delta/Iceberg ``OPTIMIZE ZORDER BY`` layout strategy, built here from
plain DataFrame ops).

Scale shape: ONE range shuffle (``repartitionByRange`` on the z-key —
the same cost as any sorted write) plus a map-only in-partition sort;
no state, no driver data besides the 2×2 min/max scalars. At 100 TB
the writer runs per ingest partition (e.g. per day), keeping the
range-sample bounded; readers need no code change at all — predicate
pushdown consumes the stats automatically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

Z_BITS = 12  # 4096 buckets per dimension; 2 dims → 24-bit keys


def _bucket(c: Column, mn: float, mx: float, bits: int) -> Column:
    """Scale a numeric column to an integer bucket in [0, 2**bits)."""
    top = float((1 << bits) - 1)
    if mx == mn:
        return F.lit(0).cast("long")
    scaled = (c.cast("double") - F.lit(mn)) * F.lit(top) / F.lit(mx - mn)
    return F.least(
        F.greatest(F.floor(scaled), F.lit(0)), F.lit(int(top))
    ).cast("long")


def zvalue(x: Column, y: Column, bits: int = Z_BITS) -> Column:
    """Morton interleave of two bucketed dimensions (bit i of ``x`` →
    bit 2i, bit i of ``y`` → bit 2i+1). Pure bitwise column arithmetic
    — whole-stage codegen, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(
                F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            ).bitwiseOR(
                F.shiftleft(
                    F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
                )
            )
        )
    return z


def scan_bounds(
    df: DataFrame, x_col: Column, y_col: Column
) -> dict[str, float]:
    """The 2×2 min/max scalars the bucketing needs — one
    partial-aggregatable scan."""
    row = df.agg(
        F.min(x_col).cast("double").alias("xmn"),
        F.max(x_col).cast("double").alias("xmx"),
        F.min(y_col).cast("double").alias("ymn"),
        F.max(y_col).cast("double").alias("ymx"),
    ).first()
    return {k: float(row[k]) for k in ("xmn", "xmx", "ymn", "ymx")}


def zkey(
    x_col: Column, y_col: Column, bounds: dict, bits: int = Z_BITS
) -> Column:
    """The Morton key under PINNED bucketing bounds. ``_bucket`` clamps
    out-of-range values to the edge buckets, so a layout whose bounds
    were pinned early (the incremental store pins them on the first
    batch) stays CORRECT for later data outside them — only the edge
    files' pruning selectivity degrades."""
    return zvalue(
        _bucket(x_col, bounds["xmn"], bounds["xmx"], bits),
        _bucket(y_col, bounds["ymn"], bounds["ymx"], bits),
        bits,
    )


def zorder_clustered(
    df: DataFrame,
    x_col: Column,
    y_col: Column,
    n_files: int,
    bounds: dict,
    bits: int = Z_BITS,
) -> DataFrame:
    """``df`` range-partitioned into ``n_files`` and sorted on the
    Morton key under pinned ``bounds`` — the shared layout behind
    :func:`write_zordered` and the incremental layout maintenance
    (``streaming/incremental.py::zorder_store``). The z expression is
    recomputed per stage (deterministic), so no helper column reaches
    the written schema."""
    z = zkey(x_col, y_col, bounds, bits)
    return df.repartitionByRange(n_files, z).sortWithinPartitions(z)


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: Column,
    y_col: Column,
    n_files: int,
    bits: int = Z_BITS,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered by the
    Morton key of ``(x_col, y_col)`` (numeric column expressions),
    bucketing under the frame's own min/max."""
    zorder_clustered(
        df, x_col, y_col, n_files, scan_bounds(df, x_col, y_col), bits
    ).write.mode("overwrite").parquet(path)
