"""Z-order layout: the data-skipping property, proved from parquet
footers — every z-clustered file carries a bounded range in EACH
dimension, so a 2-D box intersects far fewer files than under a
time-sorted layout (where every file spans the full user range)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mevi_spark.functions.time import epoch_us
from mevi_spark.plans.plan_facts import plan_facts
from mevi_spark.sources.io import load_table
from mevi_spark.sources.zorder import write_zordered

SF = "/root/testdata/sf0.01"  # 10k events → meaningful per-file stats
N_FILES = 24


def _file_ranges(path: str, cols: list[str]) -> list[dict]:
    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        rng = {}
        for c in cols:
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            rng[c] = (lo, hi)
        if md.num_rows:
            out.append(rng)
    return out


def _overlap(ranges, col, lo, hi):
    return sum(1 for r in ranges if r[col][0] <= hi and r[col][1] >= lo)


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("zorder"))
    ev = load_table(spark, SF, "events").withColumn(
        "ts_us", epoch_us(load_table(spark, SF, "events"), "ts")
    )
    zpath, tpath = f"{base}/z", f"{base}/t"
    write_zordered(ev, zpath, F.col("user_id"), F.col("ts_us"), N_FILES)
    # the linear comparison layout: range-sorted by time only
    (
        ev.repartitionByRange(N_FILES, "ts_us")
        .sortWithinPartitions("ts_us")
        .write.mode("overwrite")
        .parquet(tpath)
    )
    return spark, ev, zpath, tpath


def test_zorder_bounds_both_dimensions(layouts):
    spark, ev, zpath, tpath = layouts
    zr = _file_ranges(zpath, ["user_id", "ts_us"])
    tr = _file_ranges(tpath, ["user_id", "ts_us"])
    assert len(zr) >= N_FILES // 2 and len(tr) >= N_FILES // 2

    u_lo, u_hi = 40, 70  # ~20% of the user range
    # time layout: every file spans ~the full user range → no skipping
    assert _overlap(tr, "user_id", u_lo, u_hi) == len(tr)
    # z-order: a user-range slice must skip a real fraction of files
    z_hit = _overlap(zr, "user_id", u_lo, u_hi)
    assert z_hit <= 0.7 * len(zr), (z_hit, len(zr))

    # and the time dimension still prunes under z-order (bounded too):
    t_min = min(r["ts_us"][0] for r in zr)
    t_max = max(r["ts_us"][1] for r in zr)
    span = t_max - t_min
    slice_hit = _overlap(zr, "ts_us", t_min, t_min + span // 5)
    assert slice_hit <= 0.7 * len(zr), (slice_hit, len(zr))


def test_zorder_layout_loses_no_rows(layouts):
    spark, ev, zpath, tpath = layouts
    z = spark.read.parquet(zpath)
    assert z.count() == ev.count()
    box = (
        (F.col("user_id").between(40, 70))
        & (F.col("ts_us") >= 1704844800_000000)
        & (F.col("ts_us") < 1705276800_000000)
    )
    assert (
        z.filter(box).count() == ev.filter(box).count()
    )


def test_zorder_scan_pushes_filters(layouts):
    """The read side needs no code: the box predicate must reach the
    parquet scan as PushedFilters (stats consumption is then the
    reader's row-group pruning)."""
    spark, ev, zpath, tpath = layouts
    z = spark.read.parquet(zpath)
    (scan,) = plan_facts(z.filter(F.col("user_id").between(40, 70))).scans
    assert "GreaterThanOrEqual(user_id,40)" in scan.pushed_filters


def test_incremental_zorder_deltas_prune_replay_and_compact(
    spark, tmp_path_factory
):
    """Maintenance twin invariants (replay and the fold itself:
    ``test_streaming_maintenance.py::
    test_partial_store_replay_and_compaction``): (a) bounds pinned by
    batch 0 are not re-derived by batch 1, (b) each delta dir's files
    carry bounded per-dimension ranges (prune-able before any
    compaction), (c) batch 1's rows outside the pinned bounds CLAMP
    into edge buckets — in its delta and through the fold's
    re-cluster — without being lost."""
    from mevi_spark.streaming.incremental import _zorder_bounds, zorder_store

    base = str(tmp_path_factory.mktemp("inc_zorder"))
    ev = load_table(spark, SF, "events").withColumn(
        "ts_us", epoch_us(load_table(spark, SF, "events"), "ts")
    )

    def x_of(df):
        return F.col("user_id")

    def y_of(df):
        return F.col("ts_us")

    # batch 0 pins bounds over HALF the user range; batch 1 exceeds it
    b0 = ev.filter(F.col("user_id") < 75)
    b1 = ev.filter(F.col("user_id") >= 75)
    store = zorder_store(base, x_of, y_of, files_per_batch=12, n_files=12)
    store.write(b0, 0)
    store.write(b1, 1)
    # (a) the sidecar still holds batch 0's bounds
    assert _zorder_bounds(base, b1, x_of, y_of)["xmx"] < 75

    # (b) delta files bound BOTH dimensions: a ~40%-of-range user
    # slice must skip files in the un-compacted delta itself
    zr = _file_ranges(store.live()[0], ["user_id", "ts_us"])
    assert _overlap(zr, "user_id", 40, 70) <= 0.8 * len(zr)

    # (c) out-of-range rows clamped into edge buckets, never dropped
    want = sorted(map(tuple, ev.collect()))

    def state_rows():
        return sorted(map(tuple, store.state(spark).collect()))

    assert state_rows() == want
    assert store.compact(spark) == 2
    assert state_rows() == want
