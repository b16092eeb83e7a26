"""CDC merge semantics on a hand-built fixture: latest version wins,
delete beats upsert at equal version, inserts appear, untouched rows
survive — plus the one-shuffle plan property."""

from __future__ import annotations

from pyspark.sql import functions as F

from mevi_spark.plans.plan_facts import plan_facts
from mevi_spark.sources.upsert import apply_changes


def _merge(spark, changes_rows):
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, val string"
    )
    changes = spark.createDataFrame(
        changes_rows, "k long, val string, _op string, _version long"
    )
    out = apply_changes(base, changes, ["k"])
    return {r.k: r.val for r in out.collect()}


def test_upsert_update_delete_insert(spark):
    got = _merge(
        spark,
        [
            (1, "a2", "U", 2),   # update
            (2, None, "D", 2),   # delete
            (9, "new", "U", 2),  # insert
        ],
    )
    assert got == {1: "a2", 3: "c", 9: "new"}


def test_latest_version_wins_and_delete_breaks_ties(spark):
    got = _merge(
        spark,
        [
            (1, "v1", "U", 1),
            (1, "v5", "U", 5),
            (1, "v3", "U", 3),
            (2, "touch", "U", 2),
            (2, None, "D", 2),   # same version as the update: delete wins
        ],
    )
    assert got == {1: "v5", 3: "c"}


def test_delete_then_reinsert_at_higher_version(spark):
    got = _merge(spark, [(3, None, "D", 2), (3, "back", "U", 4)])
    assert got == {1: "a", 2: "b", 3: "back"}


def test_merge_plan_is_single_keyed_shuffle(spark):
    base = spark.range(100).select(
        F.col("id").alias("k"), F.lit("x").alias("val")
    )
    changes = spark.range(10).select(
        F.col("id").alias("k"),
        F.lit("y").alias("val"),
        F.lit("U").alias("_op"),
        F.lit(2).cast("long").alias("_version"),
    )
    facts = plan_facts(apply_changes(base, changes, ["k"]))
    assert [s.partitioning for s in facts.shuffles] == ["HashPartitioning"]
    assert not {"SortMergeJoin", "CartesianProduct"} & set(facts.joins)


from hypothesis import HealthCheck, given, settings, strategies as st

_change = st.tuples(
    st.integers(min_value=0, max_value=6),          # key
    st.integers(min_value=1, max_value=4),          # version
    st.sampled_from(["U", "D"]),                    # op
    st.integers(min_value=0, max_value=99),         # payload
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_change, max_size=12, unique_by=lambda c: (c[0], c[1], c[2])))
def test_merge_agrees_with_dict_replay(spark, changes):
    """apply_changes (max-version-wins with delete beating upsert at
    the max) must equal a sequential dict replay in version order with
    upserts applied before deletes within each version (so the
    co-versioned delete wins there too) — two independent formulations
    of the same CDC semantics."""
    base_keys = {0: "b0", 1: "b1", 2: "b2"}
    state = dict(base_keys)
    # replay in version order; within a version apply upserts first so
    # the co-versioned delete wins, matching the operator's tie rule
    for v in sorted({c[1] for c in changes}):
        for k, ver, op, payload in changes:
            if ver == v and op == "U":
                state[k] = f"p{payload}"
        for k, ver, op, _ in changes:
            if ver == v and op == "D":
                state.pop(k, None)
    base = spark.createDataFrame(
        [(k, val) for k, val in base_keys.items()], "k long, val string"
    )
    schema = "k long, val string, _op string, _version long"
    ch = spark.createDataFrame(
        [(k, f"p{p}", op, v) for k, v, op, p in changes], schema
    ) if changes else spark.createDataFrame([], schema)
    got = {r.k: r.val for r in apply_changes(base, ch, ["k"]).collect()}
    assert got == state


def test_versioned_merge_is_replay_idempotent(spark):
    """The streaming contract: re-applying an already-absorbed batch to
    a version-retaining state reproduces the identical state (a crashed
    micro-batch replays against the post-publish table only if the
    publish happened but the offset commit did not — rare but real)."""
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0)], "k long, val string, _version long"
    )
    batch = spark.createDataFrame(
        [(1, "a2", "U", 2), (2, None, "D", 2), (3, "c", "U", 2)],
        "k long, val string, _op string, _version long",
    )

    def merge(cur):
        return apply_changes(
            cur, batch, ["k"],
            base_version_col="_version", keep_version=True,
        )

    once = merge(base)
    twice = merge(once)
    want = {(1, "a2", 2), (3, "c", 2)}
    assert {(r.k, r.val, r._version) for r in once.collect()} == want
    assert {(r.k, r.val, r._version) for r in twice.collect()} == want


def test_tombstones_block_late_lower_version_upsert(spark):
    """With keep_deletes=True a delete winner persists as a tombstone,
    so a LATER batch carrying a lower-version upsert for the deleted
    key loses to it — the cross-batch ordering hazard ADVICE r7 flagged
    (without tombstones, batch order alone decides and the key would
    silently resurrect)."""
    base = spark.createDataFrame(
        [(1, "a", 0, "U"), (2, "b", 0, "U")],
        "k long, val string, _version long, _op string",
    )
    b1 = spark.createDataFrame(
        [(1, None, "D", 5)], "k long, val string, _op string, _version long"
    )
    b2 = spark.createDataFrame(
        [(1, "late", "U", 3)], "k long, val string, _op string, _version long"
    )

    def merge(cur, batch):
        return apply_changes(
            cur, batch, ["k"],
            base_version_col="_version", keep_version=True,
            keep_deletes=True, base_op_col="_op",
        )

    state = merge(merge(base, b1), b2)
    rows = {(r.k, r.val, r._version, r._op) for r in state.collect()}
    # key 1 stays a tombstone at v5; the v3 upsert did not resurrect it
    assert rows == {(1, None, 5, "D"), (2, "b", 0, "U")}
    live = {r.k for r in state.filter(F.col("_op") != "D").collect()}
    assert live == {2}


def test_merge_into_partitioned_prunes_and_rewrites_only_touched(spark):
    """The partition-pruned MERGE: (a) content equals a full-table
    merge, (b) untouched partition directories are byte-identical
    across the call, (c) the pruned base scan plans PartitionFilters
    (the files of untouched partitions are never opened)."""
    import os
    import tempfile

    from mevi_spark.sources.upsert import merge_into_partitioned

    base_rows = [(k, f"v{k}", k % 4) for k in range(40)]
    base = spark.createDataFrame(base_rows, "k long, val string, p int")
    path = tempfile.mkdtemp(prefix="mevi_test_cdcpart_") + "/t"
    base.repartition(2).write.partitionBy("p").parquet(path)

    def files(parts):
        out = {}
        for root, _d, fs in os.walk(path):
            if os.path.basename(root) in parts:
                for f in fs:
                    if not f.startswith(("_", ".")) and not f.endswith(".crc"):
                        st = os.stat(os.path.join(root, f))
                        out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
        return out

    untouched_before = files({"p=2", "p=3"})
    changes = spark.createDataFrame(
        [(0, "new0", 0, "U", 2), (1, None, 1, "D", 2), (100, "ins", 0, "U", 2)],
        "k long, val string, p int, _op string, _version long",
    )
    touched = merge_into_partitioned(spark, path, changes, ["k"], "p")
    assert sorted(touched) == [0, 1]
    assert files({"p=2", "p=3"}) == untouched_before
    got = {(r.k, r.val, r.p) for r in spark.read.parquet(path).collect()}
    want = {
        (k, "new0" if k == 0 else f"v{k}", k % 4)
        for k in range(40) if k != 1
    } | {(100, "ins", 0)}
    assert got == want
    # the pruned scan carries partition filters (physical-plan property)
    pruned = spark.read.parquet(path).filter(F.col("p").isin([0, 1]))
    (scan,) = plan_facts(pruned).scans
    assert scan.partition_filters and scan.partitions == 2

    import shutil

    shutil.rmtree(os.path.dirname(path), ignore_errors=True)


# ---------------------------------------------------------------------------
# time travel (snapshot_asof)


def _log_df(spark, rows):
    schema = "k long, val string, _op string, _version long"
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(rows, schema)


def test_snapshot_asof_basics(spark):
    from mevi_spark.sources.upsert import snapshot_asof

    log = _log_df(
        spark,
        [
            (1, "a", "U", 1),
            (2, "b", "U", 1),
            (1, "a2", "U", 2),
            (2, None, "D", 3),
            (3, "c", "U", 4),
        ],
    )
    snap = lambda v: {  # noqa: E731
        r.k: r.val for r in snapshot_asof(log, ["k"], v).collect()
    }
    assert snap(1) == {1: "a", 2: "b"}
    assert snap(2) == {1: "a2", 2: "b"}
    assert snap(3) == {1: "a2"}          # delete visible at 3
    assert snap(4) == {1: "a2", 3: "c"}  # insert visible at 4
    assert snap(0) == {}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_change, max_size=12, unique_by=lambda c: (c[0], c[1], c[2])))
def test_snapshot_asof_checkpoint_equals_full_replay(spark, changes):
    """snapshot_asof served through a retained-tombstone CHECKPOINT at
    version C must equal both the full-log replay and a sequential
    dict replay truncated at the as-of version — for every (C, as-of)
    cut of the log. The checkpoint path is what a 100 TB reader runs;
    the full replay is its definition."""
    from mevi_spark.sources.upsert import apply_changes, snapshot_asof

    log_rows = [(k, f"b{k}", "U", 0) for k in (0, 1, 2)] + [
        (k, f"p{p}", "U" if op == "U" else "D", v) for k, v, op, p in changes
    ]
    log = _log_df(spark, log_rows)
    empty = spark.createDataFrame([], "k long, val string")
    for asof in (2, 4):
        state: dict[int, str] = {}
        for v in sorted({r[3] for r in log_rows}):
            if v > asof:
                continue
            for k, val, op, ver in log_rows:
                if ver == v and op == "U":
                    state[k] = val
            for k, _val, op, ver in log_rows:
                if ver == v and op == "D":
                    state.pop(k, None)
        full = {
            r.k: r.val for r in snapshot_asof(log, ["k"], asof).collect()
        }
        assert full == state, f"full replay at asof={asof}"
        for c in (0, 2):
            if c > asof:
                continue
            ckpt = apply_changes(
                empty,
                log.filter(F.col("_version") <= c),
                ["k"],
                keep_version=True,
                keep_deletes=True,
            )
            via_ckpt = {
                r.k: r.val
                for r in snapshot_asof(
                    log.filter(F.col("_version") > c),
                    ["k"],
                    asof,
                    checkpoint=ckpt,
                ).collect()
            }
            assert via_ckpt == state, f"checkpoint C={c} asof={asof}"


def test_partitioned_merge_removes_emptied_partition(spark):
    """A batch deleting EVERY key of a partition must leave that
    partition gone from subsequent reads — dynamic overwrite alone
    never rewrites a partition absent from the merged output (the
    deleted-row-resurrection finding)."""
    import shutil
    import tempfile

    from mevi_spark.sources.upsert import merge_into_partitioned

    base_dir = tempfile.mkdtemp(prefix="mevi_cdcempty_") + "/t"
    try:
        base = spark.createDataFrame(
            [(k, f"v{k}", k % 2) for k in range(8)],
            "k long, val string, p int",
        )
        base.write.partitionBy("p").parquet(base_dir)
        # delete every key of p=1 (odd keys), update one key of p=0
        ch = spark.createDataFrame(
            [(k, f"v{k}", 1, "D", 2) for k in range(8) if k % 2 == 1]
            + [(0, "v0new", 0, "U", 2)],
            "k long, val string, p int, _op string, _version long",
        )
        touched = merge_into_partitioned(spark, base_dir, ch, ["k"], "p")
        assert sorted(touched) == [0, 1]
        got = {
            (r.k, r.val, r.p)
            for r in spark.read.parquet(base_dir).collect()
        }
        assert got == {
            (0, "v0new", 0), (2, "v2", 0), (4, "v4", 0), (6, "v6", 0)
        }
    finally:
        shutil.rmtree(base_dir.rsplit("/", 1)[0], ignore_errors=True)


def test_partitioned_merge_emptied_partition_escaped_string_value(spark):
    """The emptied-partition cleanup must go through Spark's own
    partition-path escaping (ADVICE r8): a string partition value
    containing ':' and '=' lands in a Hive-escaped directory name that
    a hand-built f"{col}={value}" path misses — deleting its every key
    must still remove the directory, not resurrect the rows."""
    import os
    import shutil
    import tempfile

    from mevi_spark.sources.upsert import merge_into_partitioned

    base_dir = tempfile.mkdtemp(prefix="mevi_cdcesc_") + "/t"
    try:
        base = spark.createDataFrame(
            [(1, "a", "x:1=y"), (2, "b", "x:1=y"), (3, "c", "plain")],
            "k long, val string, p string",
        )
        base.write.partitionBy("p").parquet(base_dir)
        escaped = [
            d for d in os.listdir(base_dir) if d.startswith("p=x")
        ]
        assert escaped and "%3A" in escaped[0]  # ':' Hive-escaped
        ch = spark.createDataFrame(
            [(1, None, "x:1=y", "D", 2), (2, None, "x:1=y", "D", 2)],
            "k long, val string, p string, _op string, _version long",
        )
        touched = merge_into_partitioned(spark, base_dir, ch, ["k"], "p")
        assert touched == ["x:1=y"]
        got = {(r.k, r.val, r.p) for r in spark.read.parquet(base_dir).collect()}
        assert got == {(3, "c", "plain")}
        assert not any(d.startswith("p=x") for d in os.listdir(base_dir))
    finally:
        shutil.rmtree(base_dir.rsplit("/", 1)[0], ignore_errors=True)


def test_partitioned_merge_rejects_null_partition_value(spark):
    """NULL partition values cannot be pruned (isin never matches NULL)
    — the contract rejects them loudly instead of silently merging the
    change against nothing."""
    import shutil
    import tempfile

    import pytest

    from mevi_spark.sources.upsert import merge_into_partitioned

    base_dir = tempfile.mkdtemp(prefix="mevi_cdcnull_") + "/t"
    try:
        spark.createDataFrame(
            [(1, "a", 0)], "k long, val string, p int"
        ).write.partitionBy("p").parquet(base_dir)
        ch = spark.createDataFrame(
            [(1, "a2", None, "U", 2)],
            "k long, val string, p int, _op string, _version long",
        )
        with pytest.raises(ValueError, match="NULL p"):
            merge_into_partitioned(spark, base_dir, ch, ["k"], "p")
    finally:
        shutil.rmtree(base_dir.rsplit("/", 1)[0], ignore_errors=True)
