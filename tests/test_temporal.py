"""As-of and bounded-range joins: Python recompute over the events
table plus the plan-shape guarantees the operators exist to provide
(no cartesian/range explosion, single keyed shuffle for as-of)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from mevi_spark.operators.temporal import asof_join, range_join_binned
from mevi_spark.plans.plan_facts import plan_facts
from mevi_spark.plans.temporal_ops import (
    _HOUR_US,
    events_asof_attribution,
    events_range_pairs,
)

SF = "/root/testdata/sf0.001"


def _events(sf):
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["ts_us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    return ev


def test_asof_matches_pandas_merge_asof(spark):
    ev = _events(SF)
    clicks = ev[ev.event_type == "click"].sort_values("ts_us")
    purchases = ev[ev.event_type == "purchase"].sort_values("ts_us")
    want = pd.merge_asof(
        clicks[["event_id", "user_id", "ts_us"]],
        purchases[["user_id", "ts_us", "value"]].rename(
            columns={"ts_us": "pts", "value": "pval"}
        ),
        left_on="ts_us",
        right_on="pts",
        by="user_id",
        direction="backward",
    )
    got = {r.event_id: r for r in events_asof_attribution(spark, SF).collect()}
    assert len(got) == len(clicks)
    for w in want.itertuples():
        g = got[w.event_id]
        if pd.isna(w.pval):
            assert g.purchase_value_asof is None and g.ts_us_asof is None
        else:
            assert g.ts_us_asof == int(w.pts)
            assert abs(g.purchase_value_asof - round(w.pval, 6)) < 1e-9


def test_range_pairs_match_python_recompute(spark):
    ev = _events(SF)
    views = ev[ev.event_type == "view"]
    purchases = ev[ev.event_type == "purchase"]
    want = set()
    for v in views.itertuples():
        for p in purchases[purchases.user_id == v.user_id].itertuples():
            if v.ts_us < p.ts_us <= v.ts_us + _HOUR_US:
                want.add((v.user_id, v.event_id, p.event_id, p.ts_us - v.ts_us))
    got = {
        (r.user_id, r.view_id, r.purchase_id, r.gap_us)
        for r in events_range_pairs(spark, SF).collect()
    }
    assert got == want


def test_temporal_plan_shapes(spark):
    """The reason these operators exist: the as-of is ONE keyed shuffle
    (no join node at all), and the range join is an equi-join — no
    cartesian product, no broadcast-nested-loop."""
    # union+window, not a join
    assert not plan_facts(events_asof_attribution(spark, SF)).joins
    range_joins = plan_facts(events_range_pairs(spark, SF)).joins
    assert range_joins
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in range_joins


def test_asof_tolerance_and_tiebreak(spark):
    rows_l = [(1, 100, "a"), (1, 205, "b"), (2, 50, "c")]
    rows_r = [(1, 100, 10.0, 7), (1, 100, 20.0, 9), (1, 110, 30.0, 1)]
    left = spark.createDataFrame(rows_l, "k long, t long, tag string")
    right = spark.createDataFrame(rows_r, "k long, t long, v double, rid long")
    out = {
        r.tag: r
        for r in asof_join(
            left,
            right,
            on=["k"],
            left_time="t",
            right_time="t",
            right_vals=["v"],
            right_tiebreak="rid",
            tolerance_us=100,
        ).collect()
    }
    # equal-time rows match; among the two t=100 rows the max rid wins
    assert out["a"].v_asof == 20.0 and out["a"].t_asof == 100
    # t=205: latest right is t=110 (within tolerance 100? 205-100=105 <= 110 yes)
    assert out["b"].v_asof == 30.0 and out["b"].t_asof == 110
    # no right rows for k=2
    assert out["c"].v_asof is None and out["c"].t_asof is None


def test_hypertable_rollup_matches_pandas(spark):
    from mevi_spark.plans.temporal_ops import (
        _DAY_US,
        _MIN_US,
        events_hypertable_rollup,
    )

    ev = _events(SF)
    want = {}
    for res, width in (("1m", _MIN_US), ("1h", _HOUR_US), ("1d", _DAY_US)):
        grp = ev.assign(bucket=ev.ts_us // width * width).groupby(
            ["bucket", "event_type"]
        )["value"]
        for (bucket, etype), vals in grp:
            # scaled-long accumulation: round each value at 6 decimals
            s = sum(int(abs(v) * 1e6 + 0.5) * (1 if v >= 0 else -1) for v in vals)
            want[(res, int(bucket), etype)] = (len(vals), round(s / 1e6, 6))

    got = {
        (r.resolution, r.bucket_us, r.event_type): (r.n_events, r.sum_value)
        for r in events_hypertable_rollup(spark, SF).collect()
    }
    assert got == want


def test_hypertable_rollup_is_single_scan(spark):
    """The rollup's point: one scan + one Expand feeds all three
    resolutions — not three scans unioned."""
    from mevi_spark.plans.temporal_ops import events_hypertable_rollup

    facts = plan_facts(events_hypertable_rollup(spark, SF))
    assert len(facts.scans) == 1
    assert facts.nodes["Expand"] >= 1


def test_funnel_stages_match_python(spark):
    from mevi_spark.plans.temporal_ops import events_funnel_stages

    ev = _events(SF)
    want = {}
    for uid, grp in ev.groupby("user_id"):
        views = sorted(grp[grp.event_type == "view"].ts_us)
        t_view = views[0] if views else None
        t_click = t_purchase = None
        if t_view is not None:
            clicks = sorted(
                t for t in grp[grp.event_type == "click"].ts_us if t > t_view
            )
            t_click = clicks[0] if clicks else None
        if t_click is not None:
            buys = sorted(
                t for t in grp[grp.event_type == "purchase"].ts_us if t > t_click
            )
            t_purchase = buys[0] if buys else None
        stage = 3 if t_purchase else 2 if t_click else 1 if t_view else 0
        want[uid] = (stage, t_view, t_click, t_purchase)

    got = {
        r.user_id: (r.stage, r.t_view, r.t_click, r.t_purchase)
        for r in events_funnel_stages(spark, SF).collect()
    }
    assert got == want


def test_cohort_retention_matches_python(spark):
    from mevi_spark.plans.temporal_ops import _WEEK_US, events_cohort_retention

    ev = _events(SF)
    first = ev.groupby("user_id").ts_us.min() // _WEEK_US
    want = {}
    for r in ev.itertuples():
        cohort = int(first[r.user_id])
        offset = int(r.ts_us // _WEEK_US - cohort)
        want.setdefault((cohort, offset), set()).add(r.user_id)
    want = {k: len(v) for k, v in want.items()}

    got = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in events_cohort_retention(spark, SF).collect()
    }
    assert got == want


def test_asof_ignores_null_right_times(spark):
    """A right row with a NULL time must not produce a phantom match
    (review finding: it sorted first in the window and leaked its value
    into left rows that have no true predecessor)."""
    left = spark.createDataFrame([(1, 100, "a")], "k long, t long, tag string")
    right = spark.createDataFrame(
        [(1, None, 42.0, 1), (1, 90, 7.0, 2)],
        "k long, t long, v double, rid long",
    )
    out = asof_join(
        left, right, on=["k"], left_time="t", right_time="t",
        right_vals=["v"], right_tiebreak="rid",
    ).collect()
    assert len(out) == 1 and out[0].v_asof == 7.0 and out[0].t_asof == 90

    # with ONLY a null-time right row: no match at all
    right2 = spark.createDataFrame(
        [(1, None, 42.0, 1)], "k long, t long, v double, rid long"
    )
    out2 = asof_join(
        left, right2, on=["k"], left_time="t", right_time="t",
        right_vals=["v"],
    ).collect()
    assert len(out2) == 1 and out2[0].v_asof is None and out2[0].t_asof is None


def test_asof_null_value_in_matched_row_rides_along(spark):
    """ADVICE r7 (medium): when the matched right row carries a NULL in
    a value column, that NULL must come back with the match — per-value
    last(ignorenulls) skipped it and fell through to an OLDER right
    row's value while the matched time reported the newer row. DuckDB
    ASOF and pandas merge_asof both return (NULL, 90) here."""
    left = spark.createDataFrame([(1, 100)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 50, 7.0), (1, 90, None)], "k long, t long, v double"
    )
    out = asof_join(
        left, right, on=["k"], left_time="t", right_time="t",
        right_vals=["v"],
    ).collect()
    assert len(out) == 1
    assert out[0].t_asof == 90 and out[0].v_asof is None


from hypothesis import HealthCheck, given, settings, strategies as st

_row = st.tuples(
    st.integers(min_value=0, max_value=3),      # key
    st.integers(min_value=0, max_value=400),    # time
    st.integers(min_value=0, max_value=99),     # payload
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(_row, min_size=1, max_size=10),
    st.lists(_row, min_size=0, max_size=10, unique_by=lambda r: (r[0], r[1])),
)
def test_asof_join_matches_brute_force(spark, lrows, rrows):
    """asof_join == per-row brute force: the max-time right row with
    time <= left time per key (right (key, time) unique, so tie rules
    don't enter)."""
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t, _) in enumerate(lrows)],
        "k long, t long, lid long",
    )
    schema = "k long, t long, v long"
    right = (
        spark.createDataFrame([(k, t, v) for k, t, v in rrows], schema)
        if rrows else spark.createDataFrame([], schema)
    )
    got = {
        r.lid: (r.v_asof, r.t_asof)
        for r in asof_join(
            left, right, on=["k"], left_time="t", right_time="t",
            right_vals=["v"],
        ).collect()
    }
    for i, (k, t, _) in enumerate(lrows):
        cands = [(rt, v) for rk, rt, v in rrows if rk == k and rt <= t]
        want = max(cands) if cands else None
        if want is None:
            assert got[i] == (None, None)
        else:
            assert got[i] == (want[1], want[0])


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(_row, min_size=1, max_size=8),
    st.lists(_row, min_size=0, max_size=8),
    st.integers(min_value=-200, max_value=100),  # lower (may be negative)
    st.integers(min_value=1, max_value=300),     # width
)
def test_range_join_matches_brute_force(spark, lrows, rrows, lower, width):
    """range_join_binned == brute-force interval check, including
    negative lower bounds (windows reaching back in time) — the bin
    arithmetic a fixed dataset never stresses."""
    upper = lower + width
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t, _) in enumerate(lrows)],
        "k long, lt long, lid long",
    )
    schema = "k long, rt long, rid long"
    right = (
        spark.createDataFrame(
            [(k, t, 1000 + j) for j, (k, t, _) in enumerate(rrows)], schema
        )
        if rrows else spark.createDataFrame([], schema)
    )
    got = {
        (r.lid, r.rid)
        for r in range_join_binned(
            left, right, on=["k"], left_time="lt", right_time="rt",
            lower_us=lower, upper_us=upper,
        ).collect()
    }
    want = {
        (i, 1000 + j)
        for i, (lk, lt, _) in enumerate(lrows)
        for j, (rk, rt, _) in enumerate(rrows)
        if lk == rk and lt + lower <= rt <= lt + upper
    }
    assert got == want


def test_rolling_stats_match_python(spark):
    from mevi_spark.plans.temporal_ops import events_rolling_stats

    ev = _events(SF)
    got = {
        r.event_id: (r.n_1h, r.sum_1h)
        for r in events_rolling_stats(spark, SF).collect()
    }
    assert len(got) == len(ev)
    for uid, grp in ev.groupby("user_id"):
        rows = list(grp.itertuples())
        for r in rows:
            in_frame = [
                x for x in rows if r.ts_us - _HOUR_US <= x.ts_us <= r.ts_us
            ]
            s = sum(
                int(abs(x.value) * 1e6 + 0.5) * (1 if x.value >= 0 else -1)
                for x in in_frame
            )
            assert got[r.event_id] == (len(in_frame), round(s / 1e6, 6))


def test_type_pivot_matches_python(spark):
    from mevi_spark.plans.temporal_ops import events_type_pivot

    ev = _events(SF)
    got = {r.user_id: r.asDict() for r in events_type_pivot(spark, SF).collect()}
    assert set(got) == set(ev.user_id)
    for uid, grp in ev.groupby("user_id"):
        counts = grp.event_type.value_counts().to_dict()
        row = got[uid]
        for t in ("click", "error", "purchase", "signup", "view"):
            assert row[t] == counts.get(t, 0)
        assert row["total"] == len(grp)


def test_asof_null_keys_never_match(spark):
    """NULL by-keys must behave like equi-join keys (no match), not
    like a window partition (where all NULL keys group together): a
    NULL-key left row comes back unmatched, and a NULL-key right row
    matches nothing (round-8 review finding)."""
    from mevi_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(None, 100), (1, 100)], "k long, t long"
    )
    right = spark.createDataFrame(
        [(None, 50, 7.0), (1, 50, 9.0)], "k long, t long, v double"
    )
    got = {
        (r.k, r.t): (r.v_asof, r.t_asof)
        for r in asof_join(left, right, ["k"], "t", "t", ["v"]).collect()
    }
    assert got[(1, 100)] == (9.0, 50)
    assert got[(None, 100)] == (None, None)
