"""Temporal join family: as-of join vs the pandas merge_asof mirror,
range join vs the naive inequality join, hierarchical rollup vs
direct per-resolution aggregation."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_compare_spark.operators.temporal import (
    asof_join,
    point_in_interval_join,
    rollup_timeseries,
)

EPOCH = dt.datetime(2024, 1, 1)


def _ts(s: float) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=s)


def _mk_events(spark, rows, cols=("key", "ts", "eid", "val")):
    return spark.createDataFrame([tuple(r) for r in rows], list(cols))


# deterministic pseudo-random fixture: ~120 left rows, ~80 right rows,
# 3 keys, engineered ts collisions (both right-right and left-right)
def _fixture():
    left, right = [], []
    for i in range(120):
        k = f"k{i % 3}"
        t = (i * 37) % 500 + (i % 7) * 0.25
        left.append((k, _ts(t), 1000 + i, float(i)))
    for j in range(80):
        k = f"k{j % 3}"
        t = (j * 53) % 500 + (j % 5) * 0.25
        right.append((k, _ts(t), 2000 + j, 10.0 + j))
    # duplicate right ts within a key (tiebreak coverage) and a right
    # row exactly at a left ts (equal-ts inclusion coverage)
    right.append(("k0", right[0][1], 9000, 99.0))
    right.append(("k1", left[1][1], 9001, 77.0))
    return left, right


def _pandas_asof(left, right, direction, tol_s):
    lp = pd.DataFrame(left, columns=["key", "ts", "eid", "val"])
    rp = pd.DataFrame(right, columns=["key", "ts", "reid", "rval"])
    lp = lp.sort_values(["ts", "eid"]).reset_index(drop=True)
    # merge_asof keeps the LAST right row among equal ts for backward
    # and the FIRST for forward — sorting by (ts, reid) makes that the
    # max/min tiebreak, matching asof_join's documented contract
    rp = rp.sort_values(["ts", "reid"]).reset_index(drop=True)
    m = pd.merge_asof(
        lp, rp, on="ts", by="key", direction=direction, tolerance=pd.Timedelta(seconds=tol_s)
    )
    return {
        int(r.eid): (None if pd.isna(r.reid) else int(r.reid),
                     None if pd.isna(r.rval) else float(r.rval))
        for r in m.itertuples()
    }


# 3600 s (the entry queries' tolerance) exceeds the fixture's 500 s span
@pytest.mark.parametrize("direction,tol", [("backward", 3600), ("backward", 40)])
def test_asof_matches_merge_asof(spark, direction, tol):
    left, right = _fixture()
    l = _mk_events(spark, left)
    r = _mk_events(spark, right, cols=("key", "ts", "reid", "rval"))
    out = asof_join(
        l, r, on="key", payload=["reid", "rval"], direction=direction,
        tolerance_us=tol * 1_000_000, tiebreak="reid",
    ).collect()
    expect = _pandas_asof(left, right, direction, tol)
    assert len(out) == len(left)
    for row in out:
        er, ev = expect[row.eid]
        assert row.reid == er, (row.eid, direction, tol)
        assert row.rval == ev
        if er is None:
            assert row.ts_r is None


def test_asof_forward_direction_raises(spark):
    # only the backward as-of join has a caller; forward is refused,
    # not silently answered with backward matches
    left, right = _fixture()
    l = _mk_events(spark, left)
    r = _mk_events(spark, right, cols=("key", "ts", "reid", "rval"))
    with pytest.raises(ValueError):
        asof_join(
            l, r, on="key", payload=["reid"], direction="forward", tolerance_us=1, tiebreak="reid"
        )


def test_asof_payload_collision_and_match_ts(spark):
    left, right = _fixture()
    l = _mk_events(spark, left)
    r = _mk_events(spark, right, cols=("key", "ts", "eid", "val"))
    out = asof_join(
        l, r, on="key", payload=["eid", "val"], tolerance_us=3_600_000_000, tiebreak="eid"
    )
    # colliding payload names gain the suffix; matched ts always emitted
    assert {"eid_r", "val_r", "ts_r"} <= set(out.columns)
    got = {row.eid: row for row in out.collect()}
    expect = _pandas_asof(left, right, "backward", 3600)
    rts = {rj: t for _, t, rj, _ in right}
    for eid, (er, _) in expect.items():
        m = got[eid]
        assert m.eid_r == er
        if er is not None:
            assert m.ts_r == rts[er]  # matched ts is the right row's ts
    # spot-check one concrete equal-ts inclusion: right 9001 sits
    # exactly at left eid 1001's ts on k1 and must be eligible backward
    k1_left = got[1001]
    assert k1_left.eid_r is not None


def _pandas_range(points, ivs):
    out = set()
    for ik, s, e, iid in ivs:
        for pk, t, pid, _ in points:
            if pk == ik and s <= t < e:
                out.add((iid, pid))
    return out


def test_point_in_interval_matches_naive(spark):
    left, _ = _fixture()
    ivs = []
    for j in range(40):
        k = f"k{j % 3}"
        s = (j * 29) % 480
        ln = [0, 7, 45, 130][j % 4]  # incl. zero-length (matches nothing)
        ivs.append((k, _ts(s), _ts(s + ln), 500 + j))
    p = _mk_events(spark, left, cols=("key", "ts", "pid", "val"))
    iv = spark.createDataFrame(ivs, ["key", "start_ts", "end_ts", "iv_id"])
    out = point_in_interval_join(
        p, iv, on="key", point_ts="ts", bucket_us=30_000_000
    )
    # point key column is suffixed on collision
    assert "key_p" in out.columns
    got = {(r.iv_id, r.pid) for r in out.collect()}
    assert got == _pandas_range(left, ivs)


def test_point_in_interval_boundary_and_guard(spark):
    p = spark.createDataFrame(
        [("a", _ts(0), 1), ("a", _ts(10), 2), ("a", _ts(9.999999), 3)],
        ["key", "ts", "pid"],
    )
    iv = spark.createDataFrame([("a", _ts(0), _ts(10), 7)], ["key", "start_ts", "end_ts", "iv_id"])
    got = {r.pid for r in point_in_interval_join(p, iv, on="key", bucket_us=1_000_000).collect()}
    assert got == {1, 3}  # start inclusive, end exclusive
    # guard: interval spanning > max_buckets buckets fails loudly
    with pytest.raises(Exception):
        point_in_interval_join(p, iv, on="key", bucket_us=1_000_000, max_buckets=5).collect()


def test_rollup_equals_direct(spark):
    left, _ = _fixture()
    df = _mk_events(spark, left).withColumn(
        "cents", F.floor(F.col("val") * 100 + 0.5).cast("long")
    )
    out = rollup_timeseries(df, "ts", ["key"], ["cents"], resolutions=(60, 300, 900))
    rows = {(r.res_s, r.bucket_start, r.key): (r.n, r.sum_cents) for r in out.collect()}
    for res in (60, 300, 900):
        direct = (
            df.groupBy(
                (F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / (res * 1_000_000)) * res)
                .cast("long").alias("b"),
                "key",
            )
            .agg(F.count("*").alias("n"), F.sum("cents").alias("s"))
            .collect()
        )
        dd = {(res, r.b, r.key): (r.n, r.s) for r in direct}
        assert {k: v for k, v in rows.items() if k[0] == res} == dd


def test_rollup_validates_resolutions(spark):
    df = _mk_events(spark, _fixture()[0])
    with pytest.raises(ValueError):
        rollup_timeseries(df, "ts", [], ["val"], resolutions=(60, 90))


def test_asof_null_right_ts_never_matches(spark):
    """Regression (review finding): a NULL-ts right row sorts FIRST
    ascending and would carry-forward into every left row with no
    real predecessor — it must be dropped, not matched."""
    l = _mk_events(spark, [("a", _ts(5), 1, 0.0)])
    r = _mk_events(
        spark,
        [("a", None, 900, 99.0), ("a", _ts(3), 901, 1.0)],
        cols=("key", "ts", "reid", "rval"),
    )
    out = {x.eid: (x.reid, x.rval) for x in asof_join(
        l, r, on="key", payload=["reid", "rval"], tolerance_us=3_600_000_000, tiebreak="reid"
    ).collect()}
    assert out == {1: (901, 1.0)}
    # with the only right row NULL-ts: no match at all
    r2 = spark.createDataFrame(
        [("a", None, 900, 99.0)],
        "key string, ts timestamp, reid long, rval double",
    )
    out2 = asof_join(
        l, r2, on="key", payload=["reid", "rval"], tolerance_us=3_600_000_000, tiebreak="reid"
    ).collect()
    assert out2[0].reid is None and out2[0].rval is None and out2[0].ts_r is None


def test_interval_overlap_matches_naive(spark):
    """interval x interval overlap == the naive quadratic join,
    emitted exactly once per pair (multi-bucket meetings filtered by
    the overlap-start canonical bucket, no distinct)."""
    from ocr_compare_spark.operators.temporal import interval_overlap_join

    lv, rv = [], []
    for j in range(30):
        k = f"k{j % 3}"
        s = (j * 31) % 400
        lv.append((k, _ts(s), _ts(s + [5, 40, 95][j % 3]), 100 + j))
    for j in range(25):
        k = f"k{j % 3}"
        s = (j * 47) % 400
        rv.append((k, _ts(s), _ts(s + [9, 70, 0][j % 3]), 700 + j))
    L = spark.createDataFrame(lv, ["key", "start_ts", "end_ts", "lid"])
    R = spark.createDataFrame(rv, ["key", "start_ts", "end_ts", "rid"])
    out = interval_overlap_join(L, R, on="key", bucket_us=20_000_000)
    assert "key_r" in out.columns and "start_ts_r" in out.columns
    got = {(r.lid, r.rid): r.overlap_us for r in out.collect()}
    want = {}
    for lk, ls, le, lid in lv:
        for rk, rs, re_, rid in rv:
            # empty intervals ([s, s)) intersect nothing
            if lk == rk and ls < le and rs < re_ and ls < re_ and rs < le:
                want[(lid, rid)] = int(
                    (min(le, re_) - max(ls, rs)).total_seconds() * 1e6
                )
    assert got == want and want  # non-trivial


# ---------------------------------------------------------------- funnel


def _funnel_fixture():
    # 6 users, engineered coverage: full completion inside the window,
    # completion only OUTSIDE the window, step-2 stall, equal-ts tie
    # (step-2 event at exactly the step-1 ts must NOT match — strictly
    # after), repeated step events (earliest-after-earliest), and a
    # user with no step-1 event at all (absent from output)
    rows = []

    def ev(u, s, typ, eid):
        rows.append((u, _ts(s), typ, eid))

    # u1: A@10 B@20 C@30 — full funnel, window 100
    ev(1, 10, "A", 1), ev(1, 20, "B", 2), ev(1, 30, "C", 3)
    # u2: A@10 B@200 — B outside window(100) => step 1 only
    ev(2, 10, "A", 4), ev(2, 200, "B", 5)
    # u3: A@10 B@5 (before A) B@50 C@40 (before B-match) C@90
    ev(3, 10, "A", 6), ev(3, 5, "B", 7), ev(3, 50, "B", 8)
    ev(3, 40, "C", 9), ev(3, 90, "C", 10)
    # u4: B@10 C@20, no A => not in funnel
    ev(4, 10, "B", 11), ev(4, 20, "C", 12)
    # u5: A@10, B@10 (equal ts — strictly-after excludes), B@15, C@15
    # (equal to B-match — excluded), C@16
    ev(5, 10, "A", 13), ev(5, 10, "B", 14), ev(5, 15, "B", 15)
    ev(5, 15, "C", 16), ev(5, 16, "C", 17)
    # u6: A@90 A@10 (earliest anchor = 10) B@105 (within 100 of 10) C@111
    ev(6, 90, "A", 18), ev(6, 10, "A", 19), ev(6, 105, "B", 20)
    ev(6, 111, "C", 21)
    return rows


def _py_funnel(rows, steps, window_s):
    by_user = {}
    for u, ts, typ, _ in rows:
        by_user.setdefault(u, []).append((ts, typ))
    out = {}
    for u, evs in by_user.items():
        t = [None] * len(steps)
        firsts = [e[0] for e in evs if e[1] == steps[0]]
        if not firsts:
            continue
        t[0] = min(firsts)
        for k in range(1, len(steps)):
            cand = [
                e[0]
                for e in evs
                if e[1] == steps[k]
                and e[0] > t[k - 1]
                and (e[0] - t[0]).total_seconds() <= window_s
            ]
            if not cand:
                break
            t[k] = min(cand)
        out[u] = (sum(1 for x in t if x is not None), tuple(t))
    return out


# 43200 s (the entry queries' 12 h window) spans the whole fixture
@pytest.mark.parametrize("window_s", [43_200, 100])
def test_funnel_matches_mirror(spark, window_s):
    from ocr_compare_spark.operators.temporal import funnel

    rows = _funnel_fixture()
    df = _mk_events(spark, rows, cols=("user_id", "ts", "event_type", "eid"))
    got = funnel(
        df,
        ["A", "B", "C"],
        on="user_id",
        window_us=window_s * 1_000_000,
    ).collect()
    exp = _py_funnel(rows, ["A", "B", "C"], window_s)
    assert {r.user_id for r in got} == set(exp)
    for r in got:
        er, ets = exp[r.user_id]
        assert r.step_reached == er, (r.user_id, window_s)
        assert (r.ts_1, r.ts_2, r.ts_3) == ets, (r.user_id, window_s)


def test_funnel_layout_invariant(spark):
    from ocr_compare_spark.operators.temporal import funnel

    rows = _funnel_fixture()
    df = _mk_events(spark, rows, cols=("user_id", "ts", "event_type", "eid"))
    a = sorted(map(tuple, funnel(df, ["A", "B", "C"], window_us=10**8).collect()))
    b = sorted(
        map(
            tuple,
            funnel(
                df.repartition(7, "eid"), ["A", "B", "C"], window_us=10**8
            ).collect(),
        )
    )
    assert a == b


def test_funnel_validates_steps(spark):
    from ocr_compare_spark.operators.temporal import funnel

    df = _mk_events(spark, [(1, _ts(0), "A", 1)], cols=("user_id", "ts", "event_type", "eid"))
    with pytest.raises(ValueError):
        funnel(df, ["A"], window_us=10**8)


# ------------------------------------------------------------- retention


def test_retention_matches_mirror(spark):
    from ocr_compare_spark.operators.temporal import retention_cohorts

    # users acquired across 3 days; activity = 'buy' events only;
    # one user whose first event is NOT a buy (cohort from any event,
    # activity filtered); one user never buying (no cells at all)
    rows = []
    day = 86400.0

    def ev(u, s, typ, eid):
        rows.append((u, _ts(s), typ, eid))

    ev(1, 0.5 * day, "view", 1), ev(1, 0.6 * day, "buy", 2)
    ev(1, 2.1 * day, "buy", 3), ev(1, 2.2 * day, "buy", 4)  # dup-day distinct
    ev(2, 1.9 * day, "buy", 5), ev(2, 4.0 * day, "buy", 6)
    ev(3, 0.1 * day, "view", 7), ev(3, 3.5 * day, "view", 8)  # never buys
    df = _mk_events(spark, rows, cols=("user_id", "ts", "event_type", "eid"))

    got = retention_cohorts(
        df, activity_filter=F.col("event_type") == "buy"
    ).collect()
    # mirror (absolute epoch seconds; EPOCH = 2024-01-01 UTC is
    # day-aligned so the bucket grid matches Spark's)
    epoch_s = int(EPOCH.replace(tzinfo=dt.timezone.utc).timestamp())
    assert epoch_s % 86400 == 0
    first = {}
    for u, ts, _, _ in rows:
        first[u] = min(first.get(u, ts), ts)
    cells = set()
    for u, ts, typ, _ in rows:
        if typ != "buy":
            continue
        co = epoch_s + int((first[u] - EPOCH).total_seconds() // 86400) * 86400
        ab = epoch_s + int((ts - EPOCH).total_seconds() // 86400) * 86400
        cells.add((u, co, (ab - co) // 86400))
    exp = {}
    for _, co, off in cells:
        exp[(co, off)] = exp.get((co, off), 0) + 1
    assert {(r.cohort_start, r.offset_n): r.n_keys for r in got} == exp

    # membership-level view agrees with the counted view
    users = retention_cohorts(
        df, activity_filter=F.col("event_type") == "buy", return_users=True
    ).collect()
    assert {(r.user_id, r.cohort_start, r.offset_n) for r in users} == cells


# ----------------------------------------------------------- transitions


def test_transitions_matches_mirror(spark):
    from ocr_compare_spark.operators.temporal import transitions

    # includes an equal-ts pair (tiebreak decides adjacency) and a
    # single-event user (contributes nothing)
    rows = [
        (1, _ts(10), "A", 1),
        (1, _ts(20), "B", 2),
        (1, _ts(20), "C", 3),  # equal ts: order (B,2) -> (C,3)
        (1, _ts(30), "A", 4),
        (2, _ts(5), "B", 5),
        (2, _ts(8), "B", 6),
        (3, _ts(1), "C", 7),  # lone event
    ]
    df = _mk_events(spark, rows, cols=("user_id", "ts", "event_type", "eid"))
    got = {
        (r.from_step, r.to_step): (r.n, r.sum_gap_us)
        for r in transitions(df, tiebreak="eid").collect()
    }
    by_user = {}
    for u, ts, typ, eid in rows:
        by_user.setdefault(u, []).append((ts, eid, typ))
    exp = {}
    for evs in by_user.values():
        evs.sort()
        for (t0, _, a), (t1, _, b) in zip(evs, evs[1:]):
            n, g = exp.get((a, b), (0, 0))
            exp[(a, b)] = (n + 1, g + int((t1 - t0).total_seconds() * 1_000_000))
    assert got == exp

    # layout invariance under the total order
    got2 = {
        (r.from_step, r.to_step): (r.n, r.sum_gap_us)
        for r in transitions(df.repartition(5, "eid"), tiebreak="eid").collect()
    }
    assert got2 == exp


def test_transitions_null_ts_dropped(spark):
    from ocr_compare_spark.operators.temporal import transitions

    rows = [
        (1, _ts(10), "A", 1),
        (1, None, "X", 2),  # no position in the order — dropped
        (1, _ts(20), "B", 3),
    ]
    df = _mk_events(spark, rows, cols=("user_id", "ts", "event_type", "eid"))
    got = {
        (r.from_step, r.to_step): (r.n, r.sum_gap_us)
        for r in transitions(df, tiebreak="eid").collect()
    }
    assert got == {("A", "B"): (1, 10_000_000)}


def test_retention_mixed_grids_and_null_ts(spark):
    from ocr_compare_spark.operators.temporal import retention_cohorts

    # hourly cohorts, daily activity: a user acquired at 05:00 whose
    # same-day activity must land at offset 0 (not -1), next-day at 1;
    # a NULL-ts activity row is dropped
    rows = [
        (1, _ts(5 * 3600), "buy", 1),
        (1, _ts(20 * 3600), "buy", 2),      # same day -> offset 0 (dup cell)
        (1, _ts(86400 + 3600), "buy", 3),   # next day -> offset 1
        (2, None, "buy", 4),                # NULL ts only -> no cohort, no cells
    ]
    df = _mk_events(spark, rows, cols=("user_id", "ts", "event_type", "eid"))
    got = {
        (r.cohort_start, r.offset_n): r.n_keys
        for r in retention_cohorts(
            df, cohort_bucket_s=3600, activity_bucket_s=86400,
            activity_filter=F.col("event_type") == "buy",
        ).collect()
    }
    epoch_s = int(EPOCH.replace(tzinfo=dt.timezone.utc).timestamp())
    co = epoch_s + 5 * 3600
    assert got == {(co, 0): 1, (co, 1): 1}
