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


def _pandas_asof(left, right, direction, tol_s=None):
    lp = pd.DataFrame(left, columns=["key", "ts", "eid", "val"])
    rp = pd.DataFrame(right, columns=["key", "ts", "reid", "rval"])
    lp = lp.sort_values(["ts", "eid"]).reset_index(drop=True)
    # merge_asof keeps the LAST right row among equal ts for backward
    # and the FIRST for forward — sorting by (ts, reid) makes that the
    # max/min tiebreak, matching asof_join's documented contract
    rp = rp.sort_values(["ts", "reid"]).reset_index(drop=True)
    kw = {}
    if tol_s is not None:
        kw["tolerance"] = pd.Timedelta(seconds=tol_s)
    m = pd.merge_asof(lp, rp, on="ts", by="key", direction=direction, **kw)
    return {
        int(r.eid): (None if pd.isna(r.reid) else int(r.reid),
                     None if pd.isna(r.rval) else float(r.rval))
        for r in m.itertuples()
    }


@pytest.mark.parametrize("direction,tol", [("backward", None), ("forward", None),
                                           ("backward", 40), ("forward", 40)])
def test_asof_matches_merge_asof(spark, direction, tol):
    left, right = _fixture()
    l = _mk_events(spark, left)
    r = _mk_events(spark, right, cols=("key", "ts", "reid", "rval"))
    out = asof_join(
        l, r, on="key", payload=["reid", "rval"], direction=direction,
        tolerance_us=None if tol is None else tol * 1_000_000, tiebreak="reid",
    ).collect()
    expect = _pandas_asof(left, right, direction, tol)
    assert len(out) == len(left)
    for row in out:
        er, ev = expect[row.eid]
        assert row.reid == er, (row.eid, direction, tol)
        assert row.rval == ev
        if er is None:
            assert row.ts_r is None


def test_asof_payload_collision_and_match_ts(spark):
    left, right = _fixture()
    l = _mk_events(spark, left)
    r = _mk_events(spark, right, cols=("key", "ts", "eid", "val"))
    out = asof_join(l, r, on="key", payload=["eid", "val"], tiebreak="eid")
    # colliding payload names gain the suffix; matched ts always emitted
    assert {"eid_r", "val_r", "ts_r"} <= set(out.columns)
    got = {row.eid: row for row in out.collect()}
    expect = _pandas_asof(left, right, "backward")
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


def test_rollup_stream_equals_batch(spark, tmp_path):
    """Streaming continuous aggregate == batch rollup over the same
    events; a second NEW-files-only run folds increments correctly."""
    from ocr_compare_spark.operators import sketches
    from ocr_compare_spark.operators.temporal import rollup_from_finest, rollup_timeseries
    from ocr_compare_spark.streaming.jobs import rollup_stream

    left, _ = _fixture()
    df = _mk_events(spark, left).withColumn(
        "cents", F.floor(F.col("val") * 100 + 0.5).cast("long")
    )
    inp, tbl, ckpt = str(tmp_path / "in"), str(tmp_path / "tbl"), str(tmp_path / "ck")
    schema = "key string, ts timestamp, eid long, val double, cents long"
    half1 = df.filter(F.col("eid") % 2 == 0)
    half2 = df.filter(F.col("eid") % 2 == 1)
    half1.write.mode("overwrite").parquet(inp)
    rollup_stream(spark, inp, tbl, ckpt, schema, "ts", ["key"], ["cents"], 60).awaitTermination()
    half2.write.mode("append").parquet(inp)
    rollup_stream(spark, inp, tbl, ckpt, schema, "ts", ["key"], ["cents"], 60).awaitTermination()

    finest = sketches.load_sketch(spark, tbl)
    got = {
        (r.res_s, r.bucket_start, r.key): (r.n, r.sum_cents)
        for r in rollup_from_finest(finest, ["key"], ["cents"], (60, 300, 900)).collect()
    }
    want = {
        (r.res_s, r.bucket_start, r.key): (r.n, r.sum_cents)
        for r in rollup_timeseries(df, "ts", ["key"], ["cents"], (60, 300, 900)).collect()
    }
    assert got == want


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
        l, r, on="key", payload=["reid", "rval"], tiebreak="reid"
    ).collect()}
    assert out == {1: (901, 1.0)}
    # with the only right row NULL-ts: no match at all
    r2 = spark.createDataFrame(
        [("a", None, 900, 99.0)],
        "key string, ts timestamp, reid long, rval double",
    )
    out2 = asof_join(l, r2, on="key", payload=["reid", "rval"], tiebreak="reid").collect()
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


def test_asof_log_enrich_stream_equals_batch(spark, tmp_path):
    """Stateful stream-stream as-of over an ordered log == batch
    asof_join, across THREE micro-batches with state carried between
    them (an R in batch 1 must enrich an L in batch 3)."""
    from ocr_compare_spark.streaming.jobs import asof_log_enrich_stream

    rows = []  # one tagged log, per-key event-time ordered
    for i in range(90):
        k = f"k{i % 3}"
        t = i * 10.0
        if i % 4 == 0:
            rows.append((k, _ts(t), "R", None, f"rid{i}", f"v{i}"))
        else:
            rows.append((k, _ts(t), "L", f"e{i}", None, None))
    cols = ["key", "ts", "side", "event_id", "r_id", "r_value"]
    inp = str(tmp_path / "in")
    # three time-ordered files -> three micro-batches
    for j, chunk in enumerate((rows[:30], rows[30:60], rows[60:])):
        spark.createDataFrame(chunk, cols).coalesce(1).write.mode(
            "append" if j else "overwrite"
        ).parquet(inp)
    stream = (
        spark.readStream.schema(
            "key string, ts timestamp, side string, event_id string, "
            "r_id string, r_value string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out_path, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        asof_log_enrich_stream(stream, on="key")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.event_id: (r.r_id, r.r_value)
        for r in spark.read.parquet(out_path).collect()
    }

    df = spark.createDataFrame(rows, cols)
    L = df.filter(F.col("side") == "L").select("key", "ts", "event_id")
    R = df.filter(F.col("side") == "R").select("key", "ts", "r_id", "r_value")
    batch = {
        r.event_id: (r.r_id, r.r_value)
        for r in asof_join(L, R, on="key", payload=["r_id", "r_value"]).collect()
    }
    assert got == batch and len(got) == 67
    # the first L rows on each key precede any R on some keys? if not,
    # at least assert some null and some non-null matches exist
    assert any(v[0] is None for v in got.values()) or all(
        v[0] is not None for v in got.values()
    )
    assert sum(v[0] is not None for v in got.values()) > 50


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


def _py_funnel(rows, steps, window_s=None):
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
                and (window_s is None or (e[0] - t[0]).total_seconds() <= window_s)
            ]
            if not cand:
                break
            t[k] = min(cand)
        out[u] = (sum(1 for x in t if x is not None), tuple(t))
    return out


@pytest.mark.parametrize("window_s", [None, 100])
def test_funnel_matches_mirror(spark, window_s):
    from ocr_compare_spark.operators.temporal import funnel

    rows = _funnel_fixture()
    df = _mk_events(spark, rows, cols=("user_id", "ts", "event_type", "eid"))
    got = funnel(
        df,
        ["A", "B", "C"],
        on="user_id",
        window_us=None if window_s is None else window_s * 1_000_000,
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
        funnel(df, ["A"])


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


def test_funnel_stream_equals_batch(spark, tmp_path):
    """Streaming funnel over an ordered log == batch funnel, across
    THREE micro-batches with the chain carried between them (a user
    entering in batch 1 completes in batch 3); the latest upsert row
    per key equals the batch row."""
    from ocr_compare_spark.operators.temporal import funnel
    from ocr_compare_spark.streaming.jobs import funnel_stream

    rows = []

    def ev(u, s, typ, eid):
        rows.append((u, _ts(s), typ, eid))

    # u1 completes across batches: A in b1, B in b2, C in b3
    ev("u1", 10, "A", 1)
    # u2 stalls at depth 1 (B arrives outside the 100s window in b3)
    ev("u2", 20, "A", 2)
    # u3 never enters (no A) — must emit nothing
    ev("u3", 30, "B", 3)
    b1 = rows[:]
    rows = []
    ev("u1", 60, "B", 4)
    ev("u2", 115, "C", 5)  # wrong step for depth 1 — ignored
    b2 = rows[:]
    rows = []
    ev("u1", 105, "C", 6)  # 95s after the anchor: inside the window
    ev("u2", 200, "B", 7)  # 180s after anchor: outside window
    b3 = rows[:]

    cols = ["user_id", "ts", "event_type", "eid"]
    inp = str(tmp_path / "in")
    for j, chunk in enumerate((b1, b2, b3)):
        spark.createDataFrame(chunk, cols).coalesce(1).write.mode(
            "append" if j else "overwrite"
        ).parquet(inp)
    stream = (
        spark.readStream.schema(
            "user_id string, ts timestamp, event_type string, eid long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out_path, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        funnel_stream(stream, ["A", "B", "C"], window_us=100 * 1_000_000)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.read.parquet(out_path).collect()
    # upserts are monotone in depth: latest == max step_reached
    latest = {}
    for r in emitted:
        if r.user_id not in latest or r.step_reached > latest[r.user_id].step_reached:
            latest[r.user_id] = r

    all_rows = spark.createDataFrame(b1 + b2 + b3, cols)
    batch = {
        r.user_id: r
        for r in funnel(
            all_rows, ["A", "B", "C"], window_us=100 * 1_000_000
        ).collect()
    }
    assert set(latest) == set(batch) == {"u1", "u2"}
    for u, b in batch.items():
        s = latest[u]
        assert (s.step_reached, s.ts_1, s.ts_2, s.ts_3) == (
            b.step_reached, b.ts_1, b.ts_2, b.ts_3
        ), u
    assert batch["u1"].step_reached == 3 and batch["u2"].step_reached == 1
    # u1 advanced in every batch -> three upsert rows
    assert sum(1 for r in emitted if r.user_id == "u1") == 3


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
            df, cohort_bucket_s=3600, activity_bucket_s=86400
        ).collect()
    }
    epoch_s = int(EPOCH.replace(tzinfo=dt.timezone.utc).timestamp())
    co = epoch_s + 5 * 3600
    assert got == {(co, 0): 1, (co, 1): 1}


def test_funnel_stream_chunked_group_and_null_ts(spark, tmp_path):
    """A key's micro-batch rows split across SEVERAL Arrow record
    batches must be sorted as ONE group (sorting chunks independently
    loses an early anchor that arrives in a later chunk); NULL-ts
    rows are skipped like batch funnel."""
    from ocr_compare_spark.operators.temporal import funnel
    from ocr_compare_spark.streaming.jobs import funnel_stream

    # in-batch DISORDER: B and C precede A in arrival order, so with
    # 2-row Arrow chunks the A anchor sits in a later chunk
    rows = [
        ("u1", _ts(60), "B", 1),
        ("u1", _ts(70), "C", 2),
        ("u1", None, "A", 3),  # NULL ts — must not anchor
        ("u1", _ts(10), "A", 4),
        ("u1", _ts(80), "B", 5),
    ]
    cols = ["user_id", "ts", "event_type", "eid"]
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, cols).coalesce(1).write.parquet(inp)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = (
            spark.readStream.schema(
                "user_id string, ts timestamp, event_type string, eid long"
            ).parquet(inp)
        )
        out_path, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
        q = (
            funnel_stream(stream, ["A", "B", "C"])
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    emitted = spark.read.parquet(out_path).collect()
    latest = max(emitted, key=lambda r: r.step_reached)
    b = funnel(
        spark.createDataFrame(rows, cols), ["A", "B", "C"]
    ).collect()[0]
    assert b.step_reached == 3  # A@10 -> B@60 -> C@70
    assert (latest.step_reached, latest.ts_1, latest.ts_2, latest.ts_3) == (
        b.step_reached, b.ts_1, b.ts_2, b.ts_3
    )


def test_funnel_stream_long_key_schema(spark, tmp_path):
    """key_field derives from the input schema — a bigint user_id
    must work without an explicit override."""
    from ocr_compare_spark.streaming.jobs import funnel_stream

    rows = [(7, _ts(10), "A", 1), (7, _ts(20), "B", 2)]
    cols = ["user_id", "ts", "event_type", "eid"]
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, cols).coalesce(1).write.parquet(inp)
    stream = spark.readStream.schema(
        "user_id bigint, ts timestamp, event_type string, eid long"
    ).parquet(inp)
    out_path, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        funnel_stream(stream, ["A", "B"])
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_path).collect()
    assert max(r.step_reached for r in got) == 2
    assert all(isinstance(r.user_id, int) for r in got)


def test_asof_log_stream_chunked_group(spark, tmp_path):
    """Same chunk-straddle class as funnel_stream: a micro-batch group
    split across 2-row Arrow chunks with in-batch disorder must sort
    as ONE group — an R that arrives in a later chunk but carries an
    earlier ts must still enrich the later-ts L rows correctly."""
    from ocr_compare_spark.streaming.jobs import asof_log_enrich_stream

    # arrival order: L@30, L@40 first, then R@10 — chunk-local sorting
    # would enrich neither L (R lands in chunk 2, walked after both)
    rows = [
        ("k1", _ts(30), "L", "e1", None, None),
        ("k1", _ts(40), "L", "e2", None, None),
        ("k1", _ts(10), "R", None, "r1", "v1"),
        ("k1", _ts(50), "L", "e3", None, None),
        ("k1", None, "R", None, "rbad", "vbad"),  # NULL-ts R — dropped
        ("k1", None, "L", "e4", None, None),  # NULL-ts L — NULL payload
    ]
    cols = ["key", "ts", "side", "event_id", "r_id", "r_value"]
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, cols).coalesce(1).write.parquet(inp)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = (
            spark.readStream.schema(
                "key string, ts timestamp, side string, event_id string, "
                "r_id string, r_value string"
            ).parquet(inp)
        )
        out_path, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
        q = (
            asof_log_enrich_stream(stream, on="key")
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    got = {
        r.event_id: (r.r_id, r.r_value)
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == {
        "e1": ("r1", "v1"),
        "e2": ("r1", "v1"),
        "e3": ("r1", "v1"),
        "e4": (None, None),  # batch left-outer contract: kept, unmatched
    }


def test_funnel_stream_state_ttl(spark, tmp_path):
    """state_ttl_ms bounds standing state under a processing-time
    trigger: a key idle past the TTL is dropped, so its later events
    cannot advance the chain; the NoTimeout control completes.
    (availableNow cannot drive timers — documented caveat — so this
    test runs real processing-time triggers.)"""
    import time as _time

    from ocr_compare_spark.streaming.jobs import funnel_stream

    cols = ["user_id", "ts", "event_type", "eid"]

    def read_depths(name):
        try:
            return [
                r.step_reached
                for r in spark.read.parquet(str(tmp_path / f"out_{name}")).collect()
            ]
        except Exception:  # sink dir not created yet
            return []

    def wait_for(pred, deadline_s=120):
        # barrier instead of bare sleeps: this host stalls 10-70s,
        # so fixed sleeps race the micro-batch clock
        t0 = _time.time()
        while _time.time() - t0 < deadline_s:
            if pred():
                return True
            _time.sleep(0.3)
        return False

    def drive(ttl, name):
        inp = str(tmp_path / f"in_{name}")
        spark.createDataFrame(
            [("u1", _ts(10), "A", 1)], cols
        ).coalesce(1).write.mode("overwrite").parquet(inp)
        stream = spark.readStream.schema(
            "user_id string, ts timestamp, event_type string, eid long"
        ).parquet(inp)
        q = (
            funnel_stream(stream, ["A", "B"], state_ttl_ms=ttl)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"out_{name}"))
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .outputMode("append")
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            # barrier 1: the A event is processed (depth-1 row landed)
            assert wait_for(lambda: 1 in read_depths(name))
            # TTL run: wait well past the TTL so the idle timer fires
            # in one of the intervening micro-batches
            _time.sleep(3)
            spark.createDataFrame(
                [("u1", _ts(20), "B", 2)], cols
            ).coalesce(1).write.mode("append").parquet(inp)
            if ttl is None:
                # barrier 2: control run must process B to depth 2
                assert wait_for(lambda: 2 in read_depths(name))
            else:
                # expired run: give B ample time to be processed; the
                # assertion below is that depth 2 NEVER appears
                _time.sleep(6)
        finally:
            q.stop()
        return read_depths(name)

    assert max(drive(500, "ttl")) == 1  # expired: B cannot advance
    assert max(drive(None, "exact")) == 2  # NoTimeout control completes


def test_retention_stream_equals_batch(spark, tmp_path):
    """Streaming retention over an ordered log == batch
    retention_cohorts(return_users=True): the emitted (key, cohort,
    offset) cell set matches, each cell exactly once, across THREE
    micro-batches (a user acquired in batch 1 stays correctly
    cohorted for batch-3 activity; non-activity first events cohort
    but emit nothing; NULL ts skipped)."""
    from ocr_compare_spark.operators.temporal import retention_cohorts
    from ocr_compare_spark.streaming.jobs import retention_stream

    day = 86400.0
    rows = []

    def ev(u, s, typ, eid):
        rows.append((u, None if s is None else _ts(s), typ, eid))

    ev("u1", 0.5 * day, "view", 1)   # cohort day 0, not activity
    ev("u2", 0.2 * day, "buy", 2)    # cohort day 0 + activity offset 0
    b1 = rows[:]; rows = []
    ev("u1", 1.5 * day, "buy", 3)    # offset 1
    ev("u1", 1.9 * day, "buy", 4)    # same cell — no second emission
    ev("u3", None, "buy", 5)         # NULL ts — skipped entirely
    b2 = rows[:]; rows = []
    ev("u1", 3.5 * day, "buy", 6)    # offset 3
    ev("u2", 2.5 * day, "buy", 7)    # offset 2
    b3 = rows[:]

    cols = ["user_id", "ts", "event_type", "eid"]
    inp = str(tmp_path / "in")
    for j, chunk in enumerate((b1, b2, b3)):
        spark.createDataFrame(chunk, cols).coalesce(1).write.mode(
            "append" if j else "overwrite"
        ).parquet(inp)
    stream = (
        spark.readStream.schema(
            "user_id string, ts timestamp, event_type string, eid long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
        .withColumn("is_act", F.col("event_type") == "buy")
    )
    out_path, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        retention_stream(stream, is_activity_col="is_act")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.read.parquet(out_path).collect()
    got = [(r.user_id, r.cohort_start, r.offset_n) for r in emitted]
    assert len(got) == len(set(got))  # exactly-once per cell

    batch = {
        (r.user_id, r.cohort_start, r.offset_n)
        for r in retention_cohorts(
            spark.createDataFrame(b1 + b2 + b3, cols),
            activity_filter=F.col("event_type") == "buy",
            return_users=True,
        ).collect()
    }
    assert set(got) == batch
    # triangle sanity: u1 has offsets 1 and 3, u2 offsets 0 and 2
    offs = {(u, o) for u, _, o in got}
    assert offs == {("u1", 1), ("u1", 3), ("u2", 0), ("u2", 2)}
