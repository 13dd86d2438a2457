"""Recrawl scheduling (operators/recrawl.py): Cho & Garcia-Molina
change-rate estimation pinned against the pure-python mirror and
edge cases."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from ocr_compare_spark.operators.recrawl import (
    change_rate,
    change_stats,
    recrawl_priority,
)
from tests.mirrors import py_change_rate

T0 = datetime(2025, 1, 1, 0, 0, 0)
NOW = datetime(2025, 1, 20, 0, 0, 0)


def _stack(spark):
    """Six urls with distinct change patterns; digests are version
    labels, intervals deliberately unequal for some urls."""
    rows = []

    def snaps(url, pattern, days=None):
        days = days or list(range(len(pattern)))
        for d, v in zip(days, pattern):
            rows.append((url, T0 + timedelta(days=d), f"v{v}"))

    snaps("http://a.com/static", [0, 0, 0, 0])          # never changes
    snaps("http://a.com/news", [0, 1, 2, 3])            # changes every fetch
    snaps("http://a.com/mixed", [0, 0, 1, 1, 2])        # 2 changes / 4 ints
    snaps("http://b.com/uneven", [0, 1, 1], days=[0, 1, 10])  # uneven gaps
    snaps("http://b.com/cold", [0])                     # single fetch
    snaps("http://b.com/same-ts", [0, 1], days=[0, 0])  # zero span
    return spark.createDataFrame(rows, ["url", "warc_ts", "digest"]), rows


def test_change_rate_matches_python_mirror(spark):
    df, rows = _stack(spark)
    got = {r.url: r for r in recrawl_priority(df, NOW).collect()}
    by_url: dict[str, list] = {}
    for u, ts, dg in rows:
        by_url.setdefault(u, []).append((ts.timestamp(), dg))
    assert set(got) == set(by_url)
    for u, hist in by_url.items():
        n, x, lam6, p6 = py_change_rate(hist, NOW.timestamp())
        r = got[u]
        assert (r.n_fetches, r.n_changes) == (n, x), u
        assert r.lam_day6 == lam6, u
        if p6 is None:
            assert r.p_changed6 == 0.5  # default for unestimable urls
        else:
            assert r.p_changed6 == p6, u


def test_change_rate_edge_semantics(spark):
    df, _ = _stack(spark)
    got = {r.url: r for r in recrawl_priority(df, NOW).collect()}
    # never-changed: zero observed changes -> zero rate, zero p
    st = got["http://a.com/static"]
    assert st.n_changes == 0 and st.lam_day6 == 0.0 and st.p_changed6 == 0.0
    # always-changed: finite (the +0.5 keeps the ln argument > 0)
    nw = got["http://a.com/news"]
    assert nw.n_changes == 3 and nw.lam_day6 > st.lam_day6
    assert 0 < nw.p_changed6 <= 1
    # single fetch and zero span are unestimable
    assert got["http://b.com/cold"].lam_day6 is None
    assert got["http://b.com/same-ts"].lam_day6 is None
    # hotter page -> higher refetch probability
    assert nw.p_changed6 > got["http://a.com/mixed"].p_changed6
    assert got["http://a.com/mixed"].p_changed6 > st.p_changed6


def test_change_stats_layout_invariant(spark):
    df, _ = _stack(spark)
    a = sorted(map(tuple, change_stats(df).collect()))
    b = sorted(map(tuple, change_stats(df.repartition(7)).collect()))
    assert a == b
    c = sorted(map(tuple, change_rate(df.repartition(3)).collect()))
    assert c == sorted(map(tuple, change_rate(df).collect()))
