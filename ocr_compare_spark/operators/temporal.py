"""Temporal join family — the classic "operators Spark lacks":
as-of join, point-in-interval (range) join, hypertable-style
multi-resolution rollup, and the product-analytics set built on the
same events shape (``funnel`` / ``retention_cohorts`` /
``transitions`` — see their docstrings; live counterparts in
streaming/jobs.py).  Every serious event/metrics pipeline needs
these (kdb ``aj``, pandas ``merge_asof``, DuckDB ``ASOF JOIN``,
TimescaleDB continuous aggregates); Spark has no built-in for any of
them, so each is re-expressed here as a composition of shuffle-minimal
DataFrame primitives.

**as-of join** (``asof_join``): for every left row, the single right
row with the greatest ``right_ts <= left_ts`` (direction="backward",
the only one) sharing the join keys, within a tolerance.  NOT an
inequality join (which Spark plans as a broadcast-nested-loop /
cartesian — the plan_audit
anti-pattern): instead the *union + ordered carry-forward* shape —
tag both inputs, union them, and run ONE window per key ordered by
``(ts, side, tiebreak)`` where right rows sort before left rows at
equal ts; ``last(payload, ignorenulls=True)`` over the unbounded
preceding frame hands every left row exactly the right row the
semantics demand.  ONE shuffle total (the window's), and the right
payload rides as a single struct column so the left table's width is
paid only once.  Tolerance is applied AFTER the match (the nearest
preceding row is also the only candidate that can satisfy a backward
tolerance, so filter-after-match is exact — same semantics as pandas
``merge_asof``).

Determinism: duplicate right rows at the same (key, ts) are broken by
``tiebreak`` — the LARGEST tiebreak wins (it follows from the
carry-forward order and matches what ``merge_asof`` does on a
(ts, tiebreak)-sorted input).  Everything is
comparison-only on int64 microseconds — no float arithmetic — so the
result is bit-exact cross-engine.

**range join** (``point_in_interval_join``): points matched to the
intervals that contain them.  The naive formulation is an inequality
join; at scale the standard fix is *bucketization*: pick a bucket
width near the typical interval span, replicate every interval onto
each bucket it covers (``sequence`` + ``explode``), map every point to
its single bucket, EQUI-join on (keys, bucket), then filter the exact
containment predicate.  Interval replication is bounded by
``max_buckets`` (an ``assert_true`` guard — a pathological interval
fails the job loudly instead of silently exploding a task).

**hypertable rollup** (``rollup_timeseries``): the TimescaleDB
continuous-aggregate idea — aggregate once at the finest resolution,
then build every coarser resolution FROM the previous level's partial
aggregates (counts and sums compose exactly), never rescanning the
raw events.  Each level is localCheckpoint'd: it feeds both the output
union and the next level (the repo's two-consumer rule).  At 100 TB
this is the difference between one raw scan and R scans.

Scale notes: the as-of window serializes per key — hot keys (one
giant user) are the known caveat of the carry-forward shape; shard
hot keys upstream by a coarse time bucket and stitch, or pre-aggregate
per (key, bucket).  The range join's shuffle carries points once and
intervals ``span/bucket_width`` times — choose ``bucket_us`` at the
p99 interval span.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

_LONG_MAX = (1 << 63) - 1

#: driver-side guard for interval replication (buckets per interval)
DEFAULT_MAX_BUCKETS = 10_000


def _micros(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    *,
    payload: list[str],
    direction: str = "backward",
    tolerance_us: int,
    tiebreak: str,
    suffix: str = "_r",
) -> DataFrame:
    """As-of join (left outer): every ``left`` row gains the payload of
    the nearest ``right`` row at-or-before it per key, or NULLs when
    no right row qualifies.

    - ``on``: equality key column name(s), same names on both sides.
    - ``payload``: right columns to attach.  A payload column whose
      name collides with a left column is emitted as ``name+suffix``.
      The matched right timestamp is always emitted as
      ``right_ts+suffix``.
    - ``tolerance_us``: max |left_ts - matched_ts| in microseconds;
      matches farther away become NULLs (the row is kept).
    - ``direction``: only ``"backward"`` is supported; any other
      value raises ``ValueError``.
    - ``tiebreak``: numeric right column ordering duplicates at equal
      (key, ts) — the largest wins.
    """
    if direction != "backward":
        raise ValueError(f"direction must be backward, got {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)

    # right side: slim (keys, sort cols, payload struct) — the only
    # extra width the shuffle pays beyond the left table itself.
    # NULL-ts right rows are dropped: NULL sorts FIRST ascending, so
    # an un-filtered one would carry-forward into every left row with
    # no real predecessor (a spurious match merge_asof never makes)
    right = right.filter(F.col(right_ts).isNotNull())
    r_struct = F.struct(
        *[F.col(c).alias(c) for c in payload],
        _micros(right_ts).alias("_match_us"),
    )
    r = right.select(
        *[F.col(k) for k in keys],
        _micros(right_ts).alias("_sort_us"),
        F.lit(0).alias("_side"),
        F.col(tiebreak).cast("long").alias("_tb"),
        r_struct.alias("_r"),
    )
    struct_t = r.schema["_r"].dataType

    left_data = [c for c in left.columns if c not in keys]
    l = left.select(
        *[F.col(k) for k in keys],
        _micros(left_ts).alias("_sort_us"),
        F.lit(1).alias("_side"),
        F.lit(_LONG_MAX).alias("_tb"),
        F.lit(None).cast(struct_t).alias("_r"),
        *[F.col(c) for c in left_data],
    )
    r = r.select(
        *l.columns[: len(keys) + 4],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_data],
    )

    # ONE shuffle: window per key, right rows sort before left rows at
    # equal ts (_side 0 < 1), so last() at a left row sees exactly the
    # rows the <= / >= semantics admit
    w = (
        Window.partitionBy(*keys)
        .orderBy("_sort_us", "_side", "_tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l.unionByName(r)
        .withColumn("_m", F.last("_r", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )

    dist = _micros(left_ts) - F.col("_m._match_us")
    ok = F.col("_m").isNotNull() & (dist <= F.lit(int(tolerance_us)))

    out_payload = []
    for c in payload:
        name = c + suffix if c in left.columns else c
        out_payload.append(F.when(ok, F.col(f"_m.{c}")).alias(name))
    out_payload.append(
        F.when(ok, F.timestamp_micros(F.col("_m._match_us"))).alias(right_ts + suffix)
    )
    return matched.select(*[F.col(c) for c in left.columns], *out_payload)


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str | list[str],
    point_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_us: int = 3_600_000_000,
    max_buckets: int = DEFAULT_MAX_BUCKETS,
    suffix: str = "_p",
) -> DataFrame:
    """Range join: (interval, point) pairs where
    ``start <= point_ts < end`` and the key columns match — via bucket
    replication + ONE equi-join (never an inequality/nested-loop
    join).  Interval columns come first; point columns colliding with
    an interval column are emitted as ``name+suffix``.  Empty or
    inverted intervals (end <= start) match nothing.  An interval
    spanning more than ``max_buckets`` buckets fails the job
    (assert_true) — raise ``bucket_us`` instead of letting one row
    replicate unboundedly.
    """
    keys = [on] if isinstance(on, str) else list(on)
    b = int(bucket_us)

    s_us, e_us = _micros(start_col), _micros(end_col)
    lo, hi = F.floor(s_us / b), F.floor((e_us - 1) / b)
    # the guard rides INSIDE the sequence's lower bound (assert_true
    # yields NULL on success -> coalesce 0) so column pruning can't
    # optimize it away — a free-standing guard column gets pruned
    guard = F.coalesce(
        F.assert_true(
            hi - lo < F.lit(int(max_buckets)),
            F.lit("point_in_interval_join: interval spans too many buckets; raise bucket_us"),
        ).cast("long"),
        F.lit(0),
    )
    iv = (
        intervals.withColumn("_s_us", s_us)
        .withColumn("_e_us", e_us)
        .filter(F.col("_e_us") > F.col("_s_us"))
        .withColumn("_bucket", F.explode(F.sequence(lo + guard, hi)))
    )
    pt = points.withColumn("_p_us", _micros(point_ts)).withColumn(
        "_bucket", F.floor(F.col("_p_us") / b)
    )
    # rename colliding point columns before the join
    iv_cols = set(intervals.columns)
    renames = {c: (c + suffix if c in iv_cols else c) for c in points.columns}
    pt = pt.select(
        *[F.col(c).alias(renames[c]) for c in points.columns], "_p_us", "_bucket"
    )
    cond = [iv["_bucket"] == pt["_bucket"]] + [iv[k] == pt[renames[k]] for k in keys]
    pairs = (
        iv.join(pt, cond, "inner")
        .filter((F.col("_p_us") >= F.col("_s_us")) & (F.col("_p_us") < F.col("_e_us")))
        .drop("_s_us", "_e_us", "_p_us")
        .drop(iv["_bucket"])
        .drop(pt["_bucket"])
    )
    return pairs


def _check_resolutions(resolutions) -> list[int]:
    res = [int(r) for r in resolutions]
    if not res or any(r <= 0 for r in res):
        raise ValueError("resolutions must be positive")
    for a, c in zip(res, res[1:]):
        if c % a != 0:
            raise ValueError(f"resolution {c} is not a multiple of {a}")
    return res


def finest_buckets(
    df: DataFrame,
    ts_col: str,
    dims: list[str],
    value_cols: list[str],
    finest_s: int,
) -> DataFrame:
    """The finest-resolution partial-aggregate table
    ``(bucket_start, *dims, n, sum_<c>...)`` — the materialization
    rollup_from_finest reads."""
    sums = [F.sum(c).alias(f"sum_{c}") for c in value_cols]
    return df.groupBy(
        (F.floor(_micros(ts_col) / (int(finest_s) * 1_000_000)) * int(finest_s))
        .cast("long")
        .alias("bucket_start"),
        *[F.col(d) for d in dims],
    ).agg(F.count("*").alias("n"), *sums)


def rollup_from_finest(
    finest: DataFrame,
    dims: list[str],
    value_cols: list[str],
    resolutions,
) -> DataFrame:
    """Coarsen a finest-bucket table through every resolution —
    counts and sums compose exactly, so level r equals a direct
    group-by of the raw events at r.  Each level is localCheckpoint'd
    (it feeds the output union AND the next level)."""
    res = _check_resolutions(resolutions)
    # checkpoint every level EXCEPT the last — non-final levels feed
    # two consumers (output union + the next coarsening), the final
    # one only the union
    levels = [finest]
    for r in res[1:]:
        levels[-1] = levels[-1].localCheckpoint(eager=False)
        resums = [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in value_cols]
        nxt = (
            levels[-1]
            .groupBy(
                (F.floor(F.col("bucket_start") / r) * r).cast("long").alias("bucket_start"),
                *[F.col(d) for d in dims],
            )
            .agg(F.sum("n").alias("n"), *resums)
        )
        levels.append(nxt)

    out = None
    for r, lv in zip(res, levels):
        part = lv.select(
            F.lit(r).cast("long").alias("res_s"),
            "bucket_start",
            *dims,
            "n",
            *[f"sum_{c}" for c in value_cols],
        )
        out = part if out is None else out.unionByName(part)
    return out


def rollup_timeseries(
    df: DataFrame,
    ts_col: str,
    dims: list[str],
    value_cols: list[str],
    resolutions: tuple[int, ...] = (300, 3600, 86400),
) -> DataFrame:
    """Multi-resolution rollup (continuous-aggregate shape): ONE raw
    scan at the finest resolution, every coarser level re-aggregated
    from the previous level's partials.  Output:
    ``(res_s, bucket_start, *dims, n, sum_<c>...)`` with
    ``bucket_start`` in epoch seconds.  Each coarser resolution must be
    a multiple of the previous (asserted).  Counts and sums compose
    exactly; pass exact integer value columns (e.g. cents microunits)
    for a bit-exact cross-engine result."""
    res = _check_resolutions(resolutions)
    return rollup_from_finest(
        finest_buckets(df, ts_col, dims, value_cols, res[0]),
        dims,
        value_cols,
        res,
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_start: str = "start_ts",
    left_end: str = "end_ts",
    right_start: str = "start_ts",
    right_end: str = "end_ts",
    bucket_us: int = 3_600_000_000,
    max_buckets: int = DEFAULT_MAX_BUCKETS,
    suffix: str = "_r",
) -> DataFrame:
    """Interval x interval overlap join: (left, right) pairs whose
    half-open spans intersect (``ls < re AND rs < le``) and whose key
    columns match — both sides bucket-replicated, ONE equi-join on
    (keys, bucket), exact predicate after.  A pair meeting in several
    buckets is emitted EXACTLY ONCE without any distinct shuffle: the
    canonical bucket is the one containing the overlap START
    (``floor(greatest(ls, rs) / b)`` — inside both replica ranges
    whenever the intervals truly overlap), so every other meeting
    bucket is filtered by a cheap row-local predicate.  Adds an
    ``overlap_us`` column (exact int64 microseconds).  Empty/inverted
    intervals match nothing; the per-interval replica guard is the
    point_in_interval_join one."""
    keys = [on] if isinstance(on, str) else list(on)
    b = int(bucket_us)

    def prep(df: DataFrame, s_col: str, e_col: str, s_out: str, e_out: str) -> DataFrame:
        s_us, e_us = _micros(s_col), _micros(e_col)
        lo, hi = F.floor(s_us / b), F.floor((e_us - 1) / b)
        guard = F.coalesce(
            F.assert_true(
                hi - lo < F.lit(int(max_buckets)),
                F.lit("interval_overlap_join: interval spans too many buckets; raise bucket_us"),
            ).cast("long"),
            F.lit(0),
        )
        return (
            df.withColumn(s_out, s_us)
            .withColumn(e_out, e_us)
            .filter(F.col(e_out) > F.col(s_out))
            .withColumn("_bucket", F.explode(F.sequence(lo + guard, hi)))
        )

    l = prep(left, left_start, left_end, "_ls", "_le")
    r0 = prep(right, right_start, right_end, "_rs", "_re")
    l_cols = set(left.columns)
    renames = {c: (c + suffix if c in l_cols else c) for c in right.columns}
    r = r0.select(
        *[F.col(c).alias(renames[c]) for c in right.columns], "_rs", "_re", "_bucket"
    )
    cond = [l["_bucket"] == r["_bucket"]] + [l[k] == r[renames[k]] for k in keys]
    start = F.greatest(F.col("_ls"), F.col("_rs"))
    pairs = (
        l.join(r, cond, "inner")
        .filter(
            (F.col("_ls") < F.col("_re"))
            & (F.col("_rs") < F.col("_le"))
            # count-once: only the bucket containing the overlap start
            & (F.floor(start / b) == l["_bucket"])
        )
        .withColumn(
            "overlap_us", F.least(F.col("_le"), F.col("_re")) - start
        )
        .drop("_ls", "_le", "_rs", "_re")
        .drop(l["_bucket"])
        .drop(r["_bucket"])
    )
    return pairs


def funnel(
    events: DataFrame,
    steps: list[str],
    on: str | list[str] = "user_id",
    ts_col: str = "ts",
    step_col: str = "event_type",
    *,
    window_us: int,
) -> DataFrame:
    """Funnel analysis (the Amplitude / ClickHouse ``windowFunnel``
    shape): for every key that performed ``steps[0]``, how deep into
    the ordered step list did it get, and when?

    Semantics (value-based, fully deterministic): the step-1 match is
    the key's EARLIEST ``steps[0]`` timestamp; the step-k match is the
    earliest ``steps[k-1]`` timestamp STRICTLY after the step-(k-1)
    match, within ``window_us`` of the step-1 anchor
    (``ts_k - ts_1 <= window_us`` — the window is anchored at the
    funnel entry, the common product-analytics definition).  Matching
    on timestamp VALUES (min-after-min) rather than row identity means
    ties need no tiebreak: equal-ts duplicates yield the identical
    match timestamp.  Note the earliest anchor is the contract, not a
    step-count maximizer — a later step-1 event could in principle
    complete more steps inside the window (same trade ClickHouse's
    default mode makes).

    Spark shape — deliberately NOT a per-key ``collect_list`` fold (a
    hot key with 10^8 events would materialize one giant array):
    K-1 slim equi-joins, each joining the step-k event stream
    (projected to key + int64 micros) against the 1-row-per-key match
    frame, then a map-side-combinable ``min`` — every frame is
    O(keys), every aggregate partial.  The match frame is
    localCheckpoint'd per round (two consumers: the step join and the
    left-join stitch; the repo's iterative-loop rule).

    Returns one row per key that entered the funnel:
    ``(*keys, step_reached, ts_1..ts_K)`` with ``ts_k`` the matched
    event time (NULL past ``step_reached``).
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    keys = [on] if isinstance(on, str) else list(on)
    us = _micros(ts_col)

    out = (
        events.filter(F.col(step_col) == steps[0])
        .groupBy(*keys)
        .agg(F.min(us).alias("_t1"))
    )
    for i, s in enumerate(steps[1:], start=2):
        out = out.localCheckpoint(eager=False)
        ev = events.filter(F.col(step_col) == s).select(
            *[F.col(k) for k in keys], us.alias("_eus")
        )
        cond = (F.col("_eus") > F.col(f"_t{i - 1}")) & (
            F.col("_eus") <= F.col("_t1") + F.lit(int(window_us))
        )
        nxt = (
            ev.join(out.select(*dict.fromkeys([*keys, "_t1", f"_t{i - 1}"])), keys)
            .filter(cond)
            .groupBy(*keys)
            .agg(F.min("_eus").alias(f"_t{i}"))
        )
        out = out.join(nxt, keys, "left")

    reached = F.lit(1)
    for i in range(2, len(steps) + 1):
        reached = reached + F.when(F.col(f"_t{i}").isNotNull(), 1).otherwise(0)
    return out.select(
        *[F.col(k) for k in keys],
        reached.cast("int").alias("step_reached"),
        *[
            F.timestamp_micros(F.col(f"_t{i}")).alias(f"ts_{i}")
            for i in range(1, len(steps) + 1)
        ],
    )


def retention_cohorts(
    events: DataFrame,
    on: str | list[str] = "user_id",
    ts_col: str = "ts",
    cohort_bucket_s: int = 86400,
    activity_bucket_s: int = 86400,
    *,
    activity_filter: Column,
    return_users: bool = False,
) -> DataFrame:
    """Cohort retention (the classic triangle): keys are cohorted by
    the bucket of their FIRST event (any event — the acquisition
    moment), activity is the distinct set of ``activity_bucket_s``
    buckets in which the key produced a row passing
    ``activity_filter`` (e.g. ``F.col("event_type") == "purchase"``
    for purchase retention), and each output cell
    counts the keys of cohort c active at bucket offset o.

    Exact-integer arithmetic throughout (bucket starts in epoch
    seconds via the repo's floor-of-micros convention; ``offset_n`` =
    the activity-grid bucket index of the activity minus that of the
    cohort moment — 0 for acquisition-bucket activity even when the
    cohort bucket is finer than the activity bucket) so the result is
    bit-exact cross-engine.  NULL timestamps are dropped.

    Spark shape: two map-side-combinable aggregates (min-ts per key;
    distinct (key, bucket) — a groupBy, not a window) and ONE
    key-equi-join whose right side is 1 row per key.  Nothing is
    quadratic, nothing collects.

    ``return_users=True`` returns the pre-count membership table
    ``(*keys, cohort_start, offset_n)`` — one row per (key, cell) —
    for callers that need membership-level pins or further joins;
    default returns ``(cohort_start, offset_n, n_keys)``.
    """
    keys = [on] if isinstance(on, str) else list(on)
    cb_us = int(cohort_bucket_s) * 1_000_000
    ab_us = int(activity_bucket_s) * 1_000_000
    # NULL timestamps carry no position — drop them up front (a NULL
    # min would cohort a key at NULL; a NULL activity bucket would
    # emit a NULL-offset cell)
    events = events.filter(F.col(ts_col).isNotNull())
    us = _micros(ts_col)

    first = events.groupBy(*keys).agg(
        (F.floor(F.min(us) / cb_us) * int(cohort_bucket_s))
        .cast("long")
        .alias("cohort_start")
    )
    act = events.filter(activity_filter).select(
        *[F.col(k) for k in keys],
        (F.floor(us / ab_us) * int(activity_bucket_s)).cast("long").alias("_act_start"),
    ).distinct()
    # offset on the ACTIVITY grid: activity bucket index minus the
    # bucket index the cohort moment falls in.  With equal aligned
    # grids this is (act - cohort) / bucket; with a finer cohort
    # bucket (e.g. hourly cohorts, daily activity) it keeps
    # acquisition-moment activity at offset 0 instead of -1 (the
    # cohort's intra-bucket position must not shift the triangle)
    cells = first.join(act, keys).select(
        *[F.col(k) for k in keys],
        F.col("cohort_start"),
        (
            F.floor(F.col("_act_start") / int(activity_bucket_s))
            - F.floor(F.col("cohort_start") / int(activity_bucket_s))
        )
        .cast("long")
        .alias("offset_n"),
    )
    if return_users:
        return cells
    return cells.groupBy("cohort_start", "offset_n").agg(
        F.count("*").alias("n_keys")
    )


def transitions(
    events: DataFrame,
    on: str | list[str] = "user_id",
    ts_col: str = "ts",
    step_col: str = "event_type",
    *,
    tiebreak: str,
) -> DataFrame:
    """Path analysis: the first-order transition matrix over each
    key's event sequence (the Sankey / Markov-chain input every
    product-analytics engine exposes).  Each key's events are ordered
    by ``(ts, tiebreak)`` and every adjacent pair contributes one
    ``(from_step, to_step)`` transition; the output aggregates
    ``(from_step, to_step, n, sum_gap_us)`` — gap sums are exact
    int64 micros so the mean gap is derivable without float drift.

    Determinism: ``tiebreak`` is a column that makes the per-key
    ordering total (e.g. a unique event id) — equal-ts events would
    otherwise make ``lead`` arrival-order-dependent.  With a total
    order the result is partition-layout invariant and bit-exact
    cross-engine.

    ONE shuffle (the per-key window); the aggregate is a map-side
    combinable groupBy over the slim (from, to, gap) stream.  Hot-key
    caveat matches asof_join's: a single giant key serializes its own
    window partition.
    """
    keys = [on] if isinstance(on, str) else list(on)
    w = Window.partitionBy(*keys).orderBy("_us", tiebreak)
    # NULL-ts rows have no position in the order and would diverge
    # cross-engine (Spark sorts NULL FIRST ascending, DuckDB LAST) —
    # same class as asof_join's NULL-right-row rule
    events = events.filter(F.col(ts_col).isNotNull())
    pairs = (
        events.select(
            *[F.col(k) for k in keys],
            _micros(ts_col).alias("_us"),
            F.col(step_col).alias("from_step"),
            F.col(tiebreak),
        )
        .withColumn("to_step", F.lead("from_step").over(w))
        .withColumn("_gap", F.lead("_us").over(w) - F.col("_us"))
        .filter(F.col("to_step").isNotNull())
    )
    return pairs.groupBy("from_step", "to_step").agg(
        F.count("*").alias("n"), F.sum("_gap").alias("sum_gap_us")
    )
