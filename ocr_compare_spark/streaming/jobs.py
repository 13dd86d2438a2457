"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2.9) — one document per
call, no watermarks or state. What the north_rule needs is
*resumability*, which batch-with-manifest covers
(sources/checkpoint.py). This module adds the streaming expression
of the same pipeline for incremental ingest, plus the standard
event-stream operators, because a web-scale crawl table grows
continuously:

- ``extraction_stream``: file-source stream over the pages table ->
  the same fused engine UDF -> parquet sink with
  ``Trigger.AvailableNow`` + checkpointLocation. Exactly-once via
  Spark's own streaming checkpoints — each micro-batch is committed
  or re-run as a unit, so a killed job resumes without duplicates
  (the streaming twin of the per-partition manifest).
- ``windowed_event_counts``: tumbling event-time window + watermark.
- ``sessionize_stream``: session windows via ``session_window``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_compare_spark.schema import PAGES_SCHEMA
from ocr_compare_spark.operators.extract import run_engines_fused


def extraction_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    engines: tuple[str, ...] = ("dom", "density", "pdf"),
):
    """Incremental extraction over a growing parquet pages table.
    Returns the started StreamingQuery (AvailableNow: processes all
    current data then stops — rerun to pick up new files only)."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )
    results = run_engines_fused(pages, engines=engines, with_spans=False)
    return (
        results.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Tumbling event-time window aggregation with late-data bound.
    Works on both batch and streaming DataFrames (same plan)."""
    ts = F.col("ts").cast("timestamp")
    return (
        events.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionize_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Gap-based session windows (session_window) — the streaming
    native form of the batch lag+cumsum sessionization."""
    ts = F.col("ts").cast("timestamp")
    return (
        events.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(pages_stream: DataFrame, watermark: str | None = None) -> DataFrame:
    """Streaming exact dedup on the content hash — Spark-native
    stateful dropDuplicates (state = one key per distinct content,
    exactly the cache key of cached_ocr_executor.py:203-231). With a
    watermark the state is bounded for unbounded streams; without,
    it is the exact global dedup for AvailableNow backfills."""
    keyed = pages_stream.withColumn("content_hash", F.md5(F.col("html")))
    if watermark:
        keyed = keyed.withWatermark("warc_ts", watermark)
        return keyed.dropDuplicatesWithinWatermark(["content_hash"])
    return keyed.dropDuplicates(["content_hash"])


def first_seen_stream(pages_stream: DataFrame, hash_col: str = "html") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (the
    escape hatch for semantics the built-ins can't express): emit
    only the FIRST document seen per content hash ACROSS micro-
    batches, carrying a per-key boolean state. Functionally the
    streaming twin of the result cache's skip path — kept alongside
    dedup_stream to exercise explicit GroupState plumbing.

    ``hash_col`` picks the content column to dedup on (binary or
    string). WHICH member row is emitted per key follows arrival
    order (non-deterministic under parallelism); the emitted KEY SET
    — one row per distinct content — is exact and deterministic, and
    is what the driver-gate query checks."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            return
        first = None
        for pdf in pdfs:
            if first is None and len(pdf):
                first = pdf.iloc[[0]][["url", "content_hash"]]
        state.update((True,))
        if first is not None:
            yield first

    keyed = pages_stream.withColumn("content_hash", F.md5(F.col(hash_col)))
    return keyed.groupBy("content_hash").applyInPandasWithState(
        fn,
        "url string, content_hash string",
        "seen boolean",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def hll_stream(
    spark: SparkSession,
    input_path: str,
    sketch_path: str,
    checkpoint_path: str,
    key_col: str,
    schema: str,
    group_cols: tuple[str, ...] = (),
    p: int = 12,
):
    """Streaming distinct-count maintenance: fold every micro-batch's
    HLL registers into a persistent sketch via foreachBatch — the
    always-on flavor of the recurring-crawl fold (sketches.save_sketch
    docstring). Each trigger touches only the NEW files; the sketch
    on disk is at most m rows per group no matter how much history
    streamed through, and hll_estimate over it answers "distinct keys
    ever seen" without any reprocessing. Merge is idempotent per
    batch content (register max), so a replayed batch cannot inflate
    the estimate — the sketch analog of exactly-once.

    AvailableNow trigger: processes all current data then stops
    (rerun to pick up new files only, the extraction_stream
    convention). Returns the started StreamingQuery."""
    import os

    from ocr_compare_spark.operators import sketches

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_path)
    )

    def fold(batch_df, batch_id):
        regs = sketches.hll_registers(batch_df, key_col, group_cols, p)
        # _SUCCESS-guarded (the plans/job.py cache convention): a
        # half-written sketch dir must not be merged from — with
        # save_sketch's rename this only ever misses a sketch that
        # never completed
        if os.path.exists(os.path.join(sketch_path, "_SUCCESS")):
            regs = sketches.hll_merge(
                sketches.load_sketch(batch_df.sparkSession, sketch_path), regs
            )
        sketches.save_sketch(regs, sketch_path)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def make_additive_sketch_fold(sketch_path: str, build, merge):
    """The epoch-guarded foreachBatch fold for ADDITIVE sketches
    (Count-Min counters, DDSketch buckets — anything whose merge is
    a SUM). HLL's fold (hll_stream) is replay-idempotent for free
    because register max is; counter ADDS are not — a replayed
    micro-batch (driver restart between the sketch save and the
    checkpoint commit) would inflate every count it touched. The
    guard: save_sketch commits the folded batch id atomically WITH
    the sketch (_epoch rides the same rename), and the fold skips
    any batch id <= the committed epoch. Within one checkpoint
    lineage batch ids are monotone, so a skipped id is exactly a
    replay of work the sketch already includes. (Wiping the
    checkpoint dir resets batch ids to 0 — wipe or re-epoch the
    sketch with it; the two commit as a pair by design.)

    ``build(batch_df) -> sketch rows``, ``merge(prior, delta) ->
    folded`` — the cms_build/cms_merge (or dd_build/dd_merge)
    signatures curried over their config. Factored out of the
    stream starter so the replay guard is directly testable."""
    import os

    from ocr_compare_spark.operators import sketches

    def fold(batch_df, batch_id):
        have = os.path.exists(os.path.join(sketch_path, "_SUCCESS"))
        if have:
            committed = sketches.load_sketch_epoch(sketch_path)
            if committed is not None and batch_id <= committed:
                return  # replayed batch — already folded
        delta = build(batch_df)
        if have:
            delta = merge(
                sketches.load_sketch(batch_df.sparkSession, sketch_path), delta
            )
        sketches.save_sketch(delta, sketch_path, epoch=batch_id)

    return fold


def additive_sketch_stream(
    spark: SparkSession,
    input_path: str,
    sketch_path: str,
    checkpoint_path: str,
    build,
    merge,
    schema: str,
):
    """Streaming maintenance for additive sketches: every micro-batch
    builds its delta sketch and folds it into the persistent one,
    exactly once per batch id (see make_additive_sketch_fold). Each
    AvailableNow run touches only NEW files; the on-disk sketch stays
    bounded (d*w counters / O(log range) buckets) regardless of how
    much history streamed through."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_path)
    )
    return (
        stream.writeStream.foreachBatch(
            make_additive_sketch_fold(sketch_path, build, merge)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def cms_stream(
    spark: SparkSession,
    input_path: str,
    sketch_path: str,
    checkpoint_path: str,
    key_col: str,
    schema: str,
    depth: int = 4,
    width: int = 2048,
):
    """Streaming Count-Min maintenance — the additive fold with
    cms_build/cms_merge curried (the production shape: a standing
    token-frequency sketch over an ever-growing crawl, queryable at
    any time with cms_estimate / cms_heavy_hitters without
    reprocessing a single historical file)."""
    from ocr_compare_spark.operators import sketches

    return additive_sketch_stream(
        spark,
        input_path,
        sketch_path,
        checkpoint_path,
        lambda df: sketches.cms_build(df, key_col, depth, width),
        sketches.cms_merge,
        schema,
    )


def rollup_stream(
    spark: SparkSession,
    input_path: str,
    table_path: str,
    checkpoint_path: str,
    schema: str,
    ts_col: str,
    dims: list[str],
    value_cols: list[str],
    finest_s: int = 300,
):
    """Streaming continuous aggregate (the TimescaleDB idea, fed by a
    stream): maintain the FINEST-resolution bucket table
    ``(bucket_start, *dims, n, sum_<c>...)`` as an epoch-guarded
    additive fold — per-bucket counts/sums ADD across micro-batches,
    and adds are not replay-idempotent, so this rides
    make_additive_sketch_fold's epoch commit exactly like cms_stream
    (the bucket table IS an additive sketch whose cells are buckets).
    Coarser resolutions are derived at READ time from the maintained
    table via temporal.rollup_from_finest — no raw-event reprocessing
    ever, which at 100 TB is the whole point: the standing table is
    bounded by (time buckets x dims), not by events.

    Read the current rollup with::

        finest = sketches.load_sketch(spark, table_path)
        rollup_from_finest(finest, dims, value_cols, (finest_s, 3600, 86400))
    """
    from ocr_compare_spark.operators import temporal

    fold = make_additive_sketch_fold(
        table_path,
        lambda batch_df: temporal.finest_buckets(
            batch_df, ts_col, dims, value_cols, finest_s
        ),
        temporal.merge_finest_buckets,
    )
    stream = spark.readStream.schema(schema).parquet(input_path)
    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _sorted_group(pdfs, ts_col: str, extra_sort=None, keep_null_ts: bool = False):
    """The stateful-walk preamble shared by asof_log_enrich_stream /
    funnel_stream / retention_stream: concatenate a group's Arrow
    chunks and sort ONCE — chunk-local sorts replay in-batch disorder
    across record-batch boundaries (the chunk-straddle bug class
    fixed twice in session 12; the ordering contract now lives here).
    Returns (sorted_frame_without_null_ts, null_ts_frame_or_None);
    the NULL-ts split is returned (not dropped) so callers can apply
    their operator's own NULL contract."""
    import pandas as pd

    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None, None
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
    nat = pdf[ts_col].isna()
    nulls = pdf[nat] if (keep_null_ts and nat.any()) else None
    pdf = pdf[~nat]
    cols, asc = [ts_col], [True]
    for c, a in extra_sort or []:
        cols.append(c)
        asc.append(a)
    return pdf.sort_values(cols, ascending=asc, kind="mergesort"), nulls


def asof_log_enrich_stream(
    tagged: DataFrame,
    on: str,
    ts_col: str = "ts",
    side_col: str = "side",
    left_cols: tuple[str, ...] = ("event_id",),
    payload_cols: tuple[str, ...] = ("r_id", "r_value"),
):
    """Stateful STREAM-STREAM backward as-of over an ordered log —
    the CDC-enrichment shape: one keyed stream carries both sides
    (``side_col`` = 'L' event rows to enrich, 'R' dimension-change
    rows), and every L row is matched to the latest R row at-or-
    before it on the same key.  Custom stateful operator via
    applyInPandasWithState (no built-in expresses this): per-key
    GroupState holds the latest R (ts, payload) seen so far; each
    micro-batch's group rows are sorted by (ts, side) with R before
    L at equal ts (the batch asof_join's carry-forward order), then
    walked once.

    ORDERING CONTRACT: exact only when each key's rows arrive in
    event-time order ACROSS micro-batches (an ordered log / CDC
    topic; in-batch disorder is handled by the sort).  A late R row
    in a LATER batch cannot retro-match already-emitted L rows —
    that's inherent to single-pass streaming enrichment; use the
    batch asof_join for reprocessing.  State is one slim tuple per
    key, O(keys) total — no per-row growth.

    Returns the enriched L rows: (key, ts, *left_cols,
    *payload_cols) with NULL payload before the first R."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_fields = ", ".join(
        [f"{on} string", f"{ts_col} timestamp"]
        + [f"{c} string" for c in left_cols]
        + [f"{c} string" for c in payload_cols]
    )
    state_fields = "r_ts double, " + ", ".join(f"{c} string" for c in payload_cols)
    n_pay = len(payload_cols)

    def fn(key, pdfs, state: GroupState):
        cur = state.get if state.exists else None  # (r_ts_epoch, *payload)
        outs = []
        # R before L at equal ts == the batch carry-forward order.
        # NULL-ts rows follow the batch asof_join's contract exactly:
        # a NULL-ts R row is dropped (temporal.py right-side filter),
        # a NULL-ts L row is KEPT and emitted with NULL payload (the
        # batch is a LEFT-OUTER join; a NULL sort key precedes every
        # right row there, so no match is possible)
        pdf, nulls = _sorted_group(
            pdfs, ts_col, extra_sort=[(side_col, False)], keep_null_ts=True
        )
        if nulls is not None:
            for row in nulls.itertuples(index=False):
                d = row._asdict()
                if d[side_col] != "R":
                    outs.append(
                        (key[0], d[ts_col], *(d[c] for c in left_cols),
                         *((None,) * n_pay))
                    )
        if pdf is not None:
            for row in pdf.itertuples(index=False):
                d = row._asdict()
                if d[side_col] == "R":
                    cur = (d[ts_col].timestamp(), *(d[c] for c in payload_cols))
                else:
                    pay = cur[1:] if cur is not None else (None,) * n_pay
                    outs.append(
                        (key[0], d[ts_col], *(d[c] for c in left_cols), *pay)
                    )
        if cur is not None:
            state.update(cur)
        if outs:
            yield pd.DataFrame(
                outs,
                columns=[on, ts_col, *left_cols, *payload_cols],
            )

    return tagged.groupBy(on).applyInPandasWithState(
        fn,
        out_fields,
        state_fields,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def funnel_stream(
    events: DataFrame,
    steps: list[str],
    on: str = "user_id",
    ts_col: str = "ts",
    step_col: str = "event_type",
    window_us: int | None = None,
    key_field: str | None = None,
    state_ttl_ms: int | None = None,
):
    """Stateful streaming funnel over an ordered log — the live
    counterpart of temporal.funnel (same value-based strictly-
    increasing min-after-min semantics, window anchored at the
    step-1 match).  Custom stateful operator via
    applyInPandasWithState: per-key GroupState holds
    ``(depth, t_1..t_K)`` — one slim tuple per key, O(keys) total —
    and each micro-batch's group rows are walked once in ts order.
    On an ordered log the first qualifying event IS the min, so the
    greedy scan equals the batch K-join exactly; equal-ts rows can
    never advance the chain (strictly-after), so in-batch sort order
    among ties is immaterial.

    ORDERING CONTRACT (same as asof_log_enrich_stream): exact when
    each key's rows arrive in event-time order ACROSS micro-batches;
    in-batch disorder is sorted away.  A late-arriving earlier event
    cannot retro-shift an already-advanced chain — use the batch
    funnel to reprocess.

    Emits an upsert stream: whenever a key's chain advances in a
    micro-batch, one row ``(key, step_reached, ts_1..ts_K)`` with the
    CURRENT state; the latest row per key equals temporal.funnel's
    output row for that key.  Keys that never perform ``steps[0]``
    hold no state and emit nothing.  NULL timestamps are skipped
    (batch funnel's min/strictly-after conditions drop them too).

    ``state_ttl_ms`` bounds the standing state on an infinite stream
    (processing-time TTL): a key that sees NO events for that long is
    dropped, so its in-flight chain cannot advance later — and a
    later ``steps[0]`` event RE-ENTERS it as a fresh key (a restarted
    chain whose upsert rows a batch funnel over the full log would
    not produce; latest-row-per-key consumers see the restarted
    funnel, not the expired one).  The standard streaming-funnel
    trade; size the TTL at (funnel window + max expected event lag).
    The TTL refreshes on any activity for the key.  Default None
    keeps state forever (exact, O(all keys ever)).  CAVEAT
    (measured): use a TTL only with a processing-time trigger —
    under Trigger.AvailableNow the batch clock does not advance, so
    pending timers never fire and the query spins empty micro-batches
    forever waiting for them.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    k_steps = len(steps)
    # derive the key's SQL type from the input (a hardcoded string
    # default would crash Arrow conversion on e.g. a bigint user_id)
    key_field = key_field or f"{on} {events.schema[on].dataType.simpleString()}"
    out_fields = (
        key_field
        + ", step_reached integer, "
        + ", ".join(f"ts_{i} timestamp" for i in range(1, k_steps + 1))
    )
    state_fields = "depth integer, " + ", ".join(
        f"t_{i} long" for i in range(1, k_steps + 1)
    )

    def fn(key, pdfs, state: GroupState):
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            cur = state.get
            depth, ts = cur[0], list(cur[1:])
        else:
            depth, ts = 0, [None] * k_steps
        changed = False
        pdf, _ = _sorted_group(pdfs, ts_col)
        if pdf is not None and depth < k_steps:
            # local arrays, no per-row dict/closure lookups (the
            # repo's per-row-Python doctrine)
            ts_us = (
                pdf[ts_col].to_numpy(dtype="datetime64[ns]").astype("int64")
                // 1000
            )
            step_arr = pdf[step_col].to_numpy()
            _steps, _win = steps, window_us
            for j in range(len(step_arr)):
                if depth >= k_steps:
                    break
                if step_arr[j] != _steps[depth]:
                    continue
                t_us = int(ts_us[j])
                if depth > 0:
                    if not t_us > ts[depth - 1]:
                        continue
                    if _win is not None and t_us > ts[0] + _win:
                        continue
                ts[depth] = t_us
                depth += 1
                changed = True
        if changed:
            state.update((depth, *ts))
        if state_ttl_ms is not None and (changed or state.exists):
            # refresh the TTL on any activity (after the update so a
            # first-advance key has state to attach the timer to)
            state.setTimeoutDuration(state_ttl_ms)
        if changed:
            yield pd.DataFrame(
                [
                    (
                        key[0],
                        depth,
                        *(
                            pd.Timestamp(t, unit="us") if t is not None else pd.NaT
                            for t in ts
                        ),
                    )
                ],
                columns=[on, "step_reached"]
                + [f"ts_{i}" for i in range(1, k_steps + 1)],
            )

    return events.groupBy(on).applyInPandasWithState(
        fn,
        out_fields,
        state_fields,
        "append",
        GroupStateTimeout.NoTimeout
        if state_ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout,
    )


def retention_stream(
    events: DataFrame,
    on: str = "user_id",
    ts_col: str = "ts",
    cohort_bucket_s: int = 86400,
    activity_bucket_s: int = 86400,
    is_activity_col: str | None = None,
    key_field: str | None = None,
):
    """Streaming cohort retention — the live counterpart of
    temporal.retention_cohorts(return_users=True): emits one row
    ``(key, cohort_start, offset_n)`` the FIRST time a key is active
    in a new activity bucket (exactly-once per cell within the
    stream), so ``groupBy(cohort_start, offset_n).count()`` over the
    emitted table IS the retention triangle, maintained
    incrementally — raw events are never reprocessed.

    Cohorting follows the batch contract: the key's FIRST event (any
    event) fixes the cohort bucket; activity rows are those where
    ``is_activity_col`` (a boolean column computed upstream, e.g.
    ``F.col("event_type") == "purchase"``) is true — default every
    event.  ``offset_n`` is computed on the ACTIVITY grid exactly
    like the batch operator.

    ORDERING CONTRACT (same as funnel_stream): the cohort is exact
    when each key's FIRST-ever event is in its first micro-batch
    seen (ordered log; in-batch disorder is sorted away).  State per
    key = (cohort_start, seen activity buckets) — bounded by the
    key's distinct active buckets (e.g. lifetime days), not events.
    NULL timestamps are skipped.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cb_us = int(cohort_bucket_s) * 1_000_000
    ab_us = int(activity_bucket_s) * 1_000_000
    key_field = key_field or f"{on} {events.schema[on].dataType.simpleString()}"
    out_fields = key_field + ", cohort_start long, offset_n long"
    state_fields = "cohort_start long, seen array<long>"

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            cohort_start, seen_list = state.get
            seen = set(seen_list)
        else:
            cohort_start, seen = None, set()
        outs = []
        changed = False
        pdf, _ = _sorted_group(pdfs, ts_col)
        if pdf is not None:
            ts_us = (
                pdf[ts_col].to_numpy(dtype="datetime64[ns]").astype("int64")
                // 1000
            )
            act = (
                pdf[is_activity_col].to_numpy()
                if is_activity_col is not None
                else None
            )
            cohort_ab = (
                None
                if cohort_start is None
                else cohort_start // int(activity_bucket_s)
            )
            for j in range(len(ts_us)):
                t_us = int(ts_us[j])
                if cohort_start is None:
                    cohort_start = (t_us // cb_us) * int(cohort_bucket_s)
                    cohort_ab = cohort_start // int(activity_bucket_s)
                    changed = True
                if act is not None and not act[j]:
                    continue
                b = (t_us // ab_us) * int(activity_bucket_s)
                if b not in seen:
                    seen.add(b)
                    changed = True
                    outs.append(
                        (key[0], cohort_start, b // int(activity_bucket_s) - cohort_ab)
                    )
        # update only on change: an idle-in-cell key must not pay a
        # state rewrite + O(n log n) sort of its bucket history every
        # micro-batch (the funnel_stream convention)
        if changed:
            state.update((cohort_start, sorted(seen)))
        if outs:
            yield pd.DataFrame(outs, columns=[on, "cohort_start", "offset_n"])

    return events.groupBy(on).applyInPandasWithState(
        fn,
        out_fields,
        state_fields,
        "append",
        GroupStateTimeout.NoTimeout,
    )
