"""Recrawl scheduling: per-url change-rate estimation from crawl
snapshot history -> refetch probability. (Cho & Garcia-Molina,
"Estimating Frequency of Change", ACM TOIT 3(3), 2003 — public
literature; the scheduling seam the reference's cached executor
implies but never builds: cached_ocr_executor.py:83-86 answers "is
this payload new?", this operator answers "which urls are WORTH
refetching?".)

Why a crawler wants this: refetching everything every cycle spends
the fetch budget on static pages. The index tier already carries
change observations for free — CDX digests per (urlkey, ts) across
stacked crawls — so change frequency is estimable without touching a
single WARC byte.

Estimator (the paper's bias-corrected ratio estimator): over
``n_int = n_fetches - 1`` equal-ish fetch intervals with ``X``
observed digest changes, the per-interval change rate is

    lam_int = -ln((n_int - X + 0.5) / (n_int + 0.5))

(the +0.5 terms keep it finite when every interval changed), scaled
to per-day by the mean interval. Under the Poisson change model the
probability the page changed since its last fetch is

    p_changed = 1 - exp(-lam_day * age_days)

which IS the refetch priority (optionally blended with PageRank by
the caller — both are columns).

Exactness contract (lm.py / graph.py precedent): every transcendental
is floor-round6'd the moment it is produced (``lam_day6`` before the
exp, ``p_changed6`` after), and each formula is written in ONE
operand order shared verbatim with the DuckDB twin — ln/exp are libm
on both engines and sqrt-free, so round6 parity holds (gated both
sfs via the `snapshot_suite` recrawl arm).

Scale shape: ONE groupBy(url) whose payload is the slim (ts, digest)
struct — never the page bytes; snapshot counts per url are small
(one per crawl), so the collected history array is bounded by the
crawl count. Everything after the aggregate is per-row native
expression, so no full sort and no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_compare_spark.operators.lm import _round6


def change_stats(
    snaps: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    digest_col: str = "digest",
) -> DataFrame:
    """Per-url fetch-history stats from a (url, ts, digest) snapshot
    stack: ``(url, n_fetches, n_changes, first_ts, last_ts)``.

    A "change" is an adjacent-in-time digest inequality — the
    observation unit of the estimator. One shuffle; the history array
    is materialized as the AGGREGATE output attribute so the three
    lambdas that read it never inline the expression (the CLAUDE.md
    array-inline trap stops at the Aggregate boundary)."""
    hist = snaps.groupBy(F.col(url_col).alias("url")).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(ts_col).alias("ts"), F.col(digest_col).alias("dg")))
        ).alias("h")
    )
    n = F.size("h")
    changes = F.when(
        n > 1,
        F.aggregate(
            F.sequence(F.lit(2), n),
            F.lit(0),
            lambda acc, i: acc
            + F.when(
                F.element_at(F.col("h"), i)["dg"]
                != F.element_at(F.col("h"), i - 1)["dg"],
                F.lit(1),
            ).otherwise(F.lit(0)),
        ),
    ).otherwise(F.lit(0))
    return hist.select(
        "url",
        n.cast("int").alias("n_fetches"),
        changes.cast("int").alias("n_changes"),
        F.element_at(F.col("h"), 1)["ts"].alias("first_ts"),
        F.element_at(F.col("h"), -1)["ts"].alias("last_ts"),
    )


def change_rate(
    snaps: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    digest_col: str = "digest",
) -> DataFrame:
    """change_stats + the bias-corrected Poisson rate ``lam_day6``
    (changes/day, floor-round6'd). NULL when unestimable (fewer than
    two fetches, or zero time span)."""
    st = change_stats(snaps, url_col, ts_col, digest_col)
    n_int = (F.col("n_fetches") - 1).cast("double")
    span_secs = (
        F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts")
    ).cast("double")
    # operand order is the oracle contract — do not re-associate
    ratio = (n_int - F.col("n_changes") + 0.5) / (n_int + 0.5)
    lam_day = -F.ln(ratio) / (span_secs / n_int / 86400.0)
    return st.withColumn(
        "lam_day6",
        F.when((F.col("n_fetches") > 1) & (span_secs > 0), _round6(lam_day)),
    )


def recrawl_priority(
    snaps: DataFrame,
    now,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    digest_col: str = "digest",
    default_p6: float = 0.5,
) -> DataFrame:
    """change_rate + ``age_days`` (since last fetch, at ``now``) and
    ``p_changed6`` = 1 - exp(-lam_day6 * age_days), the probability
    the page changed since we last saw it. Urls with no estimate
    (single fetch) get ``default_p6`` — a cold page is worth a
    second look before its rate exists. ``now`` is any Spark-castable
    timestamp (pass it in — never a wall clock, determinism is the
    whole point of the contract)."""
    cr = change_rate(snaps, url_col, ts_col, digest_col)
    now_c = F.lit(now).cast("timestamp")
    age_days = (
        F.unix_timestamp(now_c) - F.unix_timestamp("last_ts")
    ).cast("double") / 86400.0
    p = _round6(F.lit(1.0) - F.exp(-F.col("lam_day6") * F.col("age_days")))
    return (
        cr.withColumn("age_days", age_days)
        .withColumn(
            "p_changed6",
            F.when(F.col("lam_day6").isNotNull(), p).otherwise(
                F.lit(float(default_p6))
            ),
        )
    )
