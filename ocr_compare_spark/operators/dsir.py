"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169), the hashed-n-gram variant: pick the candidate
documents whose hashed word-n-gram distribution looks most like a
TARGET corpus (e.g. Wikipedia+books when curating pretraining data).

Pipeline shape (all Catalyst-native; Python only on the driver for
the bounded bucket-model fit):

1. **features** — unigrams + word bigrams of ``lower(text)``
   (``[a-z0-9]+`` word regex: ASCII classes only, so the Java and
   RE2/DuckDB engines tokenize identically), hashed into
   ``n_buckets`` buckets via the first 8 md5 hex digits mod B (the
   same md5-prefix construction hash_frac uses — reproducible in
   ANSI SQL).
2. **bucket models** — bag-of-buckets multinomials for the target
   (p) and the raw candidate pool (q), Laplace-smoothed. The two
   count aggregates are slim shuffles of <= B rows each; the driver
   collect is bounded by ``MAX_BUCKETS`` (default B=8192 — the
   paper's hashed dimensionality is 10k; at 100 TB the counts are
   still <= B rows).
3. **log importance weights** — ``log w(x) = sum_b c_b(x) *
   (ln p_b - ln q_b)``. The per-bucket log-ratio is computed ON THE
   DRIVER in Python and joined back as a broadcast table of
   **integer microunits** (``ratio6 = floor(r*1e6+0.5)``), so the
   per-document sum is exact int64 arithmetic — order-independent
   and bit-identical to any oracle reimplementation (the repo's
   round6-before-sum contract, here with no float summation at all).
4. **Gumbel top-k resampling** — sampling without replacement from
   the softmax of log weights == taking the top k of
   ``logw + Gumbel(0,1)``; the noise is deterministic
   (``-ln(-ln(u))`` with u from the md5-prefix uniform of the doc
   key, midpoint-shifted so u is never 0), so the selected set is
   rerun- and layout-stable like every sampler in this repo.

Scale notes: the candidate gram stream (regex + md5 per gram, the
hot compute) is materialized ONCE as slim (id, bucket) rows via
localCheckpoint; the q-model counts and the scoring join are both
map-side-combined aggregates over that stream. Pass
``checkpoint=True`` when the input is a compute-heavy derived plan.
Nothing driver-side ever exceeds 2 x n_buckets rows.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from ocr_compare_spark.functions.bind import _bind
from ocr_compare_spark.operators.adaptive import collect_bounded
from ocr_compare_spark.operators.keywords import _words
from ocr_compare_spark.operators.sampling import _TWO_32

DEFAULT_BUCKETS = 8192
MAX_BUCKETS = 1 << 20  # driver-collect guard for the bucket models


def _bucket_of(gram: Column, n_buckets: int) -> Column:
    # first 8 md5 hex digits -> uniform uint32 -> mod B (same
    # construction as sampling.hash_frac, so the oracle twin is
    # '0x'||substr(md5(g),1,8) :: BIGINT % B)
    return F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long") % n_buckets


def gram_buckets(text_col: str | Column, n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """array<long> of hashed feature buckets: one per word unigram
    plus one per word bigram ("w1 w2"), in text order. Empty/short
    texts yield the unigram-only (possibly empty) array. The word
    regex runs once per row; the bigram lambda reads the bound word
    array."""

    def buckets(words: Column) -> Column:
        bigrams = F.when(
            F.size(words) >= 2,
            F.transform(
                F.slice(words, 1, F.size(words) - 1),
                # slice element i (0-based lambda index) is words[i]; the
                # partner is words[i+1] — F.get is 0-based and null-safe
                lambda w, i: F.concat_ws(" ", w, F.get(words, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams = F.concat(words, bigrams)
        return F.transform(grams, lambda g: _bucket_of(g, n_buckets))

    return _bind(_words(text_col), buckets)


def _bucket_counts_of(exploded: DataFrame) -> tuple[dict[int, int], int]:
    """Bucket-model counts from an already-exploded ``_bkt`` stream."""
    rows = collect_bounded(
        exploded.groupBy("_bkt").agg(F.count("*").alias("_c")),
        MAX_BUCKETS,
        f"dsir: > {MAX_BUCKETS} buckets; lower n_buckets",
    )
    counts = {r["_bkt"]: r["_c"] for r in rows}
    return counts, sum(counts.values())


def log_ratio6(
    p_cnt: int, q_cnt: int, p_total: int, q_total: int, n_buckets: int,
    smoothing: float = 1.0,
) -> int:
    """Per-bucket log importance ratio in integer microunits:
    floor((ln p_b - ln q_b) * 1e6 + 0.5) with Laplace smoothing on
    both models. Pure driver-side Python (glibc log), so a DuckDB
    twin computing ln over the same exact doubles matches bit-for-
    bit — and the per-document SUM of these ints is exact."""
    p = (p_cnt + smoothing) / (p_total + smoothing * n_buckets)
    q = (q_cnt + smoothing) / (q_total + smoothing * n_buckets)
    return int(math.floor((math.log(p) - math.log(q)) * 1e6 + 0.5))


def dsir_log_weights(
    candidates: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
    smoothing: float = 1.0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-candidate log importance weight under the hashed-n-gram
    bucket models: columns (id_col, n_grams, logw6, log_weight) where
    ``logw6`` is the exact integer-microunit sum and ``log_weight``
    = logw6/1e6. Documents with zero features (no ``[a-z0-9]+`` word)
    carry no evidence and are omitted. q is fit on ``candidates``
    itself (the raw pool, as in the paper); p on ``target``, which
    carries its text in the same ``text_col``."""
    if num_partitions:
        # the gram stream is byte-light but compute-heavy (md5 per
        # uni+bigram) — a narrow parquet input leaves most cores
        # idle, the CLAUDE.md decontam/compare_align trap; one
        # explicit shuffle of the slim (id, text) rows fixes it.
        # r6: the TARGET pass pays the same trap (its filter reads
        # the same 1-2 parquet splits; measured 1.4 s of the 3.8 s
        # warm total at sf1.0) — spread it too.
        candidates = candidates.repartition(num_partitions)
        target = target.repartition(num_partitions)

    # r6: the candidate gram stream (a regex tokenize + one md5 per
    # uni+bigram — the hot compute of the whole operator) used to run
    # TWICE, once for the q-model counts and once for scoring.
    # Materialize the slim (id, bucket) rows once; both consumers are
    # then map-side-combined aggregates over the checkpointed stream
    # (2 longs per gram — bounded, and orders cheaper than a second
    # full md5 pass).
    grams = candidates.select(
        F.col(id_col), F.explode(gram_buckets(text_col, n_buckets)).alias("_bkt")
    ).localCheckpoint(eager=True)
    q_counts, q_total = _bucket_counts_of(grams)
    p_counts, p_total = _bucket_counts_of(
        target.select(F.explode(gram_buckets(text_col, n_buckets)).alias("_bkt"))
    )

    ratios = [
        (b, log_ratio6(p_counts.get(b, 0), c, p_total, q_total, n_buckets, smoothing))
        for b, c in sorted(q_counts.items())
    ]
    spark = candidates.sparkSession
    ratio_df = F.broadcast(
        spark.createDataFrame(ratios, "_bkt long, _ratio6 long")
    )
    scored = (
        grams.join(ratio_df, "_bkt")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("_ratio6").alias("logw6"),
        )
    )
    return scored.withColumn("log_weight", F.col("logw6") / F.lit(1e6))


def gumbel6(key: str | Column) -> Column:
    """Deterministic Gumbel(0,1) noise in integer microunits from a
    row key: u = (first-8-md5-hex + 0.5) / 2^32 (midpoint-shifted so
    u is never exactly 0 or 1), g = -ln(-ln(u)), floor(g*1e6+0.5).
    Every step is reproducible in ANSI SQL."""
    c = F.col(key) if isinstance(key, str) else key
    u = (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("double")
        + F.lit(0.5)
    ) / F.lit(_TWO_32)
    return F.floor(-F.log(-F.log(u)) * F.lit(1e6) + F.lit(0.5)).cast("long")


def dsir_resample(
    weights: DataFrame,
    id_col: str,
    k: int,
    key_col: str = "key6",
) -> DataFrame:
    """Gumbel-top-k importance resampling over dsir_log_weights
    output: keep the k rows maximizing ``logw6 + gumbel6(id)``
    (== sampling k docs without replacement proportionally to their
    importance weights). Deterministic: the noise is a pure function
    of the id, ties break on the id. A global TakeOrdered(k) — no
    full sort materialization."""
    keyed = weights.withColumn(key_col, F.col("logw6") + gumbel6(id_col))
    return keyed.orderBy(F.col(key_col).desc(), F.col(id_col).asc()).limit(k)
