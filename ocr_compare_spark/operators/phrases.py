"""PMI collocation / phrase mining (word2phrase, Mikolov et al. 2013
"Distributed Representations of Words and Phrases..." §4) — the
vocab-building pass that decides which adjacent word pairs become
single tokens ("new_york") before tokenizer/embedding training.

Determinism contract (ANSI-SQL-reproducible end to end):

- **tokens**: keywords.WORD_RE (``[a-z0-9]+`` over lower(text)) —
  ASCII classes, Java regex == RE2/DuckDB.
- **bigrams**: adjacent token pairs WITHIN a document (never across
  doc boundaries). Tokens are materialized into a plain column before
  the index lambda so the regexp runs once per doc, not once per
  bigram (the CLAUDE.md lambda-inline trap).
- **score**: pointwise mutual information in integer microunits,
  ``pmi6 = floor((ln(c_ab) + ln(n_tokens) - ln(c_a) - ln(c_b)) * 1e6
  + 0.5)`` with the FOUR ln terms written in that exact operand order
  on both engines (lm.py/keywords.py round6 precedent — Spark ln and
  DuckDB ln agree under the floor-round at the gate sfs).
- **ranking**: global (pmi6 DESC, w1 ASC, w2 ASC) — total order.

Scale shape: one explode→groupBy per stream (unigrams, bigrams), both
map-side combined and vocabulary-sized after the combine; two
token-keyed equi-joins to attach c_a/c_b; the ``min_count`` filter
runs BEFORE the joins so only candidate collocations shuffle. The
final top-k is a TakeOrdered over the filtered candidate set (bounded
by distinct-bigrams-above-min-count, not corpus size). ``n_tokens=``
hint skips the corpus-total job (house embed_near_dups convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ocr_compare_spark.operators.keywords import _words

DEFAULT_MIN_COUNT = 5
DEFAULT_K = 100


def _token_arrays(df: DataFrame, text_col: str) -> DataFrame:
    """One row per doc: the materialized token array (plain column —
    downstream lambdas never re-inline the regexp)."""
    return df.select(_words(text_col).alias("_toks"))


def unigram_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(term, c) corpus-wide token counts."""
    return (
        _token_arrays(df, text_col)
        .select(F.explode("_toks").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )


def bigram_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(w1, w2, c_ab) adjacent-pair counts, within-doc only."""
    pairs = F.expr(
        "transform(slice(_toks, 1, greatest(size(_toks) - 1, 0)), "
        "(w, i) -> struct(w AS w1, element_at(_toks, i + 2) AS w2))"
    )
    return (
        _token_arrays(df, text_col)
        .select(F.explode(pairs).alias("_b"))
        .select(F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
    )


def pmi_phrases(
    df: DataFrame,
    text_col: str,
    min_count: int = DEFAULT_MIN_COUNT,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Top-k collocations: (rank, w1, w2, c_ab, pmi6) by
    (pmi6 desc, w1 asc, w2 asc). Bigrams below ``min_count`` are
    dropped BEFORE the unigram joins. ``pmi6`` is the floor-round6'd
    PMI; exact int64 thereafter."""
    from ocr_compare_spark.operators.adaptive import spread_small_input

    # the unigram and bigram tokenize passes are byte-light
    # compute-heavy — spread a few-split source first (r6; adaptive
    # no-op on adequately-split inputs)
    df = spread_small_input(df)
    # THREE consumers (n_tokens collect + the ua/ub join sides —
    # ReuseExchange does NOT fire across differently-aliased sides):
    # checkpoint or the corpus tokenization runs three times
    uni = unigram_counts(df, text_col).localCheckpoint()
    n_tokens = uni.agg(F.sum("c")).collect()[0][0] or 0
    big = bigram_counts(df, text_col).filter(F.col("c_ab") >= int(min_count))
    ua = uni.select(F.col("term").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("term").alias("w2"), F.col("c").alias("c_b"))
    pmi6 = F.floor(
        (
            F.log(F.col("c_ab").cast("double"))
            + F.log(F.lit(float(n_tokens)))
            - F.log(F.col("c_a").cast("double"))
            - F.log(F.col("c_b").cast("double"))
        )
        * 1e6
        + F.lit(0.5)
    ).cast("long")
    scored = (
        big.join(ua, "w1")
        .join(ub, "w2")
        .select("w1", "w2", "c_ab", pmi6.alias("pmi6"))
        .orderBy(F.col("pmi6").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(int(k))
    )
    # rank over the k-row result only (never a window over the vocab)
    w = Window.orderBy(F.col("pmi6").desc(), F.col("w1").asc(), F.col("w2").asc())
    return scored.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "w1",
        "w2",
        "c_ab",
        "pmi6",
    )
