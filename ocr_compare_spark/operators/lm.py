"""Unigram language-model perplexity scoring (the CCNet family).

CCNet (Wenzek et al., "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") ranks Common-Crawl documents by the
perplexity of a language model and keeps the low-perplexity head.
This module is the Spark-native shape of that stage over the
``documents`` table:

- **train_unigram_lm**: token counts over the corpus -> per-token
  log-probability. One explode + one ``groupBy(token)`` shuffle with
  map-side combine (the shuffle ships ~|vocab| rows per input
  partition, never per-token rows). ``vocab_size`` caps the model to
  the top-K tokens via a distributed top-K (``orderBy().limit()`` —
  TakeOrderedAndProject, NOT a single-partition window), which is the
  100 TB shape: a web-scale vocab has 10^8 types, but the model you
  ship is the capped head plus one OOV mass.

- **perplexity_scores**: per-document token count, OOV count,
  cross-entropy (mean negative log-prob per token) and perplexity.
  Two execution paths, mirroring the ANN literal/data precedent
  (similarity.py):

  * ``method="literal"`` (default, the oracle path): the trained
    vocab is collected to the driver (guarded by
    ``MAX_VOCAB_COLLECT``) and embedded as a map literal; scoring is
    ONE ordered ``aggregate`` fold over the token array — zero
    shuffle, zero join, whole-stage codegen. Summation is strictly
    left-to-right, so a DuckDB twin that folds an ordered list
    reproduces the double bit-for-bit (the `confidences` ordered
    list_sum precedent).
  * ``method="data"`` (the scale path): the vocab stays a DataFrame;
    tokens explode, broadcast-hash-join the vocab, and re-group by
    document with map-side combine. No driver collect, plan size
    O(1) in |vocab|. Each document's exploded tokens stay contiguous
    in one input partition, so the partial aggregate accumulates
    them in token order and the two paths agree bit-for-bit
    (pytest-pinned).

All log-probs are rounded to 6 decimals (HALF_UP via the
floor(x*1e6+0.5)/1e6 trick — CLAUDE.md's Spark/DuckDB float-round
contract) BEFORE any summation, so cross-engine `ln`/`exp` ulp
differences cannot compound: both engines sum identical rounded
doubles in identical order.

Reference anchor: the reference repo has no LM stage (it is an OCR
comparison tool); this operator extends the repo's curation family
(textstats.py quality filters) with the canonical CCNet signal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ocr_compare_spark.functions.bind import _bind
from ocr_compare_spark.operators.textstats import tokens

#: Driver guard for the literal path: a capped vocab this size is a
#: few MB of plan literals; anything larger must use method="data".
MAX_VOCAB_COLLECT = 65536

#: Probability mass assigned to an out-of-vocabulary token:
#: p_oov = OOV_MASS / total_corpus_tokens (a fixed half-count, the
#: classic "0.5 smoothing" floor).
OOV_MASS = 0.5


def _round6(c: Column) -> Column:
    return F.floor(c * 1e6 + F.lit(0.5)) / 1e6


def train_unigram_lm(
    df: DataFrame, text_col: str = "text", vocab_size: int | None = None
) -> DataFrame:
    """Token counts -> ``(token, cnt, total, logprob)``.

    ``logprob = round6(ln(cnt / total))`` where ``total`` is the FULL
    corpus token count (computed before any vocab cap, so capping
    changes which tokens are OOV but not the in-vocab probabilities).
    ``total`` rides along as a column (same value every row) so
    scorers can derive the OOV log-prob without a second aggregate.

    Entirely lazy — no driver action. The total is attached via a
    broadcast cross join of a 1-row aggregate (a no-shuffle map-side
    attach), and the vocab cap is a distributed top-K ordered by
    (cnt DESC, token ASC) — deterministic under ties.
    """
    from ocr_compare_spark.operators.adaptive import spread_small_input

    # byte-light compute-heavy tokenize — spread a few-split source
    # (r6; adaptive no-op on adequately-split inputs). Doc rows move
    # BEFORE the explode, so a doc's tokens stay contiguous in one
    # partition (the data-path summation-order contract).
    df = spread_small_input(df)
    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    if vocab_size is not None:
        counts = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(vocab_size)
    return counts.crossJoin(F.broadcast(total)).select(
        "token",
        "cnt",
        "total",
        _round6(F.log(F.col("cnt") / F.col("total"))).alias("logprob"),
    )


def _oov_logprob_col() -> Column:
    return _round6(F.log(F.lit(OOV_MASS) / F.col("total")))


def perplexity_scores(
    df: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "literal",
) -> DataFrame:
    """Score each document against a trained unigram LM.

    Output: ``(id_col, n_tokens, n_oov, cross_entropy, ppl)``, one
    row per document with non-NULL text, where
    ``cross_entropy = round6(-sum(logprob_i) / n_tokens)`` and
    ``ppl = round6(exp(cross_entropy))`` (exp of the ROUNDED mean, so
    both engine's exp sees an identical input double).

    method="literal": vocab embedded as a map literal (driver collect
    guarded at MAX_VOCAB_COLLECT); one ordered aggregate fold per
    row, zero shuffle. method="data": broadcast join + one
    map-side-combined groupBy — the 100 TB path.
    """
    from ocr_compare_spark.operators.adaptive import spread_small_input

    # spread BEFORE the tokenize/fold (r6): doc rows move whole, so
    # per-doc token order — the round6-before-sum contract's
    # summation order — is untouched. NULL text has no tokens and
    # gets no row, on both paths (the data path's explode drops it).
    df = spread_small_input(df.filter(F.col(text_col).isNotNull()))
    if method == "literal":
        rows = lm.collect()
        if len(rows) > MAX_VOCAB_COLLECT:
            raise ValueError(
                f"literal LM path needs |vocab| <= {MAX_VOCAB_COLLECT}, got "
                f"{len(rows)}; use method='data'"
            )
        if not rows:
            raise ValueError("empty language model")
        total = rows[0]["total"]
        # Spark-computed logprobs become the literals — the oracle
        # twin recomputes them with DuckDB ln under the same round6.
        pairs: list[Column] = []
        for r in rows:
            pairs.append(F.lit(r["token"]))
            pairs.append(F.lit(float(r["logprob"])))
        lm_map = F.create_map(*pairs)

        # Single aggregate fold (sum, oov-count) in one pass over the
        # array — strictly left-to-right summation. The split runs
        # once per row: the count and the fold read the bound tokens.
        def score(toks: Column) -> Column:
            folded = F.aggregate(
                toks,
                F.struct(
                    F.lit(0.0).alias("s"), F.lit(0).cast("long").alias("oov")
                ),
                lambda acc, x: F.struct(
                    (
                        acc.s
                        + F.coalesce(
                            F.element_at(lm_map, x),
                            _round6(F.log(F.lit(OOV_MASS) / F.lit(float(total)))),
                        )
                    ).alias("s"),
                    (acc.oov + F.element_at(lm_map, x).isNull().cast("long")).alias(
                        "oov"
                    ),
                ),
            )
            return F.struct(
                F.size(toks).cast("long").alias("n_tokens"), folded.alias("_f")
            )

        ce = _round6(-F.col("_f").getField("s") / F.col("n_tokens"))
        return (
            df.select(F.col(id_col), _bind(tokens(text_col), score).alias("_b"))
            .select(id_col, "_b.n_tokens", "_b._f")
            .select(
                id_col,
                "n_tokens",
                F.col("_f").getField("oov").alias("n_oov"),
                ce.alias("cross_entropy"),
            )
            .withColumn("ppl", _round6(F.exp(F.col("cross_entropy"))))
        )
    if method != "data":
        raise ValueError(f"unknown method {method!r}")
    exploded = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    scored = exploded.join(F.broadcast(lm), "token", "left")
    # `total` is NULL exactly on OOV rows; re-attach it from the lm's
    # single-row aggregate so the OOV logprob needs no driver value.
    tot = lm.select(F.first("total").alias("total")).limit(1)
    scored = scored.drop("total").crossJoin(F.broadcast(tot))
    per_tok = F.coalesce(F.col("logprob"), _oov_logprob_col())
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("logprob").isNull().cast("long")).alias("n_oov"),
        F.sum(per_tok).alias("_s"),
    )
    return agg.select(
        id_col,
        "n_tokens",
        "n_oov",
        _round6(-F.col("_s") / F.col("n_tokens")).alias("cross_entropy"),
    ).withColumn("ppl", _round6(F.exp(F.col("cross_entropy"))))
