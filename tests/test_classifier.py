"""Logistic-regression quality classifier (operators/classifier.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

POS = [
    "the quick brown fox jumps over the lazy dog today.",
    "a clear well formed english sentence with common words.",
    "the weather report says rain is likely over the weekend.",
    "reading the morning news with a cup of coffee is nice.",
]
NEG = [
    "$$$ click here !!! win big $$$ free free free",
    ">>> ~~ ### @@@ &&& %%% ^^^ ***",
    "buy buy buy cheap cheap pills pills pills now now",
    "zzz qqq xxx vvv kkk jjj www",
]


def _df(spark, texts, start=0):
    return spark.createDataFrame(
        [(start + i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )


# ------------------------------------------------------ logistic regression


def test_logreg_training_equals_mirror_bitwise(spark):
    """Full-batch GD in the engine == the pure-python mirror, weight
    vector bit-for-bit after every round (round6-to-int64 gradients
    make the cross-doc sum order-free; z/dot folds share one op
    order; _logreg_update is literally the same function)."""
    from ocr_compare_spark.operators.classifier import (
        logreg_scores,
        train_logreg,
        train_logreg_py,
    )
    from tests.mirrors import score_logreg_py

    dim, iters = 32, 12
    m = train_logreg(_df(spark, POS), _df(spark, NEG, 100), dim=dim, iters=iters)
    mm = train_logreg_py(POS, NEG, dim=dim, iters=iters)
    assert m["wb"] == mm["wb"]

    # the trained model separates the training corpora, and scoring
    # matches the mirror bit-for-bit (incl. the round6 p6)
    held = POS + NEG + ["   "]  # blank doc: no row (hashed_tf contract)
    got = {
        r["doc_id"]: (r["p6"], r["keep"])
        for r in logreg_scores(_df(spark, held, 0), m).collect()
    }
    assert len(got) == len(POS) + len(NEG)
    for i, t in enumerate(held[:-1]):
        assert got[i] == score_logreg_py(t, mm), t
    assert all(got[i][1] for i in range(len(POS)))
    assert not any(got[len(POS) + i][1] for i in range(len(NEG)))


def test_logreg_layout_invariant(spark):
    """The weight vector is identical at any input partitioning —
    the int64 gradient sums are order-free by construction."""
    from ocr_compare_spark.operators.classifier import train_logreg

    a = train_logreg(
        _df(spark, POS), _df(spark, NEG, 100), dim=16, iters=5
    )
    b = train_logreg(
        _df(spark, POS).repartition(7),
        _df(spark, NEG, 100).repartition(3),
        dim=16,
        iters=5,
    )
    assert a["wb"] == b["wb"]


def test_logreg_on_corpus_table(spark, sf_dir):
    """GPT-3 shape on the synthetic corpus: reference = the %10==2
    nested docs, negatives = a disjoint slice; the classifier ranks
    held-out reference-like docs above the negatives on average
    (the corpus is pseudorandom, so only the aggregate ordering is
    asserted — the Gibbs-style caveat from lm.py)."""
    from ocr_compare_spark.operators.classifier import logreg_scores, train_logreg

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pos = docs.filter(F.col("doc_id") % 10 == 2)
    neg = docs.filter(F.col("doc_id") % 10 == 5)
    m = train_logreg(pos, neg, dim=64, iters=10, num_partitions=8)
    scored = logreg_scores(docs, m, num_partitions=8)
    j = docs.select("doc_id").join(scored, "doc_id")
    mp = (
        j.filter(F.col("doc_id") % 10 == 2).agg(F.avg("p6")).first()[0]
    )
    mn = (
        j.filter(F.col("doc_id") % 10 == 5).agg(F.avg("p6")).first()[0]
    )
    assert mp > mn
