"""NB quality classifier (operators/classifier.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from ocr_compare_spark.operators.classifier import score_nb, train_nb
from tests.mirrors import score_nb_py, train_nb_py

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


def test_train_and_score_equal_mirror(spark):
    model = train_nb(_df(spark, POS), _df(spark, NEG, 100))
    mirror = train_nb_py(POS, NEG)
    rows = model.collect()
    assert {r["token"]: r["weight"] for r in rows} == mirror["weights"]
    assert rows[0]["w_oov"] == mirror["w_oov"]
    assert rows[0]["bias"] == mirror["bias"]

    held_out = [
        "the lazy dog reads the morning news over coffee.",     # pos-ish
        "free pills !!! click click $$$ cheap",                 # neg-ish
        "completely unseen vocabulary entirely absent",         # all OOV
        "the weather report says rain today.  ",  # trailing ws: Spark split
                                                  # keeps the '' token — the
                                                  # mirror must too
    ]
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"], r["nb_score"], r["nb_label"])
        for r in score_nb(_df(spark, held_out, 500), model).collect()
    }
    for i, t in enumerate(held_out):
        assert got[500 + i] == score_nb_py(t, mirror), t
    assert got[500][3] is True   # quality page kept
    assert got[501][3] is False  # spam dropped
    # all-OOV doc: every token contributes w_oov
    n, n_oov, s, _ = got[502]
    assert n_oov == n == 5


def test_vocab_cap_is_deterministic(spark):
    m_full = train_nb(_df(spark, POS), _df(spark, NEG, 100))
    m_cap = train_nb(_df(spark, POS), _df(spark, NEG, 100), vocab_size=10)
    assert m_cap.count() == 10
    mirror = train_nb_py(POS, NEG, vocab_size=10)
    assert {r["token"]: r["weight"] for r in m_cap.collect()} == mirror["weights"]
    assert m_full.count() > 10
    # cap changes OOV membership, and the smoothing denominator uses
    # the CAPPED V — weights legitimately differ from the full model;
    # scoring still mirrors exactly
    t = POS[0]
    r = score_nb(_df(spark, [t], 900), m_cap).collect()[0]
    assert (r["n_tokens"], r["n_oov"], r["nb_score"], r["nb_label"]) == score_nb_py(
        t, mirror
    )


def test_classifier_on_corpus_table(spark, sf_dir):
    """Corpus-scale parity: train en vs non-en from the documents
    table, score every doc — Spark == mirror on all 500 rows (the
    contiguity argument that pins lm.py's data path pins this too)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pos = docs.filter(F.col("lang") == "en")
    neg = docs.filter(F.col("lang") != "en")
    model = train_nb(pos, neg, vocab_size=50)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"], r["nb_score"], r["nb_label"])
        for r in score_nb(docs, model).collect()
    }
    rows = docs.select("doc_id", "text", "lang").collect()
    mirror = train_nb_py(
        [r["text"] for r in rows if r["lang"] == "en"],
        [r["text"] for r in rows if r["lang"] != "en"],
        vocab_size=50,
    )
    for r in rows:
        assert got[r["doc_id"]] == score_nb_py(r["text"], mirror), r["doc_id"]


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
