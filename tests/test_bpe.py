"""Distributed BPE training + encoding (operators/bpe.py)."""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F

from ocr_compare_spark.operators.bpe import (
    EOW,
    bpe_encode_udf,
    bpe_token_counts,
    py_words,
    train_bpe,
    _encode_word,
)
from tests.mirrors import train_bpe_py

# frequencies engineered so merge order is unambiguous for the first
# few merges and tie-breaks are exercised later; includes repeated
# chars (greedy-left), BMP unicode, and an emoji (codepoint split)
CORPUS = (
    ["low lower lowest"] * 8
    + ["newer newest new"] * 6
    + ["wider wide widest"] * 4
    + ["naïve naïveté"] * 3
    + ["aaaa aaa aa"] * 3
    + ["good 👍👍 vibes"] * 2
    # NBSP-joined pair: ONE word type under Java \s+ (ASCII-only) on
    # BOTH the train and encode sides — review r5 pinned this
    + ["caf\u00e9\u00a0menu caf\u00e9\u00a0menu"] * 2
)


def _word_counts(texts) -> dict[str, int]:
    c: Counter[str] = Counter()
    for t in texts:
        c.update(py_words(t))
    return dict(c)


def _replay_merges(word: str, merges) -> list[str]:
    """Alternative encoder: apply the merge list in training order —
    must equal the rank-greedy _encode_word."""
    sym = list(word) + [EOW]
    for a, b in merges:
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def test_train_bpe_exact_equals_mirror(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    merges = train_bpe(df, "text", n_merges=25, min_count=2)
    mirror = train_bpe_py(_word_counts(CORPUS), n_merges=25, min_count=2)
    assert merges == mirror
    assert len(merges) > 10  # the corpus supports real merges
    # early-stop: an absurd merge budget ends when counts dry up
    all_m = train_bpe(df, "text", n_merges=10_000, min_count=2)
    assert all_m == train_bpe_py(_word_counts(CORPUS), 10_000, min_count=2)
    assert len(all_m) < 10_000


def test_train_bpe_batched_equals_mirror(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    merges = train_bpe(df, "text", n_merges=24, min_count=2, merges_per_round=8)
    mirror = train_bpe_py(
        _word_counts(CORPUS), n_merges=24, min_count=2, merges_per_round=8
    )
    assert merges == mirror
    # each batch is symbol-disjoint by construction; spot-check the
    # first batch (first 8 or fewer selected from one count pass)
    first = mirror[:8]
    used: set[str] = set()
    for a, b in first:
        assert a not in used and b not in used and a + b not in used
        used.update((a, b, a + b))


def test_train_bpe_partition_invariant(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    m1 = train_bpe(df.repartition(1), "text", n_merges=15)
    m2 = train_bpe(df.repartition(7), "text", n_merges=15)
    assert m1 == m2


def test_encode_rank_greedy_equals_replay_and_roundtrips(spark):
    merges = train_bpe_py(_word_counts(CORPUS), n_merges=30)
    ranks = {p: i for i, p in enumerate(merges)}
    for word in _word_counts(CORPUS):
        toks = _encode_word(word, ranks)
        assert toks == _replay_merges(word, merges), word
        assert "".join(toks) == word + EOW, word
    # unseen characters survive as singleton symbols
    assert _encode_word("zzz!", ranks)[-1] == EOW
    assert "".join(_encode_word("zzz!", ranks)) == "zzz!" + EOW
    # NBSP stays INSIDE the word at encode time (ASCII \s+ split)
    assert py_words("caf\u00e9\u00a0menu now") == ["caf\u00e9\u00a0menu", "now"]


def test_bpe_token_counts_spark_equals_mirror(spark):
    merges = train_bpe_py(_word_counts(CORPUS), n_merges=20)
    rows = (
        [(i, t) for i, t in enumerate(CORPUS[:10])]
        + [(98, CORPUS[-1])]  # the NBSP doc crosses Arrow too
        + [(99, None)]
    )
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["toks"], r["bpe_token_count"])
        for r in bpe_token_counts(df, merges)
        .withColumn("toks", bpe_encode_udf(merges)(F.col("text")))
        .collect()
    }
    ranks = {p: i for i, p in enumerate(merges)}
    for i, t in rows:
        if t is None:
            assert got[i][0] is None and got[i][1] is None
            continue
        want = [tok for w in py_words(t) for tok in _encode_word(w, ranks)]
        assert list(got[i][0]) == want
        assert got[i][1] == len(want)


def test_train_bpe_on_corpus_table(spark, sf_dir):
    """End-to-end over the real documents table: Spark == mirror on
    the same texts (the synthetic vocab is tiny, so merges saturate
    fast), deterministic across runs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()]
    merges = train_bpe(docs, "text", n_merges=20)
    assert merges == train_bpe_py(_word_counts(texts), n_merges=20)
    assert merges == train_bpe(docs, "text", n_merges=20)  # rerun identical
