"""Unigram-LM perplexity scoring + URL blocklist filtering.

The LM tests pin the exact arithmetic contract (round6 logprobs,
ordered fold, OOV mass) against a hand-computed Python mirror, and
pin the literal and data execution paths bit-identical; the
webfilter tests pin the rule-matching matrix (label-boundary
subdomain match, first-rule-wins precedence).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ocr_compare_spark.operators import lm, webfilter


def _round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _mk_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


TEXTS = [
    "a a b c",
    "a b b d",
    "c c c a",
]
# counts: a=4 b=3 c=4 d=1, total=12


def _expected(vocab_size=None):
    counts = {"a": 4, "b": 3, "c": 4, "d": 1}
    total = 12
    vocab = counts
    if vocab_size is not None:
        ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        vocab = dict(ordered[:vocab_size])
    lp = {t: _round6(math.log(c / total)) for t, c in vocab.items()}
    oov = _round6(math.log(0.5 / total))
    rows = []
    for i, text in enumerate(TEXTS):
        toks = text.split()
        s = 0.0
        n_oov = 0
        for t in toks:  # strict left-to-right fold
            if t in lp:
                s += lp[t]
            else:
                s += oov
                n_oov += 1
        ce = _round6(-s / len(toks))
        rows.append((i, len(toks), n_oov, ce, _round6(math.exp(ce))))
    return rows


@pytest.mark.parametrize("method", ["literal", "data"])
@pytest.mark.parametrize("vocab_size", [None, 3])
def test_perplexity_matches_hand_mirror(spark, method, vocab_size):
    d = _mk_docs(spark, TEXTS + [None])  # NULL text: no tokens, no row
    model = lm.train_unigram_lm(d, "text", vocab_size=vocab_size)
    got = [
        (r["doc_id"], r["n_tokens"], r["n_oov"], r["cross_entropy"], r["ppl"])
        for r in lm.perplexity_scores(d, model, method=method)
        .orderBy("doc_id")
        .collect()
    ]
    assert got == _expected(vocab_size)


def test_vocab_cap_is_deterministic_under_ties(spark):
    # a and c tie at 4; vocab_size=1 must keep 'a' (count desc, token asc)
    d = _mk_docs(spark, TEXTS)
    model = lm.train_unigram_lm(d, "text", vocab_size=1)
    rows = model.collect()
    assert [r["token"] for r in rows] == ["a"]
    assert rows[0]["total"] == 12  # total is pre-cap corpus count


def test_literal_and_data_paths_bit_identical_on_corpus(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = lm.train_unigram_lm(d, "text", vocab_size=20)
    lit = lm.perplexity_scores(d, model, method="literal").orderBy("doc_id").collect()
    dat = lm.perplexity_scores(d, model, method="data").orderBy("doc_id").collect()
    assert lit == dat
    assert len(lit) == 500
    assert any(r["n_oov"] > 0 for r in lit)  # cap at 20 of 31 leaves real OOV


def test_literal_path_guard(spark, monkeypatch):
    d = _mk_docs(spark, TEXTS)
    model = lm.train_unigram_lm(d, "text")
    monkeypatch.setattr(lm, "MAX_VOCAB_COLLECT", 2)
    with pytest.raises(ValueError, match="literal LM path"):
        lm.perplexity_scores(d, model, method="literal")


# ---------------------------------------------------------------- webfilter


URL_CASES = [
    # (url, expected block_reason)
    ("https://warm.example.com/doc/1", "domain:warm.example.com"),
    ("https://sub.warm.example.com/doc/1", "domain:warm.example.com"),
    # label boundary: NOT a subdomain of warm.example.com
    ("https://notwarm.example.com/doc/1", None),
    ("https://WARM.example.com/doc/1", "domain:warm.example.com"),  # case-folded
    ("https://hot.example.com/doc/10", "pattern:/doc/\\d*0$"),
    ("https://hot.example.com/doc/101", None),
    # domain rule wins over pattern rule (declaration order)
    ("https://warm.example.com/doc/20", "domain:warm.example.com"),
    ("https://spam.example.net/x", "domain:example.net"),  # whole-zone rule
]


def test_url_filter_matrix(spark):
    df = spark.createDataFrame([(u,) for u, _ in URL_CASES], "url string")
    cols = webfilter.url_filter_columns(
        "url",
        blocked_domains=("warm.example.com", "example.net"),
        blocked_patterns=(r"/doc/\d*0$",),
    )
    out = df.select("url", *[c.alias(name) for name, c in cols.items()])
    got = {r["url"]: (r["block_reason"], r["blocked"]) for r in out.collect()}
    for url, want in URL_CASES:
        assert got[url] == (want, 1 if want else 0), url


def test_url_filter_no_rules_is_all_clean(spark):
    df = spark.createDataFrame([("https://a.example.com/x",)], "url string")
    cols = webfilter.url_filter_columns("url")
    out = df.select(*[c.alias(name) for name, c in cols.items()])
    r = out.collect()[0]
    assert r["block_reason"] is None and r["blocked"] == 0
