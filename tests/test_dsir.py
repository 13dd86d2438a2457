"""DSIR importance resampling (operators/dsir.py): exact-integer
log-weight parity against a pure-python mirror, Gumbel-top-k
determinism, and feature-hash edge cases."""

from __future__ import annotations

import hashlib
import math
import re

from pyspark.sql import functions as F

from ocr_compare_spark.operators import dsir

B = 512  # small bucket count so collisions actually happen in-test


def _py_words(t: str) -> list[str]:
    return re.findall(r"[a-z0-9]+", t.lower())


def _py_grams(t: str) -> list[str]:
    w = _py_words(t)
    return w + [f"{a} {b}" for a, b in zip(w, w[1:])]


def _py_bucket(g: str, n_buckets: int) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % n_buckets


def _py_weights(cands, target, n_buckets, smoothing=1.0):
    qc: dict[int, int] = {}
    pc: dict[int, int] = {}
    for _, t in cands:
        for g in _py_grams(t):
            b = _py_bucket(g, n_buckets)
            qc[b] = qc.get(b, 0) + 1
    for t in target:
        for g in _py_grams(t):
            b = _py_bucket(g, n_buckets)
            pc[b] = pc.get(b, 0) + 1
    qt, pt = sum(qc.values()), sum(pc.values())
    ratio = {
        b: dsir.log_ratio6(pc.get(b, 0), c, pt, qt, n_buckets, smoothing)
        for b, c in qc.items()
    }
    out = {}
    for i, t in cands:
        gs = [_py_bucket(g, n_buckets) for g in _py_grams(t)]
        if gs:
            out[i] = (len(gs), sum(ratio[b] for b in gs))
    return out


def _corpus(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )


def test_gram_buckets_edges(spark):
    df = spark.createDataFrame(
        [(1, "Alpha beta-9 GAMMA"), (2, "solo"), (3, ""), (4, "x y")],
        "id long, t string",
    )
    got = {r.id: r.b for r in df.select("id", dsir.gram_buckets("t", B).alias("b")).collect()}
    for i, t in [(1, "Alpha beta-9 GAMMA"), (2, "solo"), (3, ""), (4, "x y")]:
        assert got[i] == [_py_bucket(g, B) for g in _py_grams(t)], t
    # "Alpha beta-9 GAMMA" -> 4 words + 3 bigrams (the '-' splits)
    assert len(got[1]) == 7
    assert got[3] == []


def test_gram_buckets_tokenizes_once(spark):
    # the bigram lambda reads the bound word array: one regex per row,
    # not one per word
    assert str(dsir.gram_buckets("text")).count("regexp_extract_all(") == 1


def test_dsir_weights_match_python_mirror(spark, sf_dir):
    d = _corpus(spark, sf_dir)
    target = d.filter(F.col("doc_id") % 25 == 3)
    cand = d.filter(F.col("doc_id") % 25 != 3)
    got = {
        r.doc_id: (r.n_grams, r.logw6)
        for r in dsir.dsir_log_weights(cand, target, "doc_id", "text", n_buckets=B).collect()
    }
    cand_rows = [(r.doc_id, r.text) for r in cand.collect()]
    tgt_rows = [r.text for r in target.collect()]
    want = _py_weights(cand_rows, tgt_rows, B)
    assert got == want
    assert len(got) > 100  # the synth corpus has no zero-gram docs
    # log_weight is the exact microunit sum scaled back
    one = dsir.dsir_log_weights(cand, target, "doc_id", "text", n_buckets=B).first()
    assert one.log_weight == one.logw6 / 1e6


def test_dsir_resample_deterministic_topk(spark, sf_dir):
    d = _corpus(spark, sf_dir)
    target = d.filter(F.col("doc_id") % 25 == 3)
    cand = d.filter(F.col("doc_id") % 25 != 3)
    w = dsir.dsir_log_weights(cand, target, "doc_id", "text", n_buckets=B)
    k = 50
    top = dsir.dsir_resample(w, "doc_id", k).collect()
    assert len(top) == k
    # mirror: recompute key6 in python over the mirrored weights and
    # take the same top-k (ties break on doc_id)
    cand_rows = [(r.doc_id, r.text) for r in cand.collect()]
    tgt_rows = [r.text for r in target.collect()]
    weights = _py_weights(cand_rows, tgt_rows, B)
    keyed = []
    for i, (_, lw6) in weights.items():
        u = (int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) + 0.5) / 2**32
        g6 = math.floor(-math.log(-math.log(u)) * 1e6 + 0.5)
        keyed.append((lw6 + g6, i))
    want = sorted(keyed, key=lambda kv: (-kv[0], kv[1]))[:k]
    assert [(r.key6, r.doc_id) for r in top] == want
    # layout invariance
    top2 = dsir.dsir_resample(
        w.repartition(13), "doc_id", k
    ).collect()
    assert {r.doc_id for r in top2} == {r.doc_id for r in top}


def test_dsir_weights_favor_target_like_docs(spark):
    # target talks about cats; candidates: one cat doc, one dog doc.
    # the cat doc must importance-weight higher.
    target = spark.createDataFrame(
        [("cat purr whiskers cat nap",), ("cat meow cat toy",)], "text string"
    )
    cand = spark.createDataFrame(
        [(1, "cat purr nap meow cat"), (2, "stock market index futures bond")],
        "id long, text string",
    )
    w = {r.id: r.logw6 for r in dsir.dsir_log_weights(cand, target, "id", "text", n_buckets=B).collect()}
    assert w[1] > w[2]
