"""Inverted index + BM25 (operators/index.py): pure-python mirror of
the full scoring contract, query-term clamping, hint parity, tie
ordering, and the doc-length building block."""

from __future__ import annotations

import math
import re
from collections import Counter

from ocr_compare_spark.operators import index as index_ops

DOCS = [
    (0, "the cat sat on the mat the cat"),
    (1, "the dog sat on the log"),
    (2, "quantum flux capacitor flux"),
    (3, "the the the"),
    (4, ""),  # dl=0 — counted in N/avgdl, matches nothing
    (5, "cat dog cat dog cat dog"),
]

QUERIES = [
    (10, "cat dog"),
    (11, "cat cat CAT"),  # duplicate query terms count once
    (12, "flux"),
    (13, "zzz unseen"),  # no indexed terms -> no rows
    (14, ""),
]


def _mirror(docs, queries, k, k1=1.2, b=0.75):
    words = {i: re.findall("[a-z0-9]+", t.lower()) for i, t in docs}
    n = len(docs)
    avgdl = sum(len(w) for w in words.values()) / n
    dfreq = Counter()
    for ws in words.values():
        dfreq.update(set(ws))
    out = []
    for qid, qtext in queries:
        qterms = sorted(set(re.findall("[a-z0-9]+", qtext.lower())), key=qtext.find)
        scores: Counter = Counter()
        hit = set()
        for term in set(qterms):
            if term not in dfreq:
                continue
            df = dfreq[term]
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for i, ws in words.items():
                tf = ws.count(term)
                if not tf:
                    continue
                denom = tf + k1 * (1.0 - b + b * (len(ws) / avgdl))
                w = idf * ((tf * (k1 + 1.0)) / denom)
                scores[i] += math.floor(w * 1e6 + 0.5)
                hit.add(i)
        ranked = sorted(((-scores[i], i) for i in hit))[:k]
        out.extend((qid, r + 1, i, -neg) for r, (neg, i) in enumerate(ranked))
    return sorted(out)


def _run(spark, docs, queries, k, **kw):
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    q = spark.createDataFrame(queries, ["query_id", "query_text"])
    got = index_ops.bm25_topk(d, q, k=k, **kw)
    return sorted((r["query_id"], r["rank"], r["id"], r["score6"]) for r in got.collect())


def test_bm25_matches_mirror(spark):
    assert _run(spark, DOCS, QUERIES, 3) == _mirror(DOCS, QUERIES, 3)


def test_bm25_hints_same_result(spark):
    n = len(DOCS)
    sum_dl = sum(len(re.findall("[a-z0-9]+", t.lower())) for _, t in DOCS)
    assert _run(spark, DOCS, QUERIES, 3, n_docs=n, sum_dl=sum_dl) == _mirror(
        DOCS, QUERIES, 3
    )


def test_bm25_duplicate_query_terms_clamped(spark):
    one = _run(spark, DOCS, [(0, "cat")], 6)
    dup = _run(spark, DOCS, [(0, "cat cat cat")], 6)
    assert one == dup


def test_bm25_tie_order_is_id_asc(spark):
    docs = [(7, "apple"), (3, "apple"), (9, "apple")]
    got = _run(spark, docs, [(0, "apple")], 3)
    assert [(r[1], r[2]) for r in got] == [(1, 3), (2, 7), (3, 9)]


def test_doc_lengths(spark):
    d = spark.createDataFrame(DOCS, ["doc_id", "text"])
    dl = {r["id"]: r["dl"] for r in index_ops.doc_lengths(d, "doc_id", "text").collect()}
    assert dl[4] == 0 and dl[0] == 8


def test_bm25_gemm_path_matches_mirror(spark):
    """r6: num_partitions routes scoring through the broadcast-GEMM
    block path (_gemm_scored_topk) — same rows as the mirror and the
    relational path, across partition counts."""
    n = len(DOCS)
    sum_dl = sum(len(re.findall("[a-z0-9]+", t.lower())) for _, t in DOCS)
    for parts in (1, 3, 5):
        assert _run(spark, DOCS, QUERIES, 3, num_partitions=parts) == _mirror(
            DOCS, QUERIES, 3
        )
        assert _run(
            spark, DOCS, QUERIES, 2, num_partitions=parts, n_docs=n, sum_dl=sum_dl
        ) == _mirror(DOCS, QUERIES, 2)


def test_bm25_gemm_guard_falls_back_relational(spark, monkeypatch):
    """Query sets over the GEMM guards must take the relational path
    (with the partial top-k pre-cut) and still match the mirror."""
    monkeypatch.setattr(index_ops, "GEMM_MAX_TERMS", 1)
    assert _run(spark, DOCS, QUERIES, 3, num_partitions=4) == _mirror(DOCS, QUERIES, 3)


def test_bm25_gemm_tie_order_is_id_asc(spark):
    docs = [(7, "apple"), (3, "apple"), (9, "apple")]
    got = _run(spark, docs, [(0, "apple")], 3, num_partitions=2)
    assert [(r[1], r[2]) for r in got] == [(1, 3), (2, 7), (3, 9)]
