"""Feature-hashed embeddings (operators/embedding.py): Spark ==
python mirror bit-for-bit (integer-exactness contract), layout
invariance, empty-doc/no-row contract, signed cancellation, exact
top-k parity, and composability with the ANN/semdedup consumers."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_compare_spark.operators import embedding as emb
from tests.mirrors import TIE_QUERIES, py_hashed_topk, tie_frames, tie_vectors

DIM = 16


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")


def test_hashed_tf_matches_python_mirror(spark, sf_dir):
    d = _docs(spark, sf_dir).limit(60)
    got = {
        r.doc_id: list(r.vector)
        for r in emb.hashed_tf(d, "doc_id", "text", dim=DIM).collect()
    }
    texts = {r.doc_id: r.text for r in d.collect()}
    assert len(got) == len(texts)
    for doc_id, v in got.items():
        assert v == emb.py_hashed_tf(texts[doc_id], DIM), doc_id
        assert len(v) == DIM and all(x == int(x) for x in v)


def test_hashed_tf_layout_invariant_and_unsigned(spark, sf_dir):
    d = _docs(spark, sf_dir).limit(40)
    a = sorted(
        (r.doc_id, tuple(r.vector))
        for r in emb.hashed_tf(d, "doc_id", "text", dim=DIM).collect()
    )
    b = sorted(
        (r.doc_id, tuple(r.vector))
        for r in emb.hashed_tf(
            d.repartition(13), "doc_id", "text", dim=DIM, num_partitions=7
        ).collect()
    )
    assert a == b
    # unsigned: components = plain bucket counts, sum == token count
    u = emb.hashed_tf(d, "doc_id", "text", dim=DIM, signed=False)
    texts = {r.doc_id: r.text for r in d.collect()}
    for r in u.collect():
        n_toks = len([t for t in texts[r.doc_id].lower().split() if t])
        assert sum(r.vector) == n_toks
        assert all(x >= 0 for x in r.vector)


def test_hashed_tf_empty_and_cancellation(spark):
    # dim=1: every token lands in bucket 0, so one +1 and one -1
    # token cancel to a zero vector (which still emits a row — only
    # EMPTY token streams emit none)
    pos = neg = None
    for i in range(200):
        w = f"w{i}"
        v = emb.py_hashed_tf(w, 1)
        if v[0] > 0 and pos is None:
            pos = w
        if v[0] < 0 and neg is None:
            neg = w
    assert pos and neg
    df = spark.createDataFrame(
        [(0, f"{pos} {neg}"), (1, "   \n  "), (2, ""), (3, pos)],
        "doc_id long, text string",
    )
    got = {r.doc_id: list(r.vector) for r in emb.hashed_tf(df, "doc_id", "text", dim=1).collect()}
    assert set(got) == {0, 3}  # blank docs emit no row
    assert got[0] == [0.0]
    assert got[3] == [1.0]


def test_hashed_topk_matches_python_mirror(spark, sf_dir):
    d = _docs(spark, sf_dir).limit(80)
    vecs = emb.hashed_tf(d, "doc_id", "text", dim=DIM).localCheckpoint()
    by_id = {r.doc_id: list(r.vector) for r in vecs.collect()}
    q_ids = sorted(by_id)[:6]
    queries = vecs.filter(F.col("doc_id").isin(q_ids))
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in emb.hashed_topk(vecs, queries, k=3).collect()
    }
    assert got == py_hashed_topk(by_id, q_ids, k=3)
    # exact ties straddling k, any layout
    by_id = dict(enumerate(tie_vectors().tolist()))
    for vecs in tie_frames(spark, "doc_id", "vector"):
        got = {
            (r.query_id, r.rank): r.neighbor_id
            for r in emb.hashed_topk(vecs, vecs.filter(F.col("doc_id").isin(*TIE_QUERIES)), k=3)
            .collect()
        }
        assert got == py_hashed_topk(by_id, TIE_QUERIES, k=3)


def test_hashed_topk_zero_norm_and_guard(spark, monkeypatch):
    import pytest

    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [-1.0, 0.0])]
    vecs = spark.createDataFrame(rows, "doc_id long, vector array<double>")
    out = {
        (r.query_id, r.rank): r.neighbor_id
        for r in emb.hashed_topk(vecs, vecs.filter(F.col("doc_id") == 0), k=3).collect()
    }
    # sims from q=0: c2 = 1/sqrt(2) ~ .707, c1 = 0.0 (zero norm), c3 = -1
    assert out == {(0, 1): 2, (0, 2): 1, (0, 3): 3}
    monkeypatch.setattr(emb, "MAX_DRIVER_QUERIES", 2)
    with pytest.raises(ValueError):
        emb.hashed_topk(vecs, vecs, k=1)


def test_hashed_vectors_feed_semdedup_and_near_dups(spark, sf_dir):
    from ocr_compare_spark.operators import dedup

    d = _docs(spark, sf_dir).limit(60)
    vecs = emb.hashed_tf(d, "doc_id", "text", dim=DIM).select(
        F.col("doc_id").alias("vec_id"), F.col("vector").alias("embedding")
    )
    n = vecs.count()
    nd = dedup.embed_near_dups(vecs, threshold=0.9, sign_bits=4)
    assert nd.count() >= 0  # composes without error
    from ocr_compare_spark.operators import similarity

    cents = similarity.seeded_centroids(4, DIM)
    kept = dedup.semdedup(vecs, centroids=cents, threshold=0.95, method="data")
    assert kept.count() == n


def test_hashed_topk_tie_stable_and_layout_independent(spark):
    # nine identical corpus vectors tie at sim 1.0 — the partial cut
    # must keep the LOWEST ids (the final window's total order), in
    # any partition layout
    rows = [(0, [1.0, 0.0])] + [(i, [2.0, 0.0]) for i in range(1, 10)]
    expected = {(0, 1): 1, (0, 2): 2, (0, 3): 3}
    for parts in (1, 5):
        vecs = spark.createDataFrame(
            rows, "doc_id long, vector array<double>"
        ).repartition(parts)
        got = {
            (r.query_id, r.rank): r.neighbor_id
            for r in emb.hashed_topk(
                vecs, vecs.filter(F.col("doc_id") == 0), k=3
            ).collect()
        }
        assert got == expected, parts
