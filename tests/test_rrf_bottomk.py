"""Session-10 additions: reciprocal-rank fusion (index.rrf_fuse),
and exact-size bottom-k sampling (sampling.bottomk_sample).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from ocr_compare_spark.operators import index as index_ops, sampling
from ocr_compare_spark.operators import embedding as emb_ops


# ------------------------------------------------------------ RRF


def _rrf_mirror(rankings, k0=60, k=10):
    """Pure-python mirror: rankings = list of {(qid): [(rank, id)]}
    flattened as (qid, rank, id) tuples."""
    scores: dict = {}
    hits: dict = {}
    for rows in rankings:
        for qid, rank, did in rows:
            w6 = int(1e6 / (k0 + float(rank)) + 0.5)
            scores[(qid, did)] = scores.get((qid, did), 0) + w6
            hits[(qid, did)] = hits.get((qid, did), 0) + 1
    out = {}
    byq: dict = {}
    for (qid, did), s in scores.items():
        byq.setdefault(qid, []).append((-s, did))
    for qid, lst in byq.items():
        lst.sort()
        for r, (neg, did) in enumerate(lst[:k], start=1):
            out[(qid, r)] = (did, -neg, hits[(qid, did)])
    return out


def test_rrf_matches_mirror(spark):
    a = [(1, 1, 100), (1, 2, 200), (1, 3, 300), (2, 1, 300)]
    b = [(1, 1, 200), (1, 2, 999), (2, 1, 100), (2, 2, 300)]
    ra = spark.createDataFrame(a, "query_id long, rank long, id long")
    rb = spark.createDataFrame(b, "query_id long, rank long, id long")
    got = {
        (r["query_id"], r["rank"]): (r["id"], r["rrf6"], r["n_rankers"])
        for r in index_ops.rrf_fuse([ra, rb], k=10).collect()
    }
    assert got == _rrf_mirror([a, b])
    # doc 200 appears rank2+rank1 -> beats 100 (rank1 only) for q1
    assert got[(1, 1)][0] == 200 and got[(1, 1)][2] == 2


def test_rrf_tie_breaks_to_lowest_id(spark):
    # two docs with identical single-ranker ranks in different
    # rankers -> equal rrf6; lower id must win
    ra = spark.createDataFrame([(1, 1, 500)], "query_id long, rank long, id long")
    rb = spark.createDataFrame([(1, 1, 400)], "query_id long, rank long, id long")
    rows = index_ops.rrf_fuse([ra, rb], k=2).collect()
    assert [(r["rank"], r["id"]) for r in sorted(rows, key=lambda r: r["rank"])] == [
        (1, 400),
        (2, 500),
    ]


def test_rrf_bm25_plus_cosine_composition(spark):
    """End-to-end hybrid retrieval: BM25 + hashed-TF cosine fused;
    the fusion must equal the mirror applied to the two collected
    component rankings (the operator is pure in its inputs)."""
    docs = spark.createDataFrame(
        [
            (0, "cat dog mat"),
            (1, "cat dog log cat"),
            (2, "quantum flux capacitor"),
            (3, "cat cat cat dog dog dog"),
            (4, "dog mat flux"),
        ],
        "doc_id long, text string",
    )
    queries = docs.filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    bm = index_ops.bm25_topk(docs, queries, k=4).localCheckpoint()
    vecs = emb_ops.hashed_tf(docs, "doc_id", "text", dim=16).localCheckpoint()
    ht = (
        emb_ops.hashed_topk(vecs, vecs.filter(F.col("doc_id") == 0), k=4)
        .select("query_id", "rank", F.col("neighbor_id").alias("id"))
        .localCheckpoint()
    )
    fused = index_ops.rrf_fuse(
        [bm.select("query_id", "rank", "id"), ht], k=5
    ).collect()
    mirror = _rrf_mirror(
        [
            [(r["query_id"], r["rank"], r["id"]) for r in bm.collect()],
            [(r["query_id"], r["rank"], r["id"]) for r in ht.collect()],
        ],
        k=5,
    )
    got = {
        (r["query_id"], r["rank"]): (r["id"], r["rrf6"], r["n_rankers"])
        for r in fused
    }
    assert got == mirror
    # sanity: at least one doc is endorsed by both rankers
    assert any(v[2] == 2 for v in got.values())


# ------------------------------------------------------------ bottom-k


def _bk_frac(key) -> float:
    h = hashlib.md5(f"bottomk:{key}".encode()).hexdigest()
    return int(h[:8], 16) / 4294967296.0


def test_bottomk_exact_size_and_membership(spark):
    rows = [(i, "big" if i < 40 else "small") for i in range(46)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.bottomk_sample(df, "doc_id", k=7, strata_col="lang").collect()
    by_lang: dict = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    # exact min(k, n) per stratum
    assert len(by_lang["big"]) == 7
    assert len(by_lang["small"]) == 6  # only 6 rows exist
    # membership == the k smallest prefixed hashes (python mirror)
    want_big = sorted(range(40), key=lambda i: (_bk_frac(i), i))[:7]
    assert sorted(r["doc_id"] for r in by_lang["big"]) == sorted(want_big)
    # sample_rank is the (frac, key) position, frac is round6'd
    for r in out:
        assert abs(r["frac"] - round(_bk_frac(r["doc_id"]), 6)) < 1e-12
    got_ranked = [
        r["doc_id"]
        for r in sorted(by_lang["big"], key=lambda r: r["sample_rank"])
    ]
    assert got_ranked == want_big


def test_bottomk_layout_invariant_and_prefix_property(spark):
    df = spark.createDataFrame(
        [(i, "x") for i in range(100)], "doc_id long, lang string"
    )
    a = sampling.bottomk_sample(df, "doc_id", k=10, strata_col="lang")
    b = sampling.bottomk_sample(
        df.repartition(7, "doc_id"), "doc_id", k=10, strata_col="lang"
    )
    ida = sorted((r["sample_rank"], r["doc_id"]) for r in a.collect())
    idb = sorted((r["sample_rank"], r["doc_id"]) for r in b.collect())
    assert ida == idb
    # bottom-j is a PREFIX of bottom-k (the order-sketch property)
    j = sampling.bottomk_sample(df, "doc_id", k=4, strata_col="lang").collect()
    assert sorted((r["sample_rank"], r["doc_id"]) for r in j) == ida[:4]


def test_bottomk_global_and_independence_from_hash_sample(spark):
    df = spark.createDataFrame([(i, "x") for i in range(200)], "doc_id long, lang string")
    # one stratum holding every row: exactly k rows
    out = sampling.bottomk_sample(df, "doc_id", k=5, strata_col="lang")
    assert out.count() == 5
    # domain separation: composing after a hash_frac filter (the
    # unprefixed sampler stream) must still be a uniform subsample of
    # the SURVIVORS, not the survivors' own hash-order prefix (the
    # assign_split correlation regression) — with a shared stream the
    # bottom-k of survivors would equal the global bottom-k exactly
    # (survivors = smallest unprefixed hashes; bottom-k = smallest
    # hashes of those)
    surv = df.filter(sampling.hash_frac("doc_id") < 0.3)
    got = {
        r["doc_id"]
        for r in sampling.bottomk_sample(surv, "doc_id", k=8, strata_col="lang").collect()
    }
    surv_ids = [r["doc_id"] for r in surv.collect()]
    assert len(got) == 8 and got <= set(surv_ids)
    unprefixed_prefix = set(
        sorted(
            surv_ids,
            key=lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16),
        )[:8]
    )
    assert got != unprefixed_prefix


def test_bottomk_null_strata_null_keys_and_dup_keys(spark):
    """Review-pass contracts: a NULL stratum is a regular stratum
    (null-safe join-back — an EqualTo join silently dropped its
    winners); NULL keys take no draw and never sample; a key value
    repeated within its stratum holds ONE rank slot and fans out to
    all its rows on the join-back (key-level selection, as a
    hash_frac filter selects)."""
    rows = [(i, None) for i in range(10)]  # NULL stratum, 10 keys
    rows += [(100 + i, "en") for i in range(10)]
    rows += [(None, "en")]  # NULL key: excluded
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.bottomk_sample(df, "doc_id", k=3, strata_col="lang").collect()
    by_stratum: dict = {}
    for r in out:
        by_stratum.setdefault(r["lang"], []).append(r["doc_id"])
    assert len(by_stratum[None]) == 3  # NULL stratum sampled
    assert len(by_stratum["en"]) == 3
    assert all(d is not None for ds in by_stratum.values() for d in ds)
    want_null = sorted(range(10), key=lambda i: (_bk_frac(i), i))[:3]
    assert sorted(by_stratum[None]) == sorted(want_null)

    # duplicate keys: each selected KEY carries all its rows
    dup = spark.createDataFrame(
        [(7, "x"), (7, "x"), (8, "x"), (9, "x")], "doc_id long, lang string"
    )
    picked = sampling.bottomk_sample(dup, "doc_id", k=2, strata_col="lang").collect()
    keys = sorted(r["doc_id"] for r in picked)
    want_keys = sorted([7, 8, 9], key=lambda i: (_bk_frac(i), i))[:2]
    if 7 in want_keys:
        assert keys.count(7) == 2  # both rows of the dup key ride
    assert sorted(set(keys)) == sorted(want_keys)
    # ranks are per-KEY: no rank exceeds k
    assert all(r["sample_rank"] <= 2 for r in picked)


def test_bottomk_rejects_nonpositive_k(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, lang string")
    try:
        sampling.bottomk_sample(df, "doc_id", k=0, strata_col="lang")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
