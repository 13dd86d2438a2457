"""Session-11: weighted sampling without replacement
(sampling.priority_sample — Efraimidis & Spirakis 2006 exponential
ranks in exact int64 microunits)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from ocr_compare_spark.operators import sampling


# ------------------------------------------------------- python mirror


def py_wpri(key, weight: float) -> int:
    """Bit-for-bit mirror of sampling.wpri_priority (the repo's
    mirror-parity convention: math.log == JVM ln on this box holds
    under floor-round6, the lm/recrawl precedent)."""
    prefix = int(
        hashlib.md5(f"wpri:{key}".encode()).hexdigest()[:8], 16
    )
    u = (prefix + 0.5) / 4294967296.0
    ln6 = math.floor(math.log(u) * 1e6 + 0.5)
    return math.floor(-ln6 / float(weight) + 0.5)


def py_priority_sample(rows, k: int):
    """rows = [(stratum, key, weight)]; returns
    {(stratum, key): (pri6, rank)} — one slot per key at MAX weight,
    non-positive/None weights excluded."""
    best: dict = {}
    for s, key, w in rows:
        if key is None or w is None or not (w > 0) or math.isnan(w):
            continue
        cur = best.get((s, key))
        if cur is None or w > cur:
            best[(s, key)] = w
    by_stratum: dict = {}
    for (s, key), w in best.items():
        by_stratum.setdefault(s, []).append((py_wpri(key, w), key))
    out = {}
    for s, lst in by_stratum.items():
        lst.sort()
        for rank, (pri, key) in enumerate(lst[:k], start=1):
            out[(s, key)] = (pri, rank)
    return out


def _collect(df):
    return {
        (r["lang"], r["doc_id"]): (r["priority6"], r["sample_rank"])
        for r in df.collect()
    }


def test_priority_sample_matches_mirror(spark):
    rows = [
        ("en", i, float(1 + (i * 7) % 13)) for i in range(60)
    ] + [("de", 1000 + i, float(1 + (i % 5))) for i in range(30)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, w double")
    got = _collect(
        sampling.priority_sample(df, "doc_id", "w", k=10, strata_col="lang")
    )
    assert got == py_priority_sample(rows, 10)
    # exact size per stratum
    langs = [k[0] for k in got]
    assert langs.count("en") == 10 and langs.count("de") == 10


def test_priority_sample_min_k_n_and_weight_bias(spark):
    # n < k stratum keeps everything; a dominant weight always wins
    rows = [("xx", 1, 0.001), ("xx", 2, 1e9), ("xx", 3, 0.001)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, w double")
    got = _collect(
        sampling.priority_sample(df, "doc_id", "w", k=2, strata_col="lang")
    )
    assert len(got) == 2 and got == py_priority_sample(rows, 2)
    # the 1e9-weight key's priority is ~0 microunits -> rank 1
    assert got[("xx", 2)][1] == 1


def test_priority_sample_weight_rules(spark):
    # NULL key, NULL / NaN / zero / negative weights never sample;
    # a duplicated key holds ONE slot at its MAX weight
    rows = [
        ("en", 1, 5.0),
        ("en", 1, 2.0),  # dup key, smaller weight -> same slot
        ("en", 2, 0.0),
        ("en", 3, -4.0),
        ("en", 4, None),
        ("en", 5, float("nan")),
        ("en", None, 9.0),
        ("en", 6, 1.0),
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, w double")
    out = sampling.priority_sample(df, "doc_id", "w", k=10, strata_col="lang")
    got = _collect(out)
    assert set(got) == {("en", 1), ("en", 6)}
    assert got == py_priority_sample(rows, 10)
    # BOTH rows of the dup key ride its one slot
    assert out.count() == 3
    pri = {r["doc_id"]: r["priority6"] for r in out.collect()}
    assert pri[1] == py_wpri(1, 5.0)  # max weight, not last/first


def test_wpri_priority_null_for_weights_that_take_no_draw(spark):
    """A NULL, NaN, zero or negative weight gets a NULL priority (no
    job failure, no rank ahead of every real draw); a positive weight
    keeps its mirror value."""
    rows = [(1, 1.0), (2, 0.0), (3, -2.0), (4, None), (5, float("nan"))]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = {
        r["doc_id"]: r["p"]
        for r in df.select("doc_id", sampling.wpri_priority("doc_id", "w").alias("p")).collect()
    }
    assert got == {1: py_wpri(1, 1.0), 2: None, 3: None, 4: None, 5: None}


def test_priority_sample_prefix_and_layout_invariance(spark):
    rows = [("en", i, float(1 + i % 7)) for i in range(100)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, w double")
    k8 = _collect(
        sampling.priority_sample(df, "doc_id", "w", k=8, strata_col="lang")
    )
    k3 = _collect(
        sampling.priority_sample(df, "doc_id", "w", k=3, strata_col="lang")
    )
    # bottom-3 of the bottom-8 is its prefix (same members AND ranks)
    assert k3 == {kk: v for kk, v in k8.items() if v[1] <= 3}
    # partition layout must not change the sample
    relay = _collect(
        sampling.priority_sample(
            df.repartition(13, "w"), "doc_id", "w", k=8, strata_col="lang"
        )
    )
    assert relay == k8


# --------------------------------------------- recall@k (session 11)


def test_recall_at_k_mirror_and_edges(spark):
    from ocr_compare_spark.operators import similarity

    truth = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 20), (1, 3, 30), (2, 1, 10), (2, 2, 40)],
        "query_id long, rank long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        # q1: 2/3 hit; q2: 0 hits (left-join zero row); q3 absent
        # from truth -> contributes no row (0/0 undefined)
        [(1, 1, 10), (1, 2, 99), (1, 3, 30), (2, 1, 77), (3, 1, 10)],
        "query_id long, rank long, neighbor_id long",
    )
    got = {
        r["query_id"]: (r["n_hits"], r["n_truth"], r["recall6"])
        for r in similarity.recall_at_k(approx, truth).collect()
    }
    assert got == {1: (2, 3, 666667), 2: (0, 2, 0)}


def test_recall_at_k_ivf_vs_bf_composition(spark, sf_dir):
    """End-to-end: seeded-IVF recall against brute force on the real
    embeddings table — exact when nprobe = n_cells, <= 1 otherwise,
    and equal to the driver-side set arithmetic."""
    from ocr_compare_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 8")
    bf = similarity.brute_force_topk_df(emb, q, k=3).select(
        "query_id", "rank", "neighbor_id"
    ).localCheckpoint()
    ivf = similarity.ivf_topk(emb, q, k=3, nprobe=4).localCheckpoint()
    rec = {
        r["query_id"]: (r["n_hits"], r["recall6"])
        for r in similarity.recall_at_k(ivf, bf).collect()
    }
    t_sets: dict = {}
    a_sets: dict = {}
    for r in bf.collect():
        t_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ivf.collect():
        a_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    import math

    expect = {
        qid: (
            len(t & a_sets.get(qid, set())),
            math.floor(len(t & a_sets.get(qid, set())) / len(t) * 1e6 + 0.5),
        )
        for qid, t in t_sets.items()
    }
    assert rec == expect
    # probing ALL cells makes IVF exact -> recall 1.0 everywhere
    full = similarity.ivf_topk(emb, q, k=3, nprobe=16)
    rec_full = similarity.recall_at_k(full, bf).collect()
    assert all(r["recall6"] == 1000000 for r in rec_full)
