"""Dedup + similarity operators: planted duplicates must be found;
ANN recall is measured against the exact result."""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_compare_spark.operators import adaptive, dedup, similarity
from tests.mirrors import TIE_QUERIES, tie_frames, tie_vectors


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(42)
    vocab = [f"tok{i}" for i in range(200)]
    rows = []
    for i in range(60):
        words = list(rng.choice(vocab, size=80))
        rows.append((i, " ".join(words), "en"))
    # planted exact duplicate of doc 0 and near-duplicate of doc 1
    rows.append((1000, rows[0][1], "en"))
    near = rows[1][1].split()
    near[3] = "CHANGED"
    rows.append((1001, " ".join(near), "en"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string").cache()


def test_exact_dedup_finds_planted(corpus):
    groups = dedup.exact_dedup(corpus, "doc_id", "text")
    dup = groups.filter(F.col("n_docs") > 1).collect()
    assert len(dup) == 1
    assert dup[0].keep_id == 0 and dup[0].n_docs == 2


def test_minhash_lsh_finds_planted(corpus):
    pairs = dedup.lsh_candidates(corpus, "doc_id", "text", verify_threshold=0.5)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1000) in found
    assert (1, 1001) in found
    # jaccard of the exact pair is 1.0
    exact = pairs.filter((F.col("id_a") == 0) & (F.col("id_b") == 1000)).first()
    assert exact.jaccard == 1.0


_DUP_BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_DUP_NEAR = _DUP_BASE.replace("delta", "DELTA")
# two exact-dup groups (3 copies, 2 copies) one near-dup apart
EXACT_DUP_ROWS = [(1, _DUP_BASE), (2, _DUP_BASE), (3, _DUP_BASE), (10, _DUP_NEAR), (11, _DUP_NEAR)]


def test_minhash_exact_dup_group_expansion(spark):
    """lsh_candidates canonicalizes exact dups before the LSH path;
    the expansion must emit ALL within-group pairs (jaccard 1.0) and
    cross-group pairs carrying the representative jaccard."""
    df = spark.createDataFrame(EXACT_DUP_ROWS, "doc_id long, text string")
    out = dedup.lsh_candidates(df, "doc_id", "text", verify_threshold=0.3)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= set(got)
    assert all(got[p] == 1.0 for p in [(1, 2), (1, 3), (2, 3)])
    assert got[(10, 11)] == 1.0
    cross = {p for p in got if p[0] <= 3 and p[1] >= 10}
    # every member pair across the two groups, all with the same
    # (representative) jaccard < 1.0
    assert cross == {(a, b) for a in (1, 2, 3) for b in (10, 11)}
    cross_vals = {got[p] for p in cross}
    assert len(cross_vals) == 1 and 0.3 <= cross_vals.pop() < 1.0


def test_simhash_near_dup_small_hamming(corpus):
    sh = {r.id: (r.sim_hi, r.sim_lo) for r in dedup.simhash(corpus, "doc_id", "text").collect()}
    assert all(0 <= hi < 2**32 and 0 <= lo < 2**32 for hi, lo in sh.values())
    assert sh[0] == sh[1000]  # identical docs -> identical simhash

    def ham(a, b):
        return bin((a[0] ^ b[0]) | ((a[1] ^ b[1]) << 32)).count("1")

    assert ham(sh[1], sh[1001]) <= 8  # near-dup -> close in hamming space
    assert ham(sh[0], sh[2]) > ham(sh[1], sh[1001])


def test_simhash_hamming_column_matches_python(corpus):
    sh = dedup.simhash(corpus, "doc_id", "text")
    a = sh.filter(F.col("id").isin(1, 1001)).collect()
    pairs = (
        sh.alias("l")
        .join(sh.alias("r"), F.col("l.id") < F.col("r.id"))
        .filter(F.col("l.id").isin(1) & F.col("r.id").isin(1001))
        .select(
            dedup.hamming64(
                F.col("l.sim_hi"), F.col("l.sim_lo"), F.col("r.sim_hi"), F.col("r.sim_lo")
            ).alias("ham")
        )
        .collect()
    )
    by_id = {r.id: (r.sim_hi, r.sim_lo) for r in a}
    expect = bin(
        (by_id[1][0] ^ by_id[1001][0]) | ((by_id[1][1] ^ by_id[1001][1]) << 32)
    ).count("1")
    assert pairs[0].ham == expect


def test_simhash_near_dups_equals_hamming_ball(corpus):
    """The MJS pigeonhole block join is EXACT, not probabilistic:
    for every k the output must equal the brute-force Hamming ball
    over the fingerprints. k=4 exercises a block straddling the
    hi/lo half boundary (widths 13/13/13/13/12, block 2 spans bits
    26-38); k=8 is wide enough to catch the planted near-dup."""
    sh = {r.id: (r.sim_hi, r.sim_lo) for r in dedup.simhash(corpus, "doc_id", "text").collect()}

    def ham(a, b):
        return bin((a[0] ^ b[0]) | ((a[1] ^ b[1]) << 32)).count("1")

    ids = sorted(sh)
    for k in (3, 4, 8):
        want = {
            (a, b, ham(sh[a], sh[b]))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if ham(sh[a], sh[b]) <= k
        }
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.simhash_near_dups(corpus, "doc_id", "text", max_distance=k).collect()
        }
        assert got == want, f"k={k}"
    # the planted exact pair is at distance 0, the near-dup within 8
    got8 = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_dups(corpus, "doc_id", "text", max_distance=8).collect()
    }
    assert got8[(0, 1000)] == 0
    assert (1, 1001) in got8


def test_sim_block_reassembles_fingerprint(corpus):
    """Concatenating the k+1 blocks (any k) reconstructs the full
    64-bit fingerprint — no bit is dropped or double-counted."""
    row = dedup.simhash(corpus, "doc_id", "text").filter(F.col("id") == 1).first()
    full = row.sim_lo | (row.sim_hi << 32)
    for k in (0, 3, 4, 6, 8):
        nb = k + 1
        base, rem = divmod(64, nb)
        widths = [base + (1 if j < rem else 0) for j in range(nb)]
        starts = [sum(widths[:j]) for j in range(nb)]
        sel = [dedup._sim_block(starts[j], widths[j]).alias(f"b{j}") for j in range(nb)]
        blk = (
            dedup.simhash(corpus, "doc_id", "text")
            .filter(F.col("id") == 1)
            .select(*sel)
            .first()
        )
        recon = 0
        for j in range(nb):
            # a full-width block (k=0) comes back as a SIGNED long;
            # compare bit patterns
            recon |= (blk[f"b{j}"] & ((1 << widths[j]) - 1)) << starts[j]
        assert recon == full, f"k={k}"


def test_adjacent_ngram_jaccard(corpus):
    out = dedup.adjacent_ngram_jaccard(corpus, "doc_id", "text", "lang")
    rows = {(r.id, r.next_id): r.jaccard for r in out.collect()}
    assert rows[(59, 1000)] is not None
    # 1000 is a copy of 0; its neighbor 1001 is unrelated to it
    assert all(0.0 <= v <= 1.0 for v in rows.values())


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    mat = rng.standard_normal((100, 16)).astype(np.float32)
    # planted neighbor: noise only in dims 4+ so the pair shares its
    # sign orthant on the first 4 dims (embed_near_dups blocking key —
    # noise on a near-zero component would flip a sign and land the
    # pair in different blocks, the operator's documented recall miss)
    noise = rng.standard_normal(16).astype(np.float32)
    noise[:4] = 0.0
    mat[50] = mat[0] + 0.01 * noise
    rows = [(i, [float(x) for x in mat[i]]) for i in range(100)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache(), mat


def test_brute_force_topk_exact(vectors):
    df, mat = vectors
    qs = [(0, [float(x) for x in mat[0]]), (3, [float(x) for x in mat[3]])]
    got = similarity.brute_force_topk(df, qs, k=3)
    rows = {(r.query_id, r.rank): r.neighbor_id for r in got.collect()}
    # numpy reference
    m = mat.astype(np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    for q in (0, 3):
        order = [i for i in np.argsort(-sims[q], kind="stable") if i != q][:3]
        for rank, nid in enumerate(order, start=1):
            assert rows[(q, rank)] == nid
    assert rows[(0, 1)] == 50  # the planted neighbor wins
    # exact ties straddling k keep their lowest ids, in any layout
    t = tie_vectors()
    tn = t / np.linalg.norm(t, axis=1, keepdims=True)
    want = {q: _by_score(tn @ tn[q], q) for q in TIE_QUERIES}
    tqs = [(q, list(t[q])) for q in TIE_QUERIES]
    for tdf in tie_frames(df.sparkSession, "vec_id", "embedding"):
        assert _neighbors(similarity.brute_force_topk(tdf, tqs, k=3).collect()) == want


def _by_score(scores, q, k=3):
    """The k ids after ``q`` under (score desc, id asc)."""
    return sorted((i for i in range(len(scores)) if i != q), key=lambda i: (-scores[i], i))[:k]


def _neighbors(rows):
    """{query_id: [neighbor_id by rank]} of ranked top-k rows."""
    out = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        out.setdefault(r.query_id, []).append(r.neighbor_id)
    return out


def test_lsh_topk_recall(vectors):
    df, mat = vectors
    queries = df.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(
        df, [(i, [float(x) for x in mat[i]]) for i in range(10)], k=3
    )
    approx = similarity.lsh_topk(df, queries, k=3, n_planes=4, n_tables=6)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6  # multi-table LSH amplifies recall
    # the planted near-identical pair lands in the same bucket
    assert (0, 50) in a


def _word_shingles_mirror(text, n):
    """Pure-Python word_shingles: Java's ``\\s+`` split keeps empty
    edge tokens (re.split does too; re.ASCII matches Java's \\s), and
    array_distinct keeps first occurrences in order."""
    if text is None:
        return [None]
    toks = re.split(r"\s+", text, flags=re.ASCII)
    grams = [" ".join(toks[i:i + n]) for i in range(max(len(toks) - (n - 1), 1))]
    return list(dict.fromkeys(grams))


def test_word_shingles_matches_mirror(spark):
    texts = [
        None,
        "",
        "   ",
        "\t\n ",
        " lead and trail ",                   # empty first and last token
        "two words",                          # fewer than n tokens
        "a b c a b c a b c",                  # repeated n-grams
        "naïve café 日本語 テキスト über straße",  # multibyte
        "nbsp\u00a0is not\u2003a separator",  # Java \s is ASCII-only
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    for n in (1, 3):
        got = {
            r.id: r.s
            for r in df.select("id", dedup.word_shingles("text", n).alias("s")).collect()
        }
        assert got == {i: _word_shingles_mirror(t, n) for i, t in enumerate(texts)}, n


def test_ngram_builders_tokenize_once(spark):
    # every window lambda reads the bound token array: one split per
    # row, not one per window position
    assert str(dedup.word_shingles("text", 3)).count("split(") == 1
    assert str(dedup._word_ngram_hashes(F.col("text"), 8)).count("split(") == 1


def test_plan_audit_flags_lambda_tokenizers(spark):
    """plan_audit's lambda-tokenizer rule flags the re-splitting
    shingle form and passes the bound builders."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "tools" / "plan_audit.py"
    spec = importlib.util.spec_from_file_location("plan_audit", path)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)

    df = spark.createDataFrame([(1, "a b c d")], "id int, text string")
    toks = F.split(F.col("text"), r"\s+")
    resplit = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.array_join(F.slice(toks, i, 3), " "),
    )
    hits = audit.lambda_tokenizers(audit.optimized_plan_of(df.select(resplit.alias("s"))))
    assert len(hits) == 1 and hits[0].startswith("split(text#")
    bound = df.select(
        dedup.word_shingles("text", 3),
        dedup._word_ngram_hashes(F.col("text"), 2),
        F.transform(F.split("text", " "), lambda w: F.split(w, "b")),
    )
    assert audit.lambda_tokenizers(audit.optimized_plan_of(bound)) == []


def test_adjacent_bucketed_equals_naive(corpus):
    """The sub-bucketed sorted-neighborhood plan must return EXACTLY
    the single-window result (bucket boundaries stitched, id gaps
    skipping empty buckets), and its window must partition by
    (part, bucket) — no one-task-per-lang serialization."""
    from pyspark.sql import Window

    got = dedup.adjacent_ngram_jaccard(corpus, "doc_id", "text", "lang", bucket_size=16)
    rows = {(r.part, r.id, r.next_id): r.jaccard for r in got.collect()}
    # naive reference: one global window per part
    sh = dedup.word_shingles("text", 3)
    w = Window.partitionBy("part").orderBy("id")
    naive = (
        corpus.select(F.col("lang").alias("part"), F.col("doc_id").alias("id"), sh.alias("sh"))
        .withColumn("next_id", F.lead("id").over(w))
        .withColumn("next_sh", F.lead("sh").over(w))
        .filter(F.col("next_id").isNotNull())
        .select("part", "id", "next_id",
                F.round(dedup.jaccard_arrays(F.col("sh"), F.col("next_sh")), 6).alias("jaccard"))
    )
    expect = {(r.part, r.id, r.next_id): r.jaccard for r in naive.collect()}
    assert rows == expect
    # the 60->1000 id gap crosses many empty buckets of size 16
    assert ("en", 59, 1000) in rows
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(part" in plan and "bucket" in plan


def test_ivf_topk_recall(vectors):
    df, mat = vectors
    queries = df.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(
        df, [(i, [float(x) for x in mat[i]]) for i in range(10)], k=3
    )
    cents = similarity.seeded_centroids(n_centroids=8, dim=16)
    approx = similarity.ivf_topk(df, queries, k=3, nprobe=4, centroids=cents)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.6
    # the planted near-identical pair shares its max-dot cell
    assert (0, 50) in a


def test_train_centroids_deterministic(vectors):
    df, mat = vectors
    c1 = similarity.train_centroids(df, n_centroids=4, iters=3, id_col="vec_id")
    c2 = similarity.train_centroids(df.repartition(7), n_centroids=4, iters=3, id_col="vec_id")
    assert np.array_equal(c1, c2)
    assert c1.shape == (4, 16)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_embed_near_dups_planted(vectors):
    """Sign-orthant blocked cosine near-dup: the planted (0, 50) pair
    shares its orthant and scores ~1.0; output matches the numpy
    within-block reference exactly."""
    df, mat = vectors
    got = dedup.embed_near_dups(df, threshold=0.9, sign_bits=4)
    pairs = {(r.id_a, r.id_b): r.sim for r in got.collect()}
    assert (0, 50) in pairs
    assert pairs[(0, 50)] > 0.99
    # numpy reference: same blocking, same threshold
    m = mat.astype(np.float64)
    norm = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = norm @ norm.T
    blocks = ((m[:, :4] > 0) * (1 << np.arange(4))).sum(axis=1)
    expect = {
        (i, j)
        for i in range(len(m))
        for j in range(i + 1, len(m))
        if blocks[i] == blocks[j] and sims[i, j] >= 0.9
    }
    assert set(pairs) == expect


def test_brute_force_topk_df_overload(vectors, monkeypatch):
    """DataFrame overload matches the list API and guards the
    driver-side collect."""
    df, mat = vectors
    qs = [(0, [float(x) for x in mat[0]]), (3, [float(x) for x in mat[3]])]
    a = sorted(map(tuple, similarity.brute_force_topk(df, qs, k=3).collect()))
    b = sorted(map(tuple, similarity.brute_force_topk_df(
        df, df.filter(F.col("vec_id").isin(0, 3)), k=3).collect()))
    assert a == b
    import pytest as _pt

    monkeypatch.setattr(similarity, "MAX_DRIVER_QUERIES", 10)
    with _pt.raises(ValueError, match="lsh_topk"):
        similarity.brute_force_topk_df(df, df, k=3)


def test_train_centroids_short_sample_raises(vectors):
    df, _ = vectors
    with pytest.raises(ValueError, match="n_centroids"):
        similarity.train_centroids(df.limit(3), n_centroids=8, id_col="vec_id")


def test_connected_components_cliques_and_chain(spark):
    """Near-dup clustering: cliques collapse to min-id components and
    a CHAIN (diameter 3 — worse than LSH banding ever produces)
    converges through the iterative propagation."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3),        # clique {1,2,3}
         (10, 11),                      # pair {10,11}
         (20, 21), (21, 22), (22, 23)], # chain {20..23}
        "id_a long, id_b long",
    )
    got = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_dedup_keep_list_singletons_and_reps(spark, corpus):
    """dedup_keep_list: every doc gets a component (singletons =
    themselves) and exactly one keep=True representative per
    component (the min id)."""
    pairs = dedup.lsh_candidates(corpus, "doc_id", "text", verify_threshold=0.5)
    out = dedup.dedup_keep_list(corpus, pairs, "doc_id")
    rows = out.select("doc_id", "component", "keep").collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    assert len(rows) == corpus.count()
    for comp, members in by_comp.items():
        assert comp == min(m.doc_id for m in members)
        assert sum(m.keep for m in members) == 1
        assert next(m for m in members if m.keep).doc_id == comp
    # the planted exact dup (0, 1000) collapses; 1000 is dropped
    d = {r.doc_id: r for r in rows}
    assert d[1000].component == 0 and not d[1000].keep and d[0].keep


def test_paragraph_dedup_keep_first(spark):
    # BOILER repeats across three docs (and twice inside doc 3);
    # keep_first keeps only the globally-first (doc 1, pos 0) copy
    boiler = "cookie notice accept all"
    rows = [
        (1, boiler + "\n\nalpha body one"),
        (2, "beta body two\n\n" + boiler),
        (3, boiler + "\n\ngamma body three\n\n" + boiler),
        (4, "unique doc four"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {
        r["id"]: r.asDict()
        for r in dedup.paragraph_dedup(df, "id", "text").collect()
    }
    assert out[1]["text"] == boiler + "\n\nalpha body one"
    assert out[1]["n_dropped"] == 0
    assert out[2]["text"] == "beta body two"
    assert out[2]["n_dropped"] == 1
    assert out[3]["text"] == "gamma body three"
    assert out[3] ["n_dropped"] == 2 and out[3]["n_paras"] == 3
    assert out[4]["text"] == "unique doc four"


def test_paragraph_dedup_blank_safety(spark):
    # blank/whitespace paragraphs are NEVER treated as cross-doc
    # duplicates; the repeated "same" survives only in doc 1
    rows = [
        (1, "same\n\n\n\nkeep a"),   # middle paragraph is empty
        (2, "same\n\n \n\nkeep b"),  # middle paragraph is a space
        (3, "only here"),
        (4, "same\n\n\t\n\nkeep c"),  # tab-only: STILL a separator
        (5, "same\n\n\t\n\nkeep d"),  # artifact (r5 review: F.trim
                                      # misses \t; two tab paragraphs
                                      # must not weld as dups)
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {
        r["id"]: r.asDict()
        for r in dedup.paragraph_dedup(df, "id", "text").collect()
    }
    assert out[1]["text"] == "same\n\n\n\nkeep a" and out[1]["n_dropped"] == 0
    assert out[2]["text"] == " \n\nkeep b" and out[2]["n_dropped"] == 1
    assert out[3]["text"] == "only here" and out[3]["n_dropped"] == 0
    assert out[4]["text"] == "\t\n\nkeep c" and out[4]["n_dropped"] == 1
    assert out[5]["text"] == "\t\n\nkeep d" and out[5]["n_dropped"] == 1


def test_paragraph_dedup_order_and_empty_doc(spark):
    rows = [
        (1, ""),
        (2, "z last\n\na first\n\nz last"),  # intra-doc dup, order kept
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {
        r["id"]: r.asDict()
        for r in dedup.paragraph_dedup(df, "id", "text").collect()
    }
    assert out[1]["text"] == "" and out[1]["n_paras"] == 1
    # first occurrence of "z last" (pos 0) survives, second drops;
    # remaining order is the original document order
    assert out[2]["text"] == "z last\n\na first"
    assert out[2]["n_dropped"] == 1


def test_ngram_decontaminate_planted(spark):
    # doc 1 embeds a verbatim 8-token benchmark sentence mid-document;
    # doc 2 shares only a 7-token run (below n); doc 3 is clean.
    bench_sent = "the quick brown fox jumps over the lazy"
    corpus = [
        (1, "intro words here " + bench_sent + " trailing body text"),
        (2, "the quick brown fox jumps over the fence today"),
        (3, "completely unrelated content with different tokens entirely"),
        (4, "THE QUICK BROWN FOX JUMPS OVER THE LAZY"),  # case-folded hit
    ]
    bench = [(100, bench_sent + " dog benchmark answer key")]
    cdf = spark.createDataFrame(corpus, "id int, text string")
    bdf = spark.createDataFrame(bench, "id int, text string")
    out = {
        r["id"]: r.asDict()
        for r in dedup.ngram_decontaminate(cdf, bdf, "id", "text", n=8).collect()
    }
    assert out[1]["contaminated"] and out[1]["n_hits"] >= 1
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    assert not out[3]["contaminated"]
    assert out[4]["contaminated"]  # lowercase normalization
    # min_hits raises the bar: doc 1 shares exactly one distinct 8-gram
    strict = {
        r["id"]: r["contaminated"]
        for r in dedup.ngram_decontaminate(cdf, bdf, "id", "text", n=8, min_hits=2).collect()
    }
    assert not strict[1]


def test_ngram_decontaminate_short_docs_and_counts(spark):
    # docs shorter than n tokens yield zero grams on either side;
    # n_hits counts DISTINCT shared grams
    cdf = spark.createDataFrame(
        [(1, "a b c d e a b c d e a b c d e"), (2, "tiny")],
        "id int, text string",
    )
    bdf = spark.createDataFrame([(9, "a b c d e a b c d e")], "id int, text string")
    out = {
        r["id"]: r.asDict()
        for r in dedup.ngram_decontaminate(cdf, bdf, "id", "text", n=5).collect()
    }
    # bench grams: the 6 windows of its 10 tokens -> 5 distinct
    # (cycle of period 5); doc 1's windows hit all 5 distinct ones
    assert out[1]["n_hits"] == 5 and out[1]["contaminated"]
    assert out[2]["n_hits"] == 0 and not out[2]["contaminated"]


def test_latest_snapshot_keeps_max_ts_per_key(spark):
    import datetime as dt

    rows = [
        ("u1", dt.datetime(2024, 1, 1), b"old", "a"),
        ("u1", dt.datetime(2024, 3, 1), b"new", "b"),
        ("u1", dt.datetime(2024, 2, 1), b"mid", "c"),
        ("u2", dt.datetime(2024, 1, 15), b"only", "d"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary, lang string")
    out = {r["url"]: r.asDict() for r in dedup.latest_snapshot(df, "url", "warc_ts").collect()}
    assert bytes(out["u1"]["html"]) == b"new" and out["u1"]["n_snapshots"] == 3
    assert out["u1"]["warc_ts"] == dt.datetime(2024, 3, 1)
    assert bytes(out["u2"]["html"]) == b"only" and out["u2"]["n_snapshots"] == 1
    # schema: original columns + n_snapshots
    assert set(dedup.latest_snapshot(df, "url", "warc_ts").columns) == {
        "url", "warc_ts", "html", "lang", "n_snapshots"
    }
    # deterministic tie-break: equal timestamps pick the max row struct
    tie = spark.createDataFrame(
        [("u", dt.datetime(2024, 1, 1), b"x", "a"), ("u", dt.datetime(2024, 1, 1), b"y", "b")],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    got = [dedup.latest_snapshot(tie.repartition(p), "url", "warc_ts").collect()[0]["lang"]
           for p in (1, 4)]
    assert got == ["b", "b"]


@pytest.fixture(scope="module")
def vectors768(spark):
    """Real-embedding shape: dim 768 — the config the literal ANN path
    must NOT be used for at scale (plan blows up O(dim x cells)), used
    here at tiny row count to prove data-path == literal-path."""
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((40, 768))
    mat[30] = mat[2] + 0.01 * rng.standard_normal(768)  # planted neighbor
    rows = [(i, [float(x) for x in mat[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache(), mat


def test_lsh_topk_data_matches_literal_dim768(vectors768):
    df, mat = vectors768
    q = df.filter(F.col("vec_id") < 6)
    kw = dict(k=3, n_planes=6, n_tables=2, dim=768)
    lit_ = {tuple(r) for r in similarity.lsh_topk(df, q, method="literal", **kw).collect()}
    dat = {tuple(r) for r in similarity.lsh_topk(df, q, method="data", **kw).collect()}
    assert dat == lit_ and len(dat) > 0


def test_ivf_topk_data_matches_literal_dim768(vectors768):
    df, mat = vectors768
    q = df.filter(F.col("vec_id") < 6)
    cents = similarity.seeded_centroids(n_centroids=16, dim=768)
    kw = dict(k=3, nprobe=4, centroids=cents, dim=768)
    lit_ = {tuple(r) for r in similarity.ivf_topk(df, q, method="literal", **kw).collect()}
    dat = {tuple(r) for r in similarity.ivf_topk(df, q, method="data", **kw).collect()}
    assert dat == lit_ and len(dat) > 0


def test_ivf_topk_data_path_1024_centroids(vectors768):
    """The shape the literal path cannot express (1024 cells x 768
    dims would be ~786k plan literals): data path must run it, return
    exact cosines for every candidate it scores, and keep ranks
    contiguous per query."""
    df, mat = vectors768
    q = df.filter(F.col("vec_id") < 4)
    cents = similarity.seeded_centroids(n_centroids=1024, dim=768)
    out = similarity.ivf_topk(
        df, q, k=3, nprobe=256, centroids=cents, dim=768, method="data"
    ).collect()
    assert len(out) > 0
    m = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for r in out:
        want = float(np.round(m[r.query_id] @ m[r.neighbor_id], 6))
        assert abs(r.sim - want) <= 1e-6
    for qid in {r.query_id for r in out}:
        ranks = sorted(r.rank for r in out if r.query_id == qid)
        assert ranks == list(range(1, len(ranks) + 1))


def test_ann_dim_hints_skip_sizing_jobs(vectors768):
    """dim= hints must make lsh_topk/ivf_topk plan-building run ZERO
    Spark jobs (the first() dim-sniff on a derived corpus recomputes
    its upstream)."""
    df, _ = vectors768
    derived = df.filter(F.col("vec_id") >= 0)  # derived plan, not a bare scan
    q = derived.filter(F.col("vec_id") < 4)
    sc = df.sparkSession.sparkContext
    sc.setJobGroup("ann_hints", "no jobs expected at plan build")
    try:
        plans = [
            similarity.lsh_topk(derived, q, dim=768, method=m) for m in ("literal", "data")
        ] + [
            similarity.ivf_topk(
                derived, q, centroids=similarity.seeded_centroids(16, 768), dim=768, method=m
            )
            for m in ("literal", "data")
        ]
        ids = sc.statusTracker().getJobIdsForGroup("ann_hints")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(ids) == []
    assert all(p is not None for p in plans)


def test_connected_components_power_law_mega_component(spark):
    """Skew-proof clustering (VERDICT r4 #9): a planted power-law
    component distribution — one 4001-node mega-component (hub star +
    random chords, the worst key skew a dedup graph produces) over a
    tail of ~700 small components with sizes 2..64. Must converge in
    <= 4 propagation rounds (star diameter 2), label every node with
    its component minimum, and be invariant to input partitioning."""
    rng = np.random.default_rng(0)
    edges: list[tuple[int, int]] = [(0, i) for i in range(1, 4001)]  # mega star
    chords = rng.integers(1, 4001, size=(2000, 2))
    edges += [(int(a), int(b)) for a, b in chords if a != b]
    want: dict[int, int] = {i: 0 for i in range(4001)}
    nid = 10_000
    for size, count in [(64, 1), (32, 2), (16, 8), (8, 32), (4, 128), (2, 512)]:
        for _ in range(count):
            root = nid
            for k in range(1, size):
                edges.append((root, root + k))
                want[root + k] = root
            want[root] = root
            nid += size
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component for r in dedup.connected_components(df, max_iters=4).collect()}
    assert got == want
    # partitioning-invariant (no arrival-order dependence under skew)
    got2 = {
        r.id: r.component
        for r in dedup.connected_components(df.repartition(16), max_iters=4).collect()
    }
    assert got2 == want


# ---------------------------------------------- exact substring dedup


def _substring_dedup_mirror(docs, window, min_count=2):
    """Pure-Python mirror of dedup.substring_dedup's contract."""
    occs = {}  # window text -> [(id, start1based)]
    toks = {i: t.split() for i, t in docs}
    for i, _ in docs:
        tt = toks[i]
        for s in range(len(tt) - window + 1):
            occs.setdefault(" ".join(tt[s:s + window]), []).append((i, s + 1))
    spans = {}
    for _, lst in occs.items():
        if len(lst) < min_count:
            continue
        for (i, s) in sorted(lst)[1:]:
            spans.setdefault(i, []).append((s, s + window))
    out = {}
    for i, text in docs:
        if i not in spans:
            out[i] = (text, 0, 0)
            continue
        merged = []
        for s, e in sorted(spans[i]):
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        covered = set()
        for s, e in merged:
            covered.update(range(s, e))
        kept = [t for j, t in enumerate(toks[i], start=1) if j not in covered]
        out[i] = (" ".join(kept), len(merged), sum(e - s for s, e in merged))
    return out


def test_substring_dedup_matches_mirror(spark):
    """Planted boilerplate: a 6-token license block embedded in three
    docs (removed from all but the first), overlapping duplicate
    windows merging into one cut, and an untouched doc keeping its
    original bytes (incl. odd whitespace)."""
    boiler = "all rights reserved by the owner"
    docs = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"start tokens here {boiler} more unique text two"),
        (3, f"{boiler} trailing words"),
        (4, "totally  unique\ncontent with   odd whitespace"),
        # doc 5 repeats doc 1's full text -> every window dups; the
        # merged cut is one long span
        (5, f"alpha beta {boiler} gamma delta"),
    ]
    win = 4
    exp = _substring_dedup_mirror(docs, win)
    got = {
        r["id"]: (r["text"], r["n_spans_removed"], r["n_tokens_removed"])
        for r in dedup.substring_dedup(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "doc_id", "text", window=win,
        ).collect()
    }
    assert got == exp
    # doc 1 is the global keeper: untouched
    assert got[1] == (docs[0][1], 0, 0)
    # doc 4 untouched byte-for-byte (whitespace preserved)
    assert got[4][0] == docs[3][1]
    # doc 5 loses everything (full-text dup of doc 1)
    assert got[5][0] == "" and got[5][1] == 1
    # doc 2/3 lose the boiler block but keep their unique tokens
    assert boiler not in got[2][0] and "more unique text two" in got[2][0]
    assert boiler not in got[3][0] and "trailing words" in got[3][0]


def test_substring_dedup_partition_invariant_and_short_docs(spark):
    corpus = [(i, f"tok{i} " * 3 + "shared run of corpus boilerplate text here "
               + f"tail{i}") for i in range(40)]
    corpus += [(100, "tiny doc")]  # shorter than the window: untouched
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    a = dedup.substring_dedup(df, "doc_id", "text", window=5).collect()
    b = dedup.substring_dedup(
        df.repartition(7), "doc_id", "text", window=5, num_partitions=3
    ).collect()
    key = lambda rows: {r["id"]: (r["text"], r["n_spans_removed"]) for r in rows}
    assert key(a) == key(b)
    assert key(a)[100] == ("tiny doc", 0)
    mirror = _substring_dedup_mirror([(i, t) for i, t in corpus], 5)
    assert key(a) == {i: (t, s) for i, (t, s, _) in mirror.items()}


def test_substring_dedup_randomized_mirror(spark):
    """Seeded randomized cross-check: tiny vocab + short windows force
    dense window collisions (incl. self-overlapping runs like
    'a a a a a'); Spark must equal the pure-Python mirror on every
    corpus."""
    import random

    for seed in range(5):
        rng = random.Random(seed)
        docs = [
            (i, " ".join(rng.choice("abc") for _ in range(rng.randint(0, 30))))
            for i in range(25)
        ]
        docs = [(i, t) for i, t in docs if t]  # empty text -> no tokens
        win = rng.randint(2, 5)
        exp = _substring_dedup_mirror(docs, win)
        got = {
            r["id"]: (r["text"], r["n_spans_removed"], r["n_tokens_removed"])
            for r in dedup.substring_dedup(
                spark.createDataFrame(docs, "doc_id long, text string"),
                "doc_id", "text", window=win,
            ).collect()
        }
        assert got == exp, f"seed={seed} window={win}"


# ------------------------------------------------------ semantic dedup


def test_semdedup_keeps_low_centroid_sim_member(spark):
    """SemDeDup keep rule (Abbas et al. 2023): of a near-dup pair the
    member with LOWER similarity to its cluster centroid survives."""
    cents = np.eye(4)
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),        # centsim 1.0 -> dropped
        (2, [0.995, 0.0995, 0.0, 0.0]),   # ~paraphrase, centsim ~.995 -> kept
        (3, [0.0, 1.0, 0.0, 0.0]),        # alone in its cell -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.id: (r.cell, r.kept) for r in dedup.semdedup(df, cents, threshold=0.95).collect()}
    assert got[1] == (0, False)
    assert got[2][0] == 0 and got[2][1] is True
    assert got[3] == (1, True)


def test_semdedup_pairwise_all_earlier_rule(spark):
    """Chain a~b, b~c (a!~c): order by centroid-sim asc is a, b, c;
    b drops against a, and c drops against b EVEN THOUGH b itself was
    dropped — the paper's sorted-sim-matrix rule compares against all
    earlier points, not only kept ones (pinned as the contract)."""
    import math

    cents = np.array([[1.0, 0.0]])
    ang = lambda d: [math.cos(math.radians(d)), math.sin(math.radians(d))]
    df = spark.createDataFrame(
        [(10, ang(30)), (20, ang(20)), (30, ang(10))],
        "vec_id long, embedding array<double>",
    )
    got = {r.id: r.kept for r in dedup.semdedup(df, cents, threshold=0.97).collect()}
    assert got == {10: True, 20: False, 30: False}


def test_semdedup_data_path_matches_literal(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lit_ = {(r.id, r.cell, r.kept) for r in dedup.semdedup(emb, threshold=0.3).collect()}
    data = {
        (r.id, r.cell, r.kept)
        for r in dedup.semdedup(emb, threshold=0.3, method="data").collect()
    }
    assert lit_ == data
    n_drop = sum(1 for _, _, k in lit_ if not k)
    assert 0 < n_drop < len(lit_)  # nontrivial at the gate threshold

    # scale shape: a dim-256 / 32-cell data-path run stays plan-light
    rng = np.random.default_rng(3)
    big = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(256)]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.lloyd_kmeans(rng.standard_normal((64, 256)), 32, 2)
    out = dedup.semdedup(big, cents, threshold=0.99, method="data").collect()
    assert len(out) == 64 and all(r.kept for r in out)  # random vecs: no dups


def test_d4_prune_semantics(spark):
    """D4 (Tirumala et al. 2023): after SemDeDup, each cell prunes
    the floor(round6(frac*n)) most-prototypical SURVIVORS (highest
    round6 centsim, ties to lowest id). Semdedup-dropped rows carry
    NULL proto_rank and d4_kept False; a 1-survivor cell is never
    wiped (cut floor(0.3*1) = 0)."""
    import math

    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    ang = lambda d: [math.cos(math.radians(d)), math.sin(math.radians(d))]
    # cell 0: 10 distinct at 2°..20° (all < 45°, so argmax keeps them
    # off cell 1; adjacent sim cos(2°)=.99939 < the .9995 threshold)
    rows = [(i, ang(2 * i)) for i in range(1, 11)]
    rows += [(21, ang(89.0)), (22, ang(89.1))]  # cell 1: near-dup pair
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.id: (r.kept, r.proto_rank, r.d4_kept)
        for r in dedup.d4_prune(df, cents, threshold=0.9995, proto_frac=0.3).collect()
    }
    # cell 1: 22 has the HIGHER centsim (closer to 90°) -> semdedup
    # drops it; the lone survivor 21 is never proto-pruned
    assert out[22] == (False, None, False)
    assert out[21] == (True, 1, True)
    # cell 0: all 10 kept; cut = floor(0.3*10) = 3 -> the three
    # highest-centsim members (smallest angles: ids 1, 2, 3) prune
    for i in range(1, 11):
        kept, rank, d4 = out[i]
        assert kept is True
        assert rank == i  # centsim desc == angle asc == id asc here
        assert d4 is (i > 3)

    try:
        dedup.d4_prune(df, cents, proto_frac=1.0)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_d4_prune_data_matches_literal_and_cut_exact(spark, sf_dir):
    """The semdedup data path (broadcast GEMM assignment) yields the
    same semdedup decision set d4_prune builds on at the gate config,
    and the per-cell pruned count is exactly
    floor(round6(frac * n_cell))."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lit_ = dedup.d4_prune(emb, threshold=0.3, proto_frac=0.15).collect()
    data = {
        (r.id, r.cell, r.kept)
        for r in dedup.semdedup(emb, threshold=0.3, method="data").collect()
    }
    assert {(r.id, r.cell, r.kept) for r in lit_} == data
    by_cell: dict = {}
    for r in lit_:
        if r.kept:
            by_cell.setdefault(r.cell, []).append(r)
    pruned_total = 0
    for cell, members in by_cell.items():
        n = len(members)
        # floor(round6(frac * n)) — the same double ops as both engines
        cut = int(((0.15 * n * 1e6 + 0.5) // 1) / 1e6)
        got = sum(1 for m in members if not m.d4_kept)
        assert got == cut, (cell, n, cut, got)
        pruned_total += got
    assert pruned_total > 0  # nontrivial at the gate config


def test_cross_batch_near_dups_store_loop(spark, corpus):
    """The same-batch case of a signature-store loop: the band
    self-join over minhash_tables equals lsh_candidates on
    a distinct-text corpus (exact-dup canonicalization is the identity
    there); the planted near-dup 1001 of doc 1 makes a pair."""
    base = corpus.filter(F.col("doc_id") != 1000)  # drop the exact dup
    sigs = dedup.minhash_tables(base, "doc_id", "text")
    pairs = dedup._band_join_verify(sigs, 0.5, lambda t: t, lambda t: t)
    a = sorted((r.new_id, r.store_id, r.jaccard) for r in pairs.collect())
    b = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.lsh_candidates(
            base, "doc_id", "text", verify_threshold=0.5
        ).collect()
    )
    assert a == b and (1, 1001) in {(x, y) for x, y, _ in a}


# ------------------------------------------------ product quantization


def _lloyd_codebooks(mat, n_sub, n_codes):
    """Per-subspace Euclidean Lloyd codebooks over the id-ordered
    vectors (the sub-quantizer fit train_ivfpq runs on residuals)."""
    m = np.asarray(mat, dtype=np.float64)
    sd = m.shape[1] // n_sub
    return np.stack(
        [similarity._lloyd_kmeans_l2(m[:, j * sd : (j + 1) * sd], n_codes) for j in range(n_sub)]
    )


def _pq_numpy_reference(mat, q_ids, cb, k=3):
    """Plain-numpy mirror of pq_topk semantics: encode = per-subspace
    argmin squared-L2 (ties lowest code), ADC = dot(q_sub, code),
    rank by (score desc, neighbor_id asc), self excluded."""
    n_sub, n_codes, sd = cb.shape
    m = mat.astype(np.float64)
    codes = np.stack(
        [
            np.argmin(
                ((m[:, j * sd : (j + 1) * sd][:, None, :] - cb[j][None, :, :]) ** 2).sum(-1),
                axis=1,
            )
            for j in range(n_sub)
        ],
        axis=1,
    )
    out = {}
    for qid in q_ids:
        lut = np.stack([cb[j] @ m[qid, j * sd : (j + 1) * sd] for j in range(n_sub)])
        scores = sum(lut[j][codes[:, j]] for j in range(n_sub))
        order = sorted(
            (i for i in range(len(m)) if i != qid), key=lambda i: (-scores[i], i)
        )[:k]
        out[qid] = order
    return out


def test_pq_topk_matches_numpy_reference(vectors):
    df, mat = vectors
    q = df.filter(F.col("vec_id") < 6)
    cb = _lloyd_codebooks(mat, n_sub=4, n_codes=8)
    got = similarity.pq_topk(df, q, k=3, n_sub=4, n_codes=8, codebooks=cb, dim=16)
    rows = {}
    for r in got.collect():
        rows.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    want = _pq_numpy_reference(mat, range(6), cb)
    for qid in range(6):
        assert [n for _, n in sorted(rows[qid])] == want[qid], f"q={qid}"
    # exact ties straddling k, both spellings, any layout
    want = _pq_numpy_reference(tie_vectors(), TIE_QUERIES, similarity.seeded_pq_codebooks(4, 8, 4))
    for tdf in tie_frames(df.sparkSession, "vec_id", "embedding"):
        tq = tdf.filter(F.col("vec_id").isin(*TIE_QUERIES))
        for method in ("literal", "data"):
            got = similarity.pq_topk(tdf, tq, k=3, n_sub=4, n_codes=8, dim=16, method=method)
            assert _neighbors(got.collect()) == want, method


def test_pq_topk_data_matches_literal(vectors):
    df, mat = vectors
    q = df.filter(F.col("vec_id") < 6)
    kw = dict(k=3, n_sub=4, n_codes=8, dim=16)
    lit_ = similarity.pq_topk(df, q, method="literal", **kw).collect()
    dat = similarity.pq_topk(df, q, method="data", **kw).collect()
    # one body behind both spellings: identical rows incl the rounded ADC score
    assert set(map(tuple, dat)) == set(map(tuple, lit_)) and len(dat) == 18
    want = _pq_numpy_reference(mat, range(6), similarity.seeded_pq_codebooks(4, 8, 4))
    assert _neighbors(lit_) == want == _neighbors(dat)


def test_pq_topk_data_matches_literal_dim768(vectors768):
    df, mat = vectors768
    q = df.filter(F.col("vec_id") < 4)
    kw = dict(k=3, n_sub=8, n_codes=8, dim=768)
    lit_ = similarity.pq_topk(df, q, method="literal", **kw).collect()
    dat = similarity.pq_topk(df, q, method="data", **kw).collect()
    assert set(map(tuple, dat)) == set(map(tuple, lit_)) and len(dat) == 12
    want = _pq_numpy_reference(mat, range(4), similarity.seeded_pq_codebooks(8, 8, 96))
    assert _neighbors(lit_) == want == _neighbors(dat)


def test_pq_topk_data_path_256_codes(vectors768):
    """The FAISS-shaped config the literal path cannot express
    (8 x 256 x 96 would be ~200k plan literals): the data path must
    run it and agree with the numpy mirror exactly."""
    df, mat = vectors768
    q = df.filter(F.col("vec_id") < 3)
    cb = _lloyd_codebooks(mat, n_sub=8, n_codes=32)
    out = similarity.pq_topk(
        df, q, k=3, n_sub=8, n_codes=32, codebooks=cb, dim=768, method="data"
    ).collect()
    rows = {}
    for r in out:
        rows.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    want = _pq_numpy_reference(mat, range(3), cb)
    for qid in range(3):
        assert [n for _, n in sorted(rows[qid])] == want[qid]
    # planted neighbor (2, 30): identical codes -> max-score reconstruction
    assert rows[2][0][1] == 30 or 30 in [n for _, n in rows[2]]


def test_pq_query_guard_raises(vectors, monkeypatch):
    df, _ = vectors
    monkeypatch.setattr(similarity, "MAX_DRIVER_QUERIES", 3)
    with pytest.raises(ValueError, match="query set exceeds"):
        similarity.pq_topk(df, df.filter(F.col("vec_id") < 10), dim=16, method="data")


def _ivfpq_numpy_reference(mat, q_ids, cents, cb, k=3, nprobe=4):
    """Plain-numpy mirror of ivfpq_topk: argmax-dot cells (ties
    lowest), residual argmin-L2 encode, probed-cell mask, score =
    cell_dot + residual ADC, rank by (score desc, id asc), self
    excluded."""
    n_sub, n_codes, sd = cb.shape
    m = mat.astype(np.float64)
    cid = np.argmax(m @ cents.T, axis=1)
    resid = m - cents[cid]
    codes = np.stack(
        [
            np.argmin(
                ((resid[:, j * sd : (j + 1) * sd][:, None, :] - cb[j][None, :, :]) ** 2).sum(-1),
                axis=1,
            )
            for j in range(n_sub)
        ],
        axis=1,
    )
    out = {}
    for qid in q_ids:
        q = m[qid]
        cell_dots = cents @ q
        probed = set(int(c) for c in np.argsort(-cell_dots, kind="stable")[:nprobe])
        lut = np.stack([cb[j] @ q[j * sd : (j + 1) * sd] for j in range(n_sub)])
        cand = [
            i
            for i in range(len(m))
            if i != qid and int(cid[i]) in probed
        ]
        scores = {
            i: float(cell_dots[cid[i]] + sum(lut[j][codes[i, j]] for j in range(n_sub)))
            for i in cand
        }
        out[qid] = sorted(cand, key=lambda i: (-scores[i], i))[:k]
    return out


def test_ivfpq_matches_numpy_mirror(vectors):
    df, mat = vectors
    q = df.filter(F.col("vec_id") < 6)
    cents, cb = similarity.train_ivfpq(df, n_centroids=8, n_sub=4, n_codes=8, id_col="vec_id")
    got = similarity.ivfpq_topk(
        df, q, k=3, nprobe=3, centroids=cents, codebooks=cb, n_sub=4, n_codes=8, dim=16
    )
    rows = {}
    for r in got.collect():
        rows.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    want = _ivfpq_numpy_reference(mat, range(6), cents, cb, k=3, nprobe=3)
    for qid in range(6):
        assert [n for _, n in sorted(rows.get(qid, []))] == want[qid], f"q={qid}"
    # exact ties straddling k (seeded quantizers), any layout
    cents, cb = similarity.seeded_centroids(dim=16), similarity.seeded_pq_codebooks(4, 16, 4)
    want = _ivfpq_numpy_reference(tie_vectors(), TIE_QUERIES, cents, cb)
    for tdf in tie_frames(df.sparkSession, "vec_id", "embedding"):
        got = similarity.ivfpq_topk(
            tdf, tdf.filter(F.col("vec_id").isin(*TIE_QUERIES)),
            centroids=cents, codebooks=cb, dim=16,
        )
        assert _neighbors(got.collect()) == want


def test_ivfpq_planted_neighbor_768(vectors768):
    """FAISS shape at dim 768: trained coarse+residual quantizers;
    the planted near-identical pair (2, 30) shares its cell and its
    residual codes, so it must surface in the probe scan's top-k."""
    df, mat = vectors768
    q = df.filter(F.col("vec_id") < 3)
    cents, cb = similarity.train_ivfpq(df, n_centroids=8, n_sub=8, n_codes=16, id_col="vec_id")
    got = similarity.ivfpq_topk(
        df, q, k=3, nprobe=4, centroids=cents, codebooks=cb, n_sub=8, n_codes=16, dim=768
    )
    rows = {}
    for r in got.collect():
        rows.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    want = _ivfpq_numpy_reference(mat, range(3), cents, cb, k=3, nprobe=4)
    for qid in range(3):
        assert [n for _, n in sorted(rows.get(qid, []))] == want[qid]
    assert 30 in [n for _, n in rows[2]]


def test_ivfpq_partition_invariant_and_guard(vectors, monkeypatch):
    df, _ = vectors
    q = df.filter(F.col("vec_id") < 4)
    quant = dict(
        centroids=similarity.seeded_centroids(dim=16),
        codebooks=similarity.seeded_pq_codebooks(4, 16, 4),
        dim=16,
    )
    a = sorted(tuple(r) for r in similarity.ivfpq_topk(df.repartition(2), q, **quant).collect())
    b = sorted(tuple(r) for r in similarity.ivfpq_topk(df.repartition(9), q, **quant).collect())
    assert a == b and len(a) > 0
    monkeypatch.setattr(similarity, "MAX_DRIVER_QUERIES", 2)
    with pytest.raises(ValueError, match="query set exceeds"):
        similarity.ivfpq_topk(df, q, **quant)


def test_mine_hard_negatives_excludes_positives_exactly(spark):
    # two tight clusters on orthogonal axes plus per-vector jitter:
    # for a cluster-A query with all other A members marked positive,
    # the mined negatives are EXACTLY the B vectors (nearest
    # non-relevant), ranked by true cosine
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(6):      # cluster A: ids 0..5 near e0
        v = np.zeros(8); v[0] = 1.0
        rows.append((i, (v + 0.01 * rng.standard_normal(8)).tolist()))
    for i in range(6, 12):  # cluster B: ids 6..11 near e1
        v = np.zeros(8); v[1] = 1.0
        rows.append((i, (v + 0.01 * rng.standard_normal(8)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0")
    pos = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "query_id long, pos_id long"
    )
    negs = similarity.mine_hard_negatives(emb, q, positives=pos, k=4).collect()
    assert [r.rank for r in negs] == [1, 2, 3, 4]
    assert all(6 <= r.neighbor_id <= 11 for r in negs)       # only cluster B
    assert all(negs[i].sim >= negs[i + 1].sim for i in range(3))
    # without positives, the same-cluster vectors dominate instead
    none = spark.createDataFrame([], "query_id long, pos_id long")
    base = similarity.mine_hard_negatives(emb, q, positives=none, k=4).collect()
    assert all(1 <= r.neighbor_id <= 5 for r in base)


def test_rbo_matches_mirror_and_edges(spark):
    """RBO vs the textbook prefix-overlap mirror, bit-for-bit incl.
    the round6-before-sum terms; identical/disjoint edges."""
    import math

    from ocr_compare_spark.operators.similarity import rbo, rbo_weights

    P, K = 0.5, 4
    # rankings over 6 queries: q0 identical, q1 disjoint, q2 partial
    # with rank disagreement, q3 only in a, q4 only in b, q5 shorter
    # lists than k
    a_rows, b_rows = [], []
    rank_of = {}
    def add(rows, q, ids):
        for i, n in enumerate(ids):
            rows.append((q, i + 1, n))
    add(a_rows, 0, [10, 11, 12, 13]); add(b_rows, 0, [10, 11, 12, 13])
    add(a_rows, 1, [20, 21, 22, 23]); add(b_rows, 1, [30, 31, 32, 33])
    add(a_rows, 2, [40, 41, 42, 43]); add(b_rows, 2, [41, 44, 40, 45])
    add(a_rows, 3, [50, 51, 52, 53])
    add(b_rows, 4, [60, 61, 62, 63])
    add(a_rows, 5, [70]); add(b_rows, 5, [70, 71])

    def mirror(q):
        al = [n for qq, r, n in sorted(a_rows) if qq == q]
        bl = [n for qq, r, n in sorted(b_rows) if qq == q]
        w = rbo_weights(P, K)
        total, ncom = 0, len(set(al[:K]) & set(bl[:K]))
        for d in range(1, K + 1):
            x = len(set(al[:d]) & set(bl[:d]))
            if x:
                total += math.floor(w[d - 1] * x * 1e6 + 0.5)
        return ncom, total

    A = spark.createDataFrame(a_rows, ["query_id", "rank", "neighbor_id"])
    B = spark.createDataFrame(b_rows, ["query_id", "rank", "neighbor_id"])
    got = {r.query_id: (r.n_common, r.rbo6) for r in rbo(A, B, p=P, k=K).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5}
    for q in got:
        assert got[q] == mirror(q), q
    # identical rankings: sum of round6'd terms ~= 1e6*(1 - p^k)
    assert abs(got[0][1] - 1e6 * (1 - P ** K)) <= K
    assert got[1] == (0, 0) and got[3] == (0, 0) and got[4] == (0, 0)


def _plan_nodes(df):
    """``(operator, columns)`` of each operator in ``df``'s formatted
    physical plan — the final adaptive plan once ``df`` has run — with
    the Input (or Output) columns listed in its details."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    ids = set(re.findall(r"\((\d+)\)", plan.split("== Initial Plan ==")[0]))
    nodes = re.findall(
        r"^\((\d+)\) (\w+).*\n(?:Input|Output) \[\d+\]: \[([^\]]*)\]", plan, re.M
    )
    return [(op, cols) for i, op, cols in nodes if i in ids]


def _carrying(nodes, op, col_re):
    return sum(1 for o, cols in nodes if o == op and re.search(col_re, cols))


#: 60 distinct texts, so every row is its own exact-dup representative.
DISTINCT_ROWS = [(i, f"w{i % 7} common text body shared tokens run {i % 3} tail {i}") for i in range(60)]


def test_lsh_verify_join_paths_identical(spark, monkeypatch):
    """r6: the band and verify joins pick broadcast vs sort-merge for
    the band and shingle-set tables from their REAL materialized size
    (frozen checkpoint stats are garbage). Both paths must produce the
    same pair set bit-for-bit, on repeated texts and on exact-dup
    groups (whose rep pairs go through the expansion)."""
    rows = [(i, f"w{i % 7} common text body shared tokens run {i % 3} tail") for i in range(60)]
    corpora = [
        (spark.createDataFrame(rows, ["id", "text"]), 0.7),
        (spark.createDataFrame(EXACT_DUP_ROWS, ["id", "text"]), 0.3),
    ]

    def run():
        return [
            sorted(
                (r.id_a, r.id_b, r.jaccard)
                for r in dedup.lsh_candidates(
                    df, "id", "text", verify_threshold=t
                ).collect()
            )
            for df, t in corpora
        ]

    base = run()
    # force the sort-merge path
    monkeypatch.setattr(dedup, "SH_BROADCAST_MAX_BYTES", 1)
    forced = run()
    assert base == forced
    assert all(base)  # non-trivial: both corpora must produce pairs
    # the exact-dup corpus emits its cross-group pairs too
    assert any(j < 1.0 for _, _, j in base[1])
    # the forced run's band self-join is sort-merge too, also after
    # adaptive re-planning
    forced_out = dedup.lsh_candidates(corpora[0][0], "id", "text")
    forced_out.collect()
    assert _carrying(_plan_nodes(forced_out), "BroadcastExchange", r"\bband_hash#") == 0


def test_lsh_sh_broadcast_reused_by_second_lookup(spark):
    """The self verify join looks the sh table up twice; the executed
    plan broadcasts it once and the other lookup reuses that exchange,
    which is why the cap counts one hash relation."""
    out = dedup.lsh_candidates(spark.createDataFrame(DISTINCT_ROWS, ["id", "text"]), "id", "text")
    out.collect()
    nodes = _plan_nodes(out)
    assert _carrying(nodes, "BroadcastExchange", r"\bsh_[ab]#") == 1
    assert _carrying(nodes, "ReusedExchange", r"\bsh_[ab]#") == 1


def test_lsh_sh_broadcast_cap_counts_hash_relation(spark, monkeypatch):
    """The sh lookups broadcast iff the measured (id, sh) table times
    the hash-relation overhead fits SH_BROADCAST_MAX_BYTES."""
    df = spark.createDataFrame(DISTINCT_ROWS, ["id", "text"])  # reps == rows
    sh = dedup.minhash_tables(df, "id", "text").select("id", "sh")
    one = sh.agg(F.sum(adaptive.row_bytes(sh))).first()[0]
    k = adaptive.HASH_RELATION_OVERHEAD

    def sh_broadcasts(cap):
        monkeypatch.setattr(dedup, "SH_BROADCAST_MAX_BYTES", cap)
        nodes = _plan_nodes(dedup.lsh_candidates(df, "id", "text"))
        return _carrying(nodes, "BroadcastExchange", r"\bsh_[ab]#")

    assert sh_broadcasts(k * one - 1) == 0
    assert sh_broadcasts(k * one) >= 1


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = re.split(r"\s+", text)
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}


def _round6(x: float) -> float:
    # Spark's round(): HALF_UP on the double's decimal string
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def test_lsh_candidates_matches_python_jaccard(spark):
    """Every emitted pair carries the pure-Python string-shingle
    Jaccard; every pair with identical shingle sets is emitted, also
    when the texts differ byte-wise; NULL text is in no pair."""
    rng = np.random.default_rng(7)
    base = " ".join(f"v{i}" for i in rng.integers(0, 50, size=14))
    toks = base.split()
    near1 = " ".join(toks[:4] + ["EDIT"] + toks[5:])
    near2 = " ".join(toks[:9] + ["OTHER"] + toks[10:])
    rows = [
        (1, base), (2, base), (3, base),  # exact-dup group of 3
        (4, near1), (5, near2),  # near-dup variants
        (6, None), (7, ""),
        (8, "solo pair"), (9, "solo  pair"),  # < shingle_n words
        (10, "x y z x y z"), (11, "x y z x y z x y z"),  # same shingle set
    ] + [
        (20 + i, " ".join(f"v{j}" for j in rng.integers(0, 50, size=12)))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.lsh_candidates(df, "doc_id", "text", verify_threshold=0.3).collect()
    }
    sh = {i: _py_shingles(t) for i, t in rows if t is not None}
    want = {
        (a, b): _round6(len(sh[a] & sh[b]) / len(sh[a] | sh[b]))
        for a in sh
        for b in sh
        if a < b
    }
    assert not any(6 in p for p in got)
    assert {p: want[p] for p in got} == got
    assert min(got.values()) >= 0.3
    full = {p for p, j in want.items() if j == 1.0}
    assert full == {(1, 2), (1, 3), (2, 3), (8, 9), (10, 11)}
    assert full <= set(got)
    assert {(1, 4), (1, 5)} & set(got)  # non-trivial: a near-dup is found
