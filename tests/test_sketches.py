"""Sketches (operators/sketches.py): HyperLogLog distinct counting
and Count-Min frequency estimation.

Pins: hash/register mirrors (Spark == python), estimator == the
pure-python mirror bit-for-bit (shared fold order), HLL merge ==
build-on-union EXACTLY (registers max), accuracy within the published
error bounds on a planted corpus, CMS one-sided error, and partition
invariance (a sketch must not depend on layout)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ocr_compare_spark.operators import sketches as sk
from tests.mirrors import _py_cms_positions, _py_idx_rho, py_dd_quantile, py_hll_estimate

P = 8  # m = 256 registers
D, W = 4, 512


def _keys(spark, n, prefix, parts=4):
    return spark.createDataFrame(
        [(i, f"{prefix}{i}") for i in range(n)], "id long, key string"
    ).repartition(parts)


# ---------------------------------------------------------- mirrors


def test_hll_register_cols_match_python_mirror(spark):
    df = _keys(spark, 100, "k")
    idx, rho = sk.hll_register_cols("key", P)
    got = {
        r.key: (r.idx, r.rho)
        for r in df.select("key", idx.alias("idx"), rho.alias("rho")).collect()
    }
    for key, pair in got.items():
        assert pair == _py_idx_rho(key, P)
        assert 0 <= pair[0] < (1 << P) and 1 <= pair[1] <= 33


def test_cms_positions_match_python_mirror(spark):
    df = _keys(spark, 50, "c")
    got = {
        r.key: [(x.row, x.pos) for x in r.rp]
        for r in df.select(
            "key", sk.cms_position_cols("key", D, W).alias("rp")
        ).collect()
    }
    for key, rp in got.items():
        assert [p for _, p in rp] == _py_cms_positions(key, D, W)
        assert [i for i, _ in rp] == list(range(D))


# ------------------------------------------------------------- HLL


def test_hll_estimate_equals_python_mirror_bitwise(spark):
    # the full estimator (fold order, alpha literal, correction
    # branch) reproduces the python mirror's double exactly
    for n in (10, 50, 300, 2000):  # spans the correction branch both ways
        keys = [f"u{n}_{i}" for i in range(n)]
        df = spark.createDataFrame([(k,) for k in keys], "key string").repartition(5)
        row = sk.hll_count_distinct(df, "key", (), P).first()
        expect = py_hll_estimate(keys, P)
        assert row.est6 == math.floor(expect * 1e6 + 0.5)
        assert row.n_present + row.v_zero == (1 << P)


def test_hll_accuracy_within_bound(spark):
    # standard error ~ 1.04/sqrt(m) = 6.5% at m=256; assert 4 sigma
    n = 5000
    df = _keys(spark, n, "acc")
    est = sk.hll_count_distinct(df, "key", (), P).first().est6 / 1e6
    assert abs(est - n) / n < 4 * 1.04 / math.sqrt(1 << P)


def test_hll_grouped_and_duplicates_ignored(spark):
    # duplicates must not move the estimate: registers are max'd
    base = _keys(spark, 400, "g").withColumn("grp", F.col("id") % 2)
    dup = base.unionByName(base).unionByName(base)
    a = {r.grp: r.est6 for r in sk.hll_count_distinct(base, "key", ("grp",), P).collect()}
    b = {r.grp: r.est6 for r in sk.hll_count_distinct(dup, "key", ("grp",), P).collect()}
    assert a == b and set(a) == {0, 1}


def test_hll_merge_equals_union_build(spark):
    a = _keys(spark, 300, "m")          # m0..m299
    b = _keys(spark, 500, "m")          # overlaps a entirely, adds 200
    ra = sk.hll_registers(a, "key", (), P)
    rb = sk.hll_registers(b, "key", (), P)
    merged = sk.hll_estimate(sk.hll_merge(ra, rb), (), P).first()
    union = sk.hll_count_distinct(a.unionByName(b), "key", (), P).first()
    assert merged.est6 == union.est6  # exact: max of maxes


def test_hll_overlap_matches_python_mirror_bitwise(spark):
    """hll_overlap == the py_hll_estimate mirror pushed through the
    same round6/inclusion-exclusion/ratio arithmetic — every column
    exact, including the clamp and the NULL-when-zero ratios."""
    na, nb, shared = 400, 300, 150  # A = 0..399, B = 250..549
    a = _keys(spark, na, "ov")
    b = spark.createDataFrame(
        [(i, f"ov{i}") for i in range(na - shared, na - shared + nb)],
        "id long, key string",
    ).repartition(3)
    out = sk.hll_overlap(
        sk.hll_registers(a, "key", (), P), sk.hll_registers(b, "key", (), P), (), P
    ).first()

    keys_a = [f"ov{i}" for i in range(na)]
    keys_b = [f"ov{i}" for i in range(na - shared, na - shared + nb)]
    e = lambda ks: int(py_hll_estimate(ks, P) * 1e6 + 0.5)
    a6, b6 = e(keys_a), e(keys_b)
    u6 = e(sorted(set(keys_a) | set(keys_b)))
    inter6 = max(a6 + b6 - u6, 0)
    assert (out.a_est6, out.b_est6, out.union_est6, out.inter6) == (a6, b6, u6, inter6)
    assert out.jacc6 == int(inter6 / u6 * 1e6 + 0.5)
    assert out.contain_a6 == int(inter6 / a6 * 1e6 + 0.5)
    # accuracy sanity: true J = 150/550 ≈ 0.2727 — the compounded
    # estimate stays in a generous band at m=2^{P}
    assert 0.15 < out.jacc6 / 1e6 < 0.40


def test_hll_overlap_grouped_disjoint_and_absent_side(spark):
    g = spark.createDataFrame(
        [("en", f"k{i}") for i in range(200)]
        + [("fr", f"q{i}") for i in range(100)],
        "lang string, key string",
    )
    h = spark.createDataFrame(
        [("en", f"k{i}") for i in range(100, 300)]  # en overlaps 100
        + [("de", f"z{i}") for i in range(50)],  # de absent from g
        "lang string, key string",
    )
    rows = {
        r.lang: r
        for r in sk.hll_overlap(
            sk.hll_registers(g, "key", ("lang",), P),
            sk.hll_registers(h, "key", ("lang",), P),
            ("lang",),
            P,
        ).collect()
    }
    # en: real overlap -> nontrivial intersection estimate
    assert rows["en"].inter6 > 0 and 0 < rows["en"].jacc6 < 1_000_000
    # fr: absent from h -> empty B side, intersection exactly 0,
    # union == A's estimate
    assert rows["fr"].b_est6 == 0 and rows["fr"].inter6 == 0
    assert rows["fr"].union_est6 == rows["fr"].a_est6
    assert rows["fr"].jacc6 == 0 and rows["fr"].contain_b6 is None
    # de: absent from g (outer join keeps it) — mirror case
    assert rows["de"].a_est6 == 0 and rows["de"].inter6 == 0
    # disjoint-sets clamp: inter6 never negative
    x = _keys(spark, 250, "xx")
    y = _keys(spark, 250, "yy")
    d = sk.hll_overlap(
        sk.hll_registers(x, "key", (), P), sk.hll_registers(y, "key", (), P), (), P
    ).first()
    assert d.inter6 >= 0


def test_hll_partition_invariant(spark):
    df = _keys(spark, 1000, "pi")
    a = sk.hll_count_distinct(df.repartition(2), "key", (), P).first().est6
    b = sk.hll_count_distinct(df.repartition(17), "key", (), P).first().est6
    assert a == b


# ------------------------------------------------------- Count-Min


def _freq_df(spark):
    # planted zipf-ish frequencies: key fN repeats N^2 times
    rows = [(f"f{n}",) for n in range(1, 21) for _ in range(n * n)]
    return spark.createDataFrame(rows, "key string").repartition(6)


def test_cms_one_sided_and_accurate_when_wide(spark):
    df = _freq_df(spark)
    counters = sk.cms_build(df, "key", D, W)
    est = {
        r.key: r.est_cnt
        for r in sk.cms_estimate(df.select("key").distinct(), counters, "key", D, W).collect()
    }
    for n in range(1, 21):
        true = n * n
        assert est[f"f{n}"] >= true            # never undercounts
        # 20 keys in 4x512 counters: collisions are essentially
        # impossible to hit in all 4 rows at once
        assert est[f"f{n}"] == true


def test_cms_broadcast_path_equals_relational(spark):
    # every key lands once in each of the D rows: the counter mass is
    # D x the row count, all inside the (D, W) grid
    df = _freq_df(spark)
    counters = sk.cms_build(df, "key", D, W).collect()
    assert all(0 <= r.row < D and 0 <= r.pos < W for r in counters)
    assert sum(r.cnt for r in counters) == D * sum(n * n for n in range(1, 21))


def test_cms_heavy_hitters(spark):
    df = _freq_df(spark)
    hh = {r.key for r in sk.cms_heavy_hitters(df, "key", D, W, threshold=100).collect()}
    # true counts n^2 >= 100 <=> n >= 10; one-sided error can only ADD
    assert {f"f{n}" for n in range(10, 21)} <= hh
    assert hh <= {f"f{n}" for n in range(1, 21)}


def test_cms_partition_invariant(spark):
    df = _freq_df(spark)
    a = {(r.row, r.pos): r.cnt for r in sk.cms_build(df.repartition(2), "key", D, W).collect()}
    b = {(r.row, r.pos): r.cnt for r in sk.cms_build(df.repartition(11), "key", D, W).collect()}
    assert a == b


def test_curate_profile_stage(spark, sf_dir):
    # the corpus profile stage, run directly with the sketches over
    # the real corpus, each sketch
    # against the exact answer: HLL vocabulary per lang within 4
    # standard errors of the exact distinct count, every true CMS
    # heavy hitter reported with an estimate >= its count (one-sided
    # guarantee), and DD doc-length quantiles within the 2% relative
    # error of the true rank-r length
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # split(limit=-1) keeps the empty token a trailing newline produces
    words = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    toks = docs.select("lang", F.explode(words).alias("tok")).persist()
    exact = {
        r["lang"]: r["n"]
        for r in toks.groupBy("lang").agg(F.countDistinct("tok").alias("n")).collect()
    }
    vocab = {
        r["lang"]: r["est6"] / 1e6
        for r in sk.hll_count_distinct(toks, "tok", ("lang",), p=12).collect()
    }
    assert set(vocab) == set(exact)
    se = 1.04 / math.sqrt(2**12)
    for lang, n in exact.items():
        assert abs(vocab[lang] - n) <= 4 * se * n, (lang, vocab[lang], n)

    heavy = {
        r["tok"]: r["n"]
        for r in toks.groupBy("tok").agg(F.count("*").alias("n")).filter("n >= 200").collect()
    }
    hh = {
        r["tok"]: r["est_cnt"]
        for r in sk.cms_heavy_hitters(toks, "tok", depth=4, width=2048, threshold=200).collect()
    }
    toks.unpersist()
    assert heavy, "threshold 200 must catch the corpus tokens"
    assert all(hh.get(t, -1) >= c for t, c in heavy.items())
    assert all(c >= 200 for c in hh.values())

    lens = docs.select("lang", F.size(words).cast("long").alias("v"))
    sketch = sk.dd_build(lens, "v", ("lang",), alpha=0.02)
    got = sk.dd_quantiles(sketch, (0.5, 0.95, 0.99), ("lang",), alpha=0.02).collect()
    by_lang: dict = {}
    for r in lens.collect():
        by_lang.setdefault(r["lang"], []).append(r["v"])
    assert {r["lang"] for r in got} == set(exact)
    for r in got:
        vs = sorted(by_lang[r["lang"]])
        true = vs[max(math.ceil(r["q"] * len(vs)), 1) - 1]
        assert abs(r["est6"] / 1e6 - true) <= 0.02 * true + 1e-6, (r["lang"], r["q"], true)


def test_hll_null_keys_ignored(spark):
    # a NULL key must not poison the group (md5(NULL) -> NULL _term
    # -> NULL fold); semantics match approx_count_distinct: ignored
    clean = spark.createDataFrame([(f"k{i}",) for i in range(50)], "key string")
    dirty = clean.unionByName(spark.createDataFrame([(None,), (None,)], "key string"))
    a = sk.hll_count_distinct(clean, "key", (), P).first()
    b = sk.hll_count_distinct(dirty, "key", (), P).first()
    assert b.est6 == a.est6 and b.est6 is not None
    assert b.n_present == a.n_present


def test_cms_null_keys_contract(spark):
    # build ignores NULLs; the estimate omits the NULL row (never the
    # str(None) hash)
    df = spark.createDataFrame([("a",), ("a",), (None,), ("None",)], "key string")
    counters = sk.cms_build(df, "key", D, W)
    rel = {r.key: r.est_cnt for r in sk.cms_estimate(df.distinct(), counters, "key", D, W).collect()}
    assert rel == {"a": 2, "None": 1}  # NULL row absent; literal 'None' distinct from it


# -------------------------------------------------------- DDSketch


def _vals(spark, rows, parts=4):
    # rows: list of (grp, value)
    return spark.createDataFrame(rows, "grp string, v double").repartition(parts)


QS = (0.05, 0.25, 0.5, 0.75, 0.95, 1.0)


def test_dd_quantiles_equal_python_mirror_bitwise(spark):
    # mixed magnitudes, non-integer values, two groups
    rows = [("a", float(i) * 1.37 + 0.25) for i in range(1, 200)]
    rows += [("b", float(i * i) + 0.5) for i in range(1, 80)]
    df = _vals(spark, rows)
    sketch = sk.dd_build(df, "v", ("grp",), alpha=0.01)
    got = {
        (r.grp, r.q): (r.n, r.est6)
        for r in sk.dd_quantiles(sketch, QS, ("grp",), alpha=0.01).collect()
    }
    by_grp = {"a": [v for g, v in rows if g == "a"], "b": [v for g, v in rows if g == "b"]}
    assert len(got) == 2 * len(QS)
    for (grp, q), (n, est6) in got.items():
        assert n == len(by_grp[grp])
        expect = math.floor(py_dd_quantile(by_grp[grp], q, 0.01) * 1e6 + 0.5)
        assert est6 == expect, (grp, q)


def test_dd_relative_error_guarantee(spark):
    # the published DDSketch bound: |est - x_r| <= alpha * x_r where
    # x_r is the TRUE value at rank ceil(q*n) — over 5 decades
    alpha = 0.02
    vals = sorted(((i * 2654435761) % 99991) / 7.0 + 0.001 for i in range(5000))
    df = _vals(spark, [("g", v) for v in vals])
    sketch = sk.dd_build(df, "v", ("grp",), alpha=alpha)
    out = sk.dd_quantiles(sketch, QS, ("grp",), alpha=alpha).collect()
    assert len(out) == len(QS)
    for r in out:
        rank = max(math.ceil(r.q * len(vals)), 1)
        true = vals[rank - 1]
        est = r.est6 / 1e6
        assert abs(est - true) <= alpha * true + 1e-6, (r.q, est, true)


def test_dd_partition_invariant(spark):
    rows = [("g", float(i) + 0.5) for i in range(1, 500)]
    s1 = sk.dd_build(_vals(spark, rows, parts=1), "v", ("grp",))
    s8 = sk.dd_build(_vals(spark, rows, parts=8), "v", ("grp",))
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s8.collect()))
    q1 = sorted(map(tuple, sk.dd_quantiles(s1, QS, ("grp",)).collect()))
    q8 = sorted(map(tuple, sk.dd_quantiles(s8, QS, ("grp",)).collect()))
    assert q1 == q8


def test_dd_zero_store_and_nulls(spark):
    rows = [("g", 0.0)] * 10 + [("g", 100.0)] * 10
    df = spark.createDataFrame(rows + [("g", None)], "grp string, v double")
    sketch = sk.dd_build(df, "v", ("grp",))
    out = {r.q: r for r in sk.dd_quantiles(sketch, (0.25, 0.75), ("grp",)).collect()}
    assert out[0.25].n == 20  # NULL ignored
    assert out[0.25].est6 == 0  # zero store serves the low quantile
    est_hi = out[0.75].est6 / 1e6
    assert abs(est_hi - 100.0) <= 0.01 * 100.0 + 1e-6
    # the zero sentinel sorts before every real bucket
    bkts = [r.bkt for r in sketch.collect()]
    assert min(bkts) == sk.DD_ZERO_BKT
