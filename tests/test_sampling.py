"""Deterministic sampling operators (operators/sampling.py):
layout-independence of the hash-keyed mixes, and exact == bucketed
prefix-sum equality for the token-budget mix."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_compare_spark.operators import sampling


def _docs(spark, sf_dir):
    from ocr_compare_spark.operators.textstats import stats_columns

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = stats_columns("text")
    return d.select(
        "doc_id", "lang", cols["token_count"].alias("token_count"),
        sampling.hash_frac("doc_id").alias("prio"),
    )


def test_token_budget_prefix_semantics(spark, sf_dir):
    d = _docs(spark, sf_dir)
    budget = 2000
    out = sampling.token_budget_sample(
        d, "lang", "token_count", budget, "prio", "doc_id"
    ).collect()
    assert out, "budget should admit at least one doc"
    assert all(r.cum_tokens <= budget for r in out)
    # per stratum the kept set is a PREFIX in (prio, doc_id) order:
    # every kept row's predecessors are kept
    rows = sorted(
        d.collect(), key=lambda r: (r.lang, r.prio, r.doc_id)
    )
    kept = {(r.lang, r.doc_id) for r in out}
    cum_by_lang: dict[str, int] = {}
    for r in rows:
        cum = cum_by_lang.get(r.lang, 0) + r.token_count
        cum_by_lang[r.lang] = cum
        assert ((r.lang, r.doc_id) in kept) == (cum <= budget)


def test_token_budget_bucketed_equals_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    for budget in (0, 500, 3000, 10**9):
        exact = sampling.token_budget_sample(
            d, "lang", "token_count", budget, "prio", "doc_id"
        )
        fast = sampling.token_budget_sample_bucketed(
            d.repartition(7), "lang", "token_count", budget, "prio", "doc_id",
            n_buckets=32,
        )
        e = {(r.lang, r.doc_id): r.cum_tokens for r in exact.collect()}
        f = {(r.lang, r.doc_id): r.cum_tokens for r in fast.collect()}
        assert e == f, f"budget={budget}"
    # giant budget keeps everything
    assert len(e) == d.count()


def test_token_budget_bucketed_keeps_null_strata(spark, sf_dir):
    # a NULL stratum is a legal window partition in the exact
    # variant; the bucketed one must keep it via its null-safe join
    d = _docs(spark, sf_dir).withColumn(
        "lang", F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("lang"))
    )
    exact = sampling.token_budget_sample(d, "lang", "token_count", 800, "prio", "doc_id")
    fast = sampling.token_budget_sample_bucketed(
        d, "lang", "token_count", 800, "prio", "doc_id", n_buckets=16
    )
    e = {(r.lang, r.doc_id): r.cum_tokens for r in exact.collect()}
    f = {(r.lang, r.doc_id): r.cum_tokens for r in fast.collect()}
    assert e == f
    assert any(k[0] is None for k in e), "null stratum must be represented"


def test_token_budget_bucketed_prunes_dead_buckets(spark, sf_dir):
    # structural scale claim: buckets whose running offset already
    # exceeds the budget never reach the window shuffle (inner join
    # against the driver-built offset map drops them)
    d = _docs(spark, sf_dir)
    out = sampling.token_budget_sample_bucketed(
        d, "lang", "token_count", 500, "prio", "doc_id", n_buckets=32
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join Inner" in plan or "join" in plan.lower()


def test_temperature_rates_shape():
    import math

    # alpha=1 reproduces the natural distribution: every rate 1.0
    w = {"en": 64437, "de": 19525, "fr": 20623}
    assert sampling.temperature_rates(w, 1.0) == {k: 1.0 for k in w}
    # alpha<1: the smallest stratum is never downsampled, heads are;
    # rates are monotone DECREASING in stratum weight
    r = sampling.temperature_rates(w, 0.3)
    assert r["de"] == 1.0
    assert r["de"] > r["fr"] > r["en"] > 0.0
    # driver replay of the closed form (floor-round6 contract)
    expo = 0.3 - 1.0
    top = max(float(n) ** expo for n in w.values())
    for k, n in w.items():
        assert r[k] == math.floor(float(n) ** expo / top * 1e6 + 0.5) / 1e6
    # non-positive weights are omitted (no defined rate)
    assert "x" not in sampling.temperature_rates({"x": 0, "en": 5}, 0.3)


def test_temperature_mix_deterministic_and_mirror(spark, sf_dir):
    d = _docs(spark, sf_dir)
    out = sampling.temperature_mix(
        d, "lang", "token_count", "doc_id", 0.3, rate_col="rate"
    )
    kept = {r.doc_id: r.rate for r in out.collect()}
    # layout invariance: the kept set is a pure function of the key
    kept2 = {
        r.doc_id
        for r in sampling.temperature_mix(
            d.repartition(13), "lang", "token_count", "doc_id", 0.3
        ).collect()
    }
    assert set(kept) == kept2

    # full driver mirror: recompute rates + hash threshold in python
    rows = d.collect()
    sums: dict[str, int] = {}
    for r in rows:
        sums[r.lang] = sums.get(r.lang, 0) + r.token_count
    rates = sampling.temperature_rates(sums, 0.3)
    want = {r.doc_id for r in rows if r.prio < rates[r.lang]}
    assert set(kept) == want
    for r in rows:
        if r.doc_id in kept:
            assert kept[r.doc_id] == rates[r.lang]
    # the head language is actually downsampled, the tail kept whole-ish
    by_lang_in = {}
    by_lang_out = {}
    for r in rows:
        by_lang_in[r.lang] = by_lang_in.get(r.lang, 0) + 1
        if r.doc_id in kept:
            by_lang_out[r.lang] = by_lang_out.get(r.lang, 0) + 1
    head = max(sums, key=lambda k: sums[k])
    assert by_lang_out[head] < by_lang_in[head]


def test_temperature_mix_alpha_one_keeps_everything(spark, sf_dir):
    d = _docs(spark, sf_dir)
    out = sampling.temperature_mix(d, "lang", "token_count", "doc_id", 1.0)
    assert out.count() == d.count()


def test_unimax_budgets_water_fill():
    # hand-checked waterfall: caps {a:10, b:50, c:100}, budget 90
    # a (cap 10) < share 30 -> 10; rem 80/2=40 -> b 40; rem 40 -> c 40
    got = sampling.unimax_budgets({"a": 10, "b": 50, "c": 100}, 90)
    assert got == {"a": 10, "b": 40, "c": 40}
    assert sum(got.values()) <= 90
    # epoch cap: 0.5 epochs halves every capacity
    got = sampling.unimax_budgets({"a": 10, "b": 50, "c": 100}, 90, max_epochs=0.5)
    assert got == {"a": 5, "b": 25, "c": 50}
    # budget ample: everyone gets exactly their capacity
    got = sampling.unimax_budgets({"a": 10, "b": 50}, 10_000)
    assert got == {"a": 10, "b": 50}
    # non-positive weights omitted; empty in -> empty out
    assert sampling.unimax_budgets({"a": 0, "b": -3}, 100) == {}


def test_token_budget_per_stratum_mapping(spark, sf_dir):
    d = _docs(spark, sf_dir)
    budgets = {"en": 2000, "de": 500}  # fr/es/zh absent -> dropped
    exact = sampling.token_budget_sample(
        d, "lang", "token_count", budgets, "prio", "doc_id"
    )
    rows = exact.collect()
    assert {r.lang for r in rows} == {"en", "de"}
    for r in rows:
        assert r.cum_tokens <= budgets[r.lang]
    # bucketed scale path identical INCLUDING cum_tokens
    bucketed = sampling.token_budget_sample_bucketed(
        d, "lang", "token_count", budgets, "prio", "doc_id", n_buckets=16
    )
    key = lambda r: (r.lang, r.doc_id, r.cum_tokens)
    assert sorted(map(key, rows)) == sorted(map(key, bucketed.collect()))


def test_unimax_sample_matches_manual_prefix(spark, sf_dir):
    d = _docs(spark, sf_dir)
    total, epochs = 16000, 0.8
    out = sampling.unimax_sample(
        d, "lang", "token_count", "doc_id", total, epochs, budget_col="budget"
    ).collect()

    # recompute budgets + prefixes in plain python
    rows = d.collect()
    weights = {}
    for r in rows:
        weights[r.lang] = weights.get(r.lang, 0) + r.token_count
    budgets = sampling.unimax_budgets(weights, total, epochs)
    expect = {}
    for lang in budgets:
        cum = 0
        for r in sorted((x for x in rows if x.lang == lang), key=lambda x: (x.prio, x.doc_id)):
            cum += r.token_count
            if cum > budgets[lang]:
                break
            expect[(lang, r.doc_id)] = cum
    got = {(r.lang, r.doc_id): r.cum_tokens for r in out}
    assert got == expect
    # every kept row carries its stratum's budget; caps bite (no lang
    # keeps its whole corpus at these constants) and en is also
    # budget-limited below its cap
    assert all(r.budget == budgets[r.lang] for r in out)
    per_lang_cum = {}
    for r in out:
        per_lang_cum[r.lang] = max(per_lang_cum.get(r.lang, 0), r.cum_tokens)
    assert set(per_lang_cum) == set(budgets)
    assert all(per_lang_cum[l] <= budgets[l] for l in per_lang_cum)
    assert budgets["en"] < int(weights["en"] * epochs)  # budget-limited


def test_pack_sequences_hand_corpus(spark):
    """Exact segment geometry on a hand corpus: docs of 100/200/50
    tokens in priority order, seq_len=128 -> the 200-token doc
    straddles two cuts (three segments), the 50-token doc lands
    mid-sequence-2 with seq_start 44."""
    rows = [("en", "a", 100, 0.1), ("en", "b", 200, 0.2), ("en", "c", 50, 0.3)]
    d = spark.createDataFrame(rows, "lang string, doc_id string, token_count int, prio double")
    out = sampling.pack_sequences(d, "lang", "token_count", 128, "prio", "doc_id")
    got = sorted(
        (r.doc_id, r.seq_no, r.seq_start, r.tok_start, r.tok_end)
        for r in out.collect()
    )
    assert got == [
        ("a", 0, 0, 0, 100),
        ("b", 0, 100, 0, 28),
        ("b", 1, 0, 28, 156),
        ("b", 2, 0, 156, 200),
        ("c", 2, 44, 0, 50),
    ]


def test_pack_sequences_tiling_and_methods(spark, sf_dir):
    """Corpus-level invariants: per (lang, seq_no) the segments tile
    [0, seq_len) exactly (every sequence but the stratum-last is
    full, no gaps, no overlaps), per doc the tok slices tile
    [0, token_count), zero-token docs drop, the bucketed prefix sum
    equals the exact one-window prefix of token_budget_sample, and
    the packing is partition-layout invariant."""
    L = 256
    d = _docs(spark, sf_dir)
    rows = sampling.pack_sequences(d, "lang", "token_count", L, "prio", "doc_id").collect()
    assert rows and all(r.token_count > 0 for r in rows)

    # per-sequence tiling: sort segments by seq_start; each begins
    # where the previous ended; all but the last sequence sum to L
    from collections import defaultdict

    per_seq = defaultdict(list)
    last_seq = defaultdict(int)
    for r in rows:
        per_seq[(r.lang, r.seq_no)].append(r)
        last_seq[r.lang] = max(last_seq[r.lang], r.seq_no)
    for (lang, seq_no), segs in per_seq.items():
        segs.sort(key=lambda r: r.seq_start)
        pos = 0
        for s in segs:
            assert s.seq_start == pos, (lang, seq_no)
            pos += s.tok_end - s.tok_start
        if seq_no < last_seq[lang]:
            assert pos == L, (lang, seq_no)
        else:
            assert 0 < pos <= L

    # per-doc tiling: the doc's segments cover [0, token_count)
    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r.doc_id].append(r)
    for doc, segs in per_doc.items():
        segs.sort(key=lambda r: r.tok_start)
        assert segs[0].tok_start == 0
        for a, b in zip(segs, segs[1:]):
            assert a.tok_end == b.tok_start and b.seq_no == a.seq_no + 1
        assert segs[-1].tok_end == segs[0].token_count

    exact = sampling.token_budget_sample(
        d.filter(F.col("token_count") > 0), "lang", "token_count", 10**15, "prio", "doc_id"
    )
    assert {(r.doc_id, r.cum_tokens) for r in rows} == {
        (r.doc_id, r.cum_tokens) for r in exact.collect()
    }
    key = lambda r: (r.lang, r.doc_id, r.seq_no, r.seq_start, r.tok_start, r.tok_end, r.cum_tokens)
    want = sorted(key(r) for r in rows)
    relaid = sampling.pack_sequences(
        d.repartition(13), "lang", "token_count", L, "prio", "doc_id"
    )
    assert sorted(key(r) for r in relaid.collect()) == want


def test_pack_sequences_drops_zero_token_docs(spark):
    rows = [("en", "a", 0, 0.1), ("en", "b", 10, 0.2)]
    d = spark.createDataFrame(rows, "lang string, doc_id string, token_count int, prio double")
    out = sampling.pack_sequences(d, "lang", "token_count", 8, "prio", "doc_id").collect()
    assert {r.doc_id for r in out} == {"b"}
    assert sorted((r.seq_no, r.seq_start, r.tok_start, r.tok_end) for r in out) == [
        (0, 0, 0, 8), (1, 0, 8, 10)
    ]


# ------------------------------------------------- train/val/test


SPLIT_W = {"train": 0.8, "val": 0.1, "test": 0.1}


def _py_split(key, bounds):
    import hashlib

    u = (
        int(hashlib.md5(f"split:{key}".encode()).hexdigest()[:8], 16)
        / 4294967296.0
    )
    for name, ub in bounds[:-1]:
        if u < ub:
            return name
    return bounds[-1][0]


def test_assign_split_exhaustive_disjoint_layout_independent(spark, sf_dir):
    d = _docs(spark, sf_dir)
    out = {r.doc_id: r.split for r in sampling.assign_split(d, "doc_id", SPLIT_W).collect()}
    assert len(out) == d.count()  # exactly one split per row
    assert set(out.values()) <= set(SPLIT_W)
    n = len(out)
    n_train = sum(1 for s in out.values() if s == "train")
    assert 0.7 * n < n_train < 0.9 * n
    assert any(s == "val" for s in out.values())
    assert any(s == "test" for s in out.values())
    out2 = {
        r.doc_id: r.split
        for r in sampling.assign_split(d.repartition(13), "doc_id", SPLIT_W).collect()
    }
    assert out == out2


def test_assign_split_matches_python_mirror(spark, sf_dir):
    d = _docs(spark, sf_dir)
    bounds = sampling.split_bounds(SPLIT_W)
    got = {r.doc_id: r.split for r in sampling.assign_split(d, "doc_id", SPLIT_W).collect()}
    for doc_id, s in got.items():
        assert s == _py_split(doc_id, bounds), doc_id


def test_assign_split_cluster_co_assignment(spark):
    from ocr_compare_spark.operators import dedup

    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 50) for i in range(50)], "id_a long, id_b long"
    )
    labeled = dedup.dedup_keep_list(docs, pairs, "doc_id")
    # keyed on doc_id, near-dup pairs straddle splits (the leak)
    leaky = sampling.assign_split(labeled, "doc_id", SPLIT_W)
    by_comp = {}
    for r in leaky.collect():
        by_comp.setdefault(r.component, set()).add(r.split)
    assert any(len(s) > 1 for s in by_comp.values())
    # keyed on the duplicate-cluster representative, never
    safe = sampling.assign_split(labeled, "component", SPLIT_W)
    by_comp = {}
    for r in safe.collect():
        by_comp.setdefault(r.component, set()).add(r.split)
    assert all(len(s) == 1 for s in by_comp.values())


def test_split_bounds_validation():
    import pytest

    assert sampling.split_bounds({"a": 0.25, "b": 0.75})[-1] == ("b", 1.0)
    with pytest.raises(ValueError):
        sampling.split_bounds({"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError):
        sampling.split_bounds({})
    with pytest.raises(ValueError):
        sampling.split_bounds({"a": 1.5, "b": -0.5})


def test_split_then_decontaminate_eval_hygiene(spark, sf_dir):
    """The eval-hygiene composition a split pipeline must run: after
    assign_split, TRAIN docs sharing word n-grams with the val/test
    side are contaminated and get dropped — deterministic, and the
    synth corpus's cycling vocabulary makes the flagged set real."""
    from ocr_compare_spark.operators import dedup

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    split = sampling.assign_split(d, "doc_id", SPLIT_W)
    train = split.filter(F.col("split") == "train")
    heldout = split.filter(F.col("split") != "train")
    out = dedup.ngram_decontaminate(train, heldout, "doc_id", "text", n=8)
    flagged = {r.id for r in out.filter(F.col("contaminated")).collect()}
    assert flagged, "cycling vocab must plant cross-split n-gram overlaps"
    clean = train.join(
        out.filter(F.col("contaminated")).select(F.col("id").alias("doc_id")),
        "doc_id",
        "left_anti",
    )
    # every surviving train doc is decontamination-clean, counts add up
    n_train = train.count()
    assert clean.count() == n_train - len(flagged)
    flagged2 = {
        r.id
        for r in dedup.ngram_decontaminate(train, heldout, "doc_id", "text", n=8)
        .filter(F.col("contaminated"))
        .collect()
    }
    assert flagged2 == flagged  # rerun-deterministic


def test_assign_split_independent_of_sampler_hash(spark, sf_dir):
    """The split draw is domain-prefixed: composing a split AFTER a
    hash_frac filter must still populate every split (an unprefixed
    draw would label every hash_frac < 0.8 survivor 'train')."""
    d = _docs(spark, sf_dir)
    survivors = d.filter(sampling.hash_frac("doc_id") < 0.3)
    out = sampling.assign_split(survivors, "doc_id", SPLIT_W)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts.get("val", 0) > 0 and counts.get("test", 0) > 0
    n = sum(counts.values())
    assert 0.6 * n < counts["train"] < 0.95 * n
