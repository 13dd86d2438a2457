"""Bloom-filter cross-batch dedup (operators/bloom.py): position
mirror, no-false-negatives, membership == the python set-bit mirror,
and the incremental-ingest composition."""

from __future__ import annotations

from ocr_compare_spark.operators import bloom
from tests.mirrors import _py_positions

M, K = 1 << 14, 4


def _keys(spark, n, prefix):
    return spark.createDataFrame(
        [(i, f"{prefix}{i}") for i in range(n)], "id long, key string"
    )


def test_positions_match_python_mirror(spark):
    df = _keys(spark, 50, "k")
    got = {
        r.key: r.p
        for r in df.select("key", bloom.bloom_positions("key", M, K).alias("p")).collect()
    }
    for key, p in got.items():
        assert p == _py_positions(key, M, K)
        assert all(0 <= x < M for x in p) and len(p) == K


def test_no_false_negatives_and_path_parity(spark):
    seen = _keys(spark, 200, "seen")
    probe = _keys(spark, 200, "seen").unionByName(_keys(spark, 100, "new"))
    bmp = bloom.build_bloom(seen, "key", M, K)
    data = {
        r.key: r.might_contain
        for r in bloom.might_contain(probe, "key", bmp, M, K).collect()
    }
    bits = {p for i in range(200) for p in _py_positions(f"seen{i}", M, K)}
    # the broadcast bitmap agrees exactly with the set-bit formulation
    assert data == {k_: all(p in bits for p in _py_positions(k_, M, K)) for k_ in data}
    # every genuinely-seen key flags (bloom never false-negatives)
    assert all(v for k_, v in data.items() if k_.startswith("seen"))


def test_build_bloom_partition_invariant(spark):
    seen = _keys(spark, 300, "x")
    a = bloom.build_bloom(seen, "key", M, K)
    b = bloom.build_bloom(seen.repartition(13), "key", M, K)
    assert (a == b).all()


def test_filter_new_composition(spark):
    # crawl 1 ingested; crawl 2 = half overlap + half new. All
    # duplicates MUST drop; at this m/k sizing (16k bits, 300 keys)
    # false positives are possible but rare — assert the contract
    # direction, then pin the exact deterministic kept set against
    # the python mirror.
    crawl1 = _keys(spark, 200, "seen")
    crawl2 = _keys(spark, 200, "seen").unionByName(_keys(spark, 200, "new"))
    bmp = bloom.build_bloom(crawl1, "key", M, K)
    kept = {r.key for r in bloom.bloom_filter_new(crawl2, "key", bmp, M, K).collect()}
    assert not any(k.startswith("seen") for k in kept)  # no dup survives
    # python mirror of the whole filter
    bits = set()
    for i in range(200):
        bits.update(_py_positions(f"seen{i}", M, K))
    want = {
        f"new{i}"
        for i in range(200)
        if not all(p in bits for p in _py_positions(f"new{i}", M, K))
    }
    assert kept == want
    assert len(kept) >= 190  # fp rate at this sizing is ~<1%


def test_small_filter_false_positive_direction(spark):
    # undersized filter: heavy false positives, still zero false
    # negatives — the safe failure mode for dedup
    seen = _keys(spark, 64, "s")
    probe = _keys(spark, 64, "s").unionByName(_keys(spark, 64, "n"))
    bmp = bloom.build_bloom(seen, "key", 128, 2)
    flags = {
        r.key: r.might_contain
        for r in bloom.might_contain(probe, "key", bmp, 128, 2).collect()
    }
    assert all(flags[f"s{i}"] for i in range(64))
    assert any(flags[f"n{i}"] for i in range(64))  # fps exist here


def test_incremental_fold(spark):
    # crawl 1 -> filter; crawl 2 filtered against it, its survivors
    # folded in; crawl 3 must see BOTH prior crawls
    crawl1 = _keys(spark, 150, "a")
    f1 = bloom.build_bloom(crawl1, "key", M, K)

    crawl2 = _keys(spark, 150, "a").unionByName(_keys(spark, 150, "b"))
    fresh2 = bloom.bloom_filter_new(crawl2, "key", f1, M, K)
    assert not any(r.key.startswith("a") for r in fresh2.collect())
    f2 = bloom.build_bloom(crawl1.unionByName(fresh2), "key", M, K)

    crawl3 = _keys(spark, 300, "a").unionByName(_keys(spark, 150, "b"))
    flags = bloom.might_contain(crawl3, "key", f2, M, K)
    rows = flags.collect()
    # every a<150 and every b key is seen; a150.. are new (modulo fp)
    assert all(r.might_contain for r in rows if r.key.startswith("b"))
    assert all(
        r.might_contain
        for r in rows
        if r.key.startswith("a") and int(r.key[1:]) < 150
    )
    new = [r for r in rows if r.key.startswith("a") and int(r.key[1:]) >= 150]
    assert sum(not r.might_contain for r in new) >= 140  # fp-rare
