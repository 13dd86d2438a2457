"""PageRank (operators/graph.py): pure-python integer mirror, the
dangling/multi-edge contract, layout invariance, and the iters=0
identity."""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import functions as F

from ocr_compare_spark.operators import graph

# cycle + fan-in + a dangling sink + a MULTI-edge (a->b twice)
EDGES = [
    ("a", "b"),
    ("a", "b"),
    ("a", "c"),
    ("b", "c"),
    ("c", "a"),
    ("b", "d"),  # d is dangling (no out-edges)
    ("e", "d"),  # e has inbound 0 (teleport-only after round 1)
]


def _mirror(edges, iters, d_num=85, d_den=100):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    outdeg = Counter(u for u, _ in edges)
    teleport = 1_000_000 - (1_000_000 * d_num) // d_den
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(iters):
        s: dict[str, int] = defaultdict(int)
        for u, v in edges:
            s[v] += rank[u] // outdeg[u]
        rank = {n: teleport + (d_num * s.get(n, 0)) // d_den for n in nodes}
    return rank


def _run(spark, edges, iters, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = graph.pagerank(df, iters=iters, **kw)
    return {r["node"]: r["rank6"] for r in out.collect()}


def test_pagerank_matches_integer_mirror(spark):
    for iters in (1, 2, 3, 5):
        assert _run(spark, EDGES, iters) == _mirror(EDGES, iters)


def test_pagerank_iters_zero_is_uniform(spark):
    got = _run(spark, EDGES, 0)
    assert set(got.values()) == {1_000_000}
    assert set(got) == {"a", "b", "c", "d", "e"}


def test_pagerank_dangling_mass_leaves(spark):
    # d never redistributes: with only a->d, total mass shrinks and
    # a settles at pure teleport while d keeps receiving from it
    got = _run(spark, [("a", "d")], 2)
    assert got["a"] == 150_000
    assert got["d"] == 150_000 + (85 * (150_000 // 1)) // 100


def test_pagerank_multi_edge_counts(spark):
    # a->b twice + a->c once: b gets 2/3 of a's contribution
    got = _run(spark, [("a", "b"), ("a", "b"), ("a", "c")], 1)
    third = 1_000_000 // 3
    assert got["b"] == 150_000 + (85 * (2 * third)) // 100
    assert got["c"] == 150_000 + (85 * third) // 100


def test_pagerank_damping_params(spark):
    got = _run(spark, EDGES, 2, d_num=1, d_den=2)
    assert got == _mirror(EDGES, 2, d_num=1, d_den=2)


def test_pagerank_layout_invariant(spark):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    base = {r["node"]: r["rank6"] for r in graph.pagerank(df, iters=3).collect()}
    for parts in (1, 7):
        shuffled = df.repartition(parts, F.col("dst"))
        got = {r["node"]: r["rank6"] for r in graph.pagerank(shuffled, iters=3).collect()}
        assert got == base


# --------------------------------------------------------------- HITS


def _hits_mirror(edges, iters):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    hub = {n: 1_000_000 for n in nodes}
    auth = {n: 0 for n in nodes}
    for _ in range(iters):
        raw = {n: 0 for n in nodes}
        for u, v in edges:
            raw[v] += hub[u]
        mx = max(raw.values())
        auth = {n: (raw[n] * 1_000_000) // mx for n in nodes}
        raw = {n: 0 for n in nodes}
        for u, v in edges:
            raw[u] += auth[v]
        mx = max(raw.values())
        hub = {n: (raw[n] * 1_000_000) // mx for n in nodes}
    return {n: (auth[n], hub[n]) for n in nodes}


def _run_hits(spark, edges, iters):
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = graph.hits(df, iters=iters)
    return {r["node"]: (r["auth6"], r["hub6"]) for r in out.collect()}


def test_hits_matches_integer_mirror(spark):
    for iters in (1, 2, 3):
        assert _run_hits(spark, EDGES, iters) == _hits_mirror(EDGES, iters)


def test_hits_hub_authority_separation(spark):
    # star: h -> a1..a4. h is the only hub; targets split authority
    edges = [("h", f"a{i}") for i in range(4)]
    got = _run_hits(spark, edges, 2)
    assert got["h"] == (0, 1_000_000)           # pure hub, no in-edges
    for i in range(4):
        assert got[f"a{i}"] == (1_000_000, 0)   # pure authorities


def test_hits_multi_edge_counts(spark):
    # a->b twice vs c->d once: b accrues double authority pre-norm,
    # so after L-inf normalization b=1e6 and d=5e5
    got = _run_hits(spark, [("a", "b"), ("a", "b"), ("c", "d")], 1)
    assert got["b"][0] == 1_000_000 and got["d"][0] == 500_000


def test_hits_layout_invariant(spark):
    df = spark.createDataFrame(EDGES * 3, ["src", "dst"])
    a = {r["node"]: (r["auth6"], r["hub6"]) for r in graph.hits(df.repartition(2), iters=3).collect()}
    b = {r["node"]: (r["auth6"], r["hub6"]) for r in graph.hits(df.repartition(13), iters=3).collect()}
    assert a == b


def test_hits_over_domain_graph_composition(spark):
    # HITS over a domain-level edge table with its own column names:
    # directory-style domains (many out-links) surface as hubs,
    # linked-to content domains as authorities
    rows = [("dir.example", f"site{i}.com") for i in range(4)] + [
        ("site0.com", "site1.com")
    ]
    dg = spark.createDataFrame(rows, ["src_domain", "dst_domain"])
    got = {
        r["node"]: (r["auth6"], r["hub6"])
        for r in graph.hits(dg.select("src_domain", "dst_domain"),
                            iters=2, src="src_domain", dst="dst_domain").collect()
    }
    assert got["dir.example"][1] == 1_000_000      # the directory is THE hub
    assert got["dir.example"][0] == 0              # nothing links to it
    assert max(got[f"site{i}.com"][0] for i in range(4)) == 1_000_000


def test_node_side_hint_paths_identical(spark, monkeypatch):
    """r6: the iterative round joins decide broadcast vs
    shuffled-hash from the real node-table size (frozen checkpoint
    stats are garbage). Both paths must be bit-identical — integer
    math is partition-invariant by construction; this pins it for
    pagerank, hits and connected_components."""
    from ocr_compare_spark.operators import dedup, graph

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7) % 50}") for i in range(200)], ["src", "dst"]
    ).localCheckpoint()
    pairs = spark.createDataFrame(
        [(i, (i + 1) % 40) for i in range(40)], ["id_a", "id_b"]
    )
    def run():
        pr = sorted((r.node, r.rank6) for r in graph.pagerank(edges, iters=2).collect())
        ht = sorted(
            (r.node, r.auth6, r.hub6) for r in graph.hits(edges, iters=2).collect()
        )
        cc = sorted(
            (r.id, r.component)
            for r in dedup.connected_components(pairs).collect()
        )
        return pr, ht, cc

    base = run()
    # force the shuffled-hash path
    monkeypatch.setattr(graph, "NODE_BROADCAST_MAX_BYTES", 1)
    forced = run()
    assert base == forced
    assert len(base[0]) == 200
