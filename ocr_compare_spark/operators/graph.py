"""Link-graph analytics: PageRank and HITS over crawl edges.

Web-scale pipelines rank pages for crawl-frontier priority and for
quality priors (a page many pages link to is worth re-crawling and
worth up-weighting in the training mix). This is the standard damped
power iteration (Page et al. 1999) over the (src, dst) edge table
that operators/links.extract_links produces.

Determinism contract (ANSI-SQL-reproducible end to end):

- ranks live in **integer microunits** (rank6; 1_000_000 == rank 1.0,
  every node starts at 1_000_000). Each round:

      contrib(u -> v) = rank6(u) div outdeg(u)            (int64)
      rank6'(v) = teleport6 + (d_num * sum(contrib)) div d_den

  with teleport6 = 1_000_000 - (1_000_000 * d_num) div d_den. All
  arithmetic is exact int64 floor division — no float summation, so
  the DuckDB twin unrolls the same iterations and matches bit-for-bit
  in any evaluation order.
- **dangling nodes** (no out-edges) contribute nothing — their mass
  leaves the system, the web-graph convention when the node set is an
  open crawl frontier rather than a closed matrix.
- **multi-edges count**: outdeg is the out-EDGE count and each edge
  contributes once. Dedup edges first if you want simple-graph ranks.

Scale shape (100 TB story): the edge table is the big side; it is
joined-to-ranks on src and aggregated on dst once per round — the two
shuffles every distributed PageRank pays. The rank table is
node-sized (orders smaller than edges) and is localCheckpoint'ed
every round, BOTH to cut the iterative lineage (CLAUDE.md rule: a
persisted-but-not-checkpointed loop doubles the logical-plan string
per round and can wedge the driver) AND so round N+1's join reads a
materialized table instead of recomputing rounds 1..N. The
edge+outdeg input is checkpointed once up front for the same reason.

Reference analog: the reference has no graph stage; this extends the
crawl-side dataset family (links.py, robots.py, sitemap.py) that a
production crawl loop needs around the extractor core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ocr_compare_spark.operators.adaptive import build_side, materialize, row_bytes

#: rank 1.0 in microunits — every node's starting mass.
RANK_ONE6 = 1_000_000

#: Broadcast cap for the node-sized side of the round joins
#: (pagerank ranks / hits scores / cc labels; see operators.adaptive).
NODE_BROADCAST_MAX_BYTES = 64 << 20


def _seed_scores(edges: DataFrame, src: str, dst: str, score_col: str):
    """Materialized ``(node, score_col = RANK_ONE6)`` over the CHECKPOINTED
    ``edges``' srcs and dsts (not the source: measured 2x), its ``(node,
    c = 0)`` zero seed, and the round-join build side decided from its bytes.
    No node is lost iff every src and dst of the graph is in ``edges``
    (pagerank: every src survives the outdeg join, outdeg >= 1)."""
    nodes = edges.select(F.col(src).alias("node")).unionByName(edges.select(F.col(dst).alias("node")))
    seed = nodes.distinct().select("node", F.lit(RANK_ONE6).cast("long").alias(score_col))
    seed, measured = materialize(seed, nbytes=row_bytes(seed))
    zero_seed = seed.select("node", F.lit(0).cast("long").alias("c"))
    return seed, zero_seed, build_side(measured["nbytes"], NODE_BROADCAST_MAX_BYTES, "shuffle_hash")


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    d_num: int = 85,
    d_den: int = 100,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Damped PageRank in integer microunits: (node, rank6).

    Node set = distinct(src) UNION distinct(dst). Damping d = d_num /
    d_den applied by exact integer floor division (default 0.85).
    ``iters`` fixed rounds — at crawl-graph diameters a handful of
    rounds orders the frontier; convergence tests live in pytest.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    teleport6 = RANK_ONE6 - (RANK_ONE6 * d_num) // d_den

    # one edge row per contribution, outdeg pre-attached. r6: outdeg
    # rides a window count over the src partitioning instead of the
    # former raw-edge checkpoint + outdeg self-join — the upstream
    # (html scan + link regex) is still evaluated exactly once (under
    # this one checkpoint), with one checkpoint write and one join
    # fewer; rows are slim (src, dst, outdeg), so the window shuffle
    # is the same bytes the join's exchange moved
    keyed = (
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("node"))
        .withColumn(
            "outdeg",
            F.count(F.lit(1)).over(
                Window.partitionBy("_src").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .localCheckpoint(eager=True)
    )
    # zero-contribution seed: unioning one (node, 0) row per node into
    # the contribution stream before the aggregate replaces the
    # per-round nodes LEFT JOIN (nodes with no inbound edges sum to 0
    # either way — exact int64 result identical, A/B-measured) — one
    # shuffle per round instead of two, and the union only adds
    # node-sized rows to the edge-sized aggregate
    ranks, zero_seed, side = _seed_scores(keyed, "_src", "node", "rank6")
    for _ in range(iters):
        contrib = keyed.join(
            side(ranks.select(F.col("node").alias("_src"), "rank6")),
            "_src",
        ).select("node", F.expr("rank6 div outdeg").alias("c"))
        summed = contrib.unionByName(zero_seed).groupBy("node").agg(
            F.sum("c").alias("s")
        )
        ranks = summed.select(
            "node",
            (
                F.lit(teleport6) + F.expr(f"({d_num} * s) div {d_den}")
            ).cast("long").alias("rank6"),
        )
        # cut lineage per round — persist is NOT enough (plan-string
        # doubling; see connected_components). The LAST round stays
        # checkpointed too: callers consume the result
        # more than once and rely on it being materialized.
        ranks = ranks.localCheckpoint(eager=True)
    return ranks


def hits(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, JACM 46(5)) in exact
    integer microunits: (node, auth6, hub6).

    Round structure is the textbook mutual recursion —

        auth_raw(v) = sum over edges (u -> v) of hub6(u)
        hub_raw(u)  = sum over edges (u -> v) of auth6(v)

    — with ONE documented substitution: each half-round normalizes by
    the MAXIMUM (L-inf) instead of the L2 norm, so the winner scores
    1_000_000 exactly and every score is

        score6 = (raw * 1_000_000) div max(raw)

    computed in DECIMAL(38,0) (raw alone can reach 9e18 for a 9M-
    in-link hub at web scale; the multiply must not wrap int64 —
    Spark decimal DIV == DuckDB HUGEINT // == python //, A/B-pinned).
    L-inf is a standard HITS variant (in real arithmetic the per-
    round ranking ORDER is identical to L2's — normalization is a
    positive scalar — so the two differ only by scale and by the
    1e-6 quantization) and it keeps the whole loop int64-exact, so
    the DuckDB twin just unrolls the rounds — same reasoning as
    pagerank's microunit contract above.

    Conventions: multi-edges count (each contributes once per round);
    nodes with no in-edges hold auth6 = 0, no out-edges hub6 = 0
    (their mass simply never accrues — the open-frontier convention);
    scores are NOT damped (HITS has no teleport).

    Scale shape: per round, two edge-sized shuffles (the hub->auth
    and auth->hub aggregations — HITS' unavoidable pair) plus two
    node-sized broadcast max joins; node tables are
    localCheckpoint'ed per round (the iterative-loop lineage rule).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    edges = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst")).localCheckpoint(eager=True)
    hubs, zero_seed, side = _seed_scores(edges, "_src", "_dst", "score6")

    def _normalize(raw: DataFrame) -> DataFrame:
        # L-inf scale to microunits in decimal — max via a 1-row
        # broadcast cross join (stays one lazy DAG; max >= 1e6 > 0
        # whenever edges is non-empty because the opposite side
        # starts at 1_000_000)
        mx = raw.agg(F.max("s").alias("_mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "node",
            F.expr(
                "CAST((CAST(s AS DECIMAL(38,0)) * 1000000) DIV _mx AS BIGINT)"
            ).alias("score6"),
        )

    def _half_round(scores: DataFrame, from_col: str, to_col: str) -> DataFrame:
        contrib = edges.join(
            side(scores.select(F.col("node").alias(from_col), "score6")),
            from_col,
        ).select(F.col(to_col).alias("node"), F.col("score6").alias("c"))
        # checkpoint the RAW aggregate BEFORE _normalize reads it
        # twice (crossJoin side + the max subplan) — the two are
        # differently-aliased subtrees, the exact shape where
        # ReuseExchange does not fire and the edge-sized shuffle
        # would run twice per half-round (pagerank's edge-checkpoint
        # lesson, one level up)
        raw = contrib.unionByName(zero_seed).groupBy("node").agg(
            F.sum("c").alias("s")
        ).localCheckpoint(eager=True)
        # checkpoint the normalized output too: the next half-round
        # (and the caller's final join) then reads a materialized
        # node-sized table, and the 1-row broadcast crossJoin never
        # leaks into downstream plans (plan_audit flags nested-loop
        # joins it can see; a checkpointed scalar-broadcast is fine)
        return _normalize(raw).localCheckpoint(eager=True)

    auths = None
    for _ in range(iters):
        auths = _half_round(hubs, "_src", "_dst")
        hubs = _half_round(auths, "_dst", "_src")
    return (
        auths.select("node", F.col("score6").alias("auth6"))
        .join(hubs.select("node", F.col("score6").alias("hub6")), "node")
    )
