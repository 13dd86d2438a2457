"""Crawl-frontier construction: the plan that closes the crawl loop.

The crawl stack built across the operator family — link extraction
(operators/links.py), PageRank priority (operators/graph.py), the
RFC 9309 robots gate (operators/robots.py), url canonicalization
(functions/url.py) and the deterministic per-key politeness cap
(operators/sampling.cap_per_key) — composed into the standard
frontier pipeline a production crawler runs between batches:

    discovered links  ->  not yet crawled  ->  robots-allowed
        ->  ranked by PageRank  ->  per-host politeness cap
        ->  batch-size cap  =  the next crawl batch

Scale shape: one html scan (graph-only link extraction, single regex
pass), the PageRank rounds over the checkpointed edge table, ONE
left_anti against the seen set (url-hash equi join; at billions of
seen urls pass ``seen_bloom`` instead — a shuffle-free broadcast
Bloom test), a broadcast
robots-rule join, and the distributed prefix-sum cap machinery for
both politeness and the global batch limit — no windows over the
full candidate stream, no driver-side url lists. Determinism: every
stage is a pure function of (url, rank), so reruns and different
cluster sizes emit the SAME batch (the resume property every crawler
scheduler needs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_compare_spark.functions.url import canonical_url, host_of
from ocr_compare_spark.operators import graph, links, sampling


def crawl_frontier(
    pages: DataFrame,
    seen_urls: DataFrame | None = None,
    robots: DataFrame | None = None,
    agent: str = "ocrbot",
    per_host_cap: int | None = None,
    max_urls: int | None = None,
    pagerank_iters: int = 2,
    url_col: str = "url",
    html_col: str = "html",
    extra_seeds: DataFrame | None = None,
    seen_bloom=None,
    seen_bloom_bits: int | None = None,
    seen_bloom_k: int | None = None,
) -> tuple[DataFrame, dict]:
    """Build the next crawl batch from this batch's pages.

    - ``seen_urls``: one-column DataFrame of already-fetched urls
      (canonicalized with the same functions/url.py rules — e.g. the
      url column of sources.cache or dedup.latest_snapshot output).
      The batch's OWN page urls always count as seen.
    - ``robots``: optional (host, robots_txt) table; candidates whose
      host's rules disallow ``agent`` are dropped, crawl_delay rides
      along for the scheduler.
    - ``per_host_cap``: politeness — at most N urls per host per
      batch, highest-rank first (deterministic prefix, not a sample).
    - ``max_urls``: global batch size, highest-rank first.
    - ``extra_seeds``: one-column DataFrame of discovery-channel urls
      outside the link graph (e.g. ``operators.sitemap.sitemap_seeds``
      output). Seeds already present as link-graph candidates keep
      their PageRank; pure seeds enter at rank6 = 150000 — exactly a
      zero-inlink node's rank under graph.pagerank's integer
      microunit rule, so they sort below any linked-to page but above
      nothing artificially. Seen/crawled seeds drop like any
      candidate, and the robots gate + caps apply uniformly.
    - ``seen_bloom``: the SCALE path for the historical seen set — a
      numpy Bloom bitmap (operators/bloom.py: build_bloom over the
      canonical urls of every prior crawl, union_bloom across
      batches). At real crawl scale the seen set is billions of urls;
      an exact ``seen_urls`` anti-join shuffles both sides, while the
      broadcast bitmap test is shuffle-free and O(filter size) per
      executor. False positives DROP a never-crawled candidate —
      acceptable frontier semantics (the url is re-discovered next
      cycle; rate bounded by the m/k sizing) — and never admit a
      crawled url. ``seen_urls`` still composes on top for the exact
      recent tail (e.g. this crawl cycle's in-flight urls).

    Returns ``(frontier, metrics)``: frontier columns are
    (url, host, rank6[, crawl_delay]), metrics counts per stage.
    The frontier DataFrame is localCheckpoint'ed (the metrics counts
    already paid for the evaluation; callers iterate crawl rounds on
    top, and an unmaterialized plan would re-run everything).
    """
    edges = links.extract_links(
        pages, url_col=url_col, html_col=html_col, with_anchor_text=False
    )
    # pagerank checkpoints the edge list once; ranks cover every
    # discovered url (dst nodes) — the priority signal
    ranks = graph.pagerank(edges, iters=pagerank_iters)

    crawled = pages.select(canonical_url(F.col(url_col)).alias("url")).distinct()
    if seen_urls is not None:
        seen_col = seen_urls.columns[0]
        crawled = crawled.unionByName(
            seen_urls.select(canonical_url(F.col(seen_col)).alias("url"))
        ).distinct()

    candidates = ranks.select(F.col("node").alias("url"), "rank6").join(
        crawled, "url", "left_anti"
    )
    if extra_seeds is not None:
        seed_col = extra_seeds.columns[0]
        seeds = (
            extra_seeds.select(canonical_url(F.col(seed_col)).alias("url"))
            .distinct()
            .join(crawled, "url", "left_anti")
            # link-graph candidates win: a seeded url that also has
            # inlinks keeps its PageRank row, not the seed floor
            .join(candidates.select("url"), "url", "left_anti")
            .withColumn("rank6", F.lit(150000).cast("long"))
            .withColumn("_seed", F.lit(1))
        )
        candidates = candidates.withColumn("_seed", F.lit(0)).unionByName(seeds)
    candidates = candidates.withColumn(
        "host", host_of(F.col("url"))
    ).localCheckpoint(eager=True)
    if extra_seeds is not None:
        counts = candidates.agg(
            F.count("*").alias("n"), F.sum("_seed").alias("s")
        ).collect()[0]
        metrics = {
            "n_discovered": counts["n"],
            "n_seeds": int(counts["s"] or 0),
        }
        candidates = candidates.drop("_seed")
    else:
        metrics = {"n_discovered": candidates.count()}

    n_current = metrics["n_discovered"]
    if seen_bloom is not None:
        from ocr_compare_spark.operators import bloom as _bloom

        kw = {}
        if seen_bloom_bits is not None:
            kw["m_bits"] = seen_bloom_bits
        if seen_bloom_k is not None:
            kw["k"] = seen_bloom_k
        candidates = _bloom.bloom_filter_new(
            candidates, "url", seen_bloom, **kw
        ).localCheckpoint(eager=True)
        n_after_bloom = candidates.count()
        metrics["n_dropped_seen_bloom"] = n_current - n_after_bloom
        n_current = n_after_bloom

    if robots is not None:
        from ocr_compare_spark.operators.robots import robots_gate

        gated = robots_gate(candidates, robots, agent).localCheckpoint(eager=True)
        allowed = gated.filter(F.col("robots_allowed")).drop("robots_allowed")
        metrics["n_blocked_robots"] = n_current - allowed.count()
    else:
        allowed = candidates.withColumn(
            "crawl_delay", F.lit(None).cast("double")
        )
        metrics["n_blocked_robots"] = 0

    # highest-rank-first priority in [0,1) for the prefix-sum cappers
    # (exact integer ranks -> exact priority ordering; url tie-break)
    maxr = allowed.agg(F.coalesce(F.max("rank6"), F.lit(0))).collect()[0][0]
    prio = (F.lit(int(maxr)) - F.col("rank6")) / F.lit(float(maxr) + 1.0)
    ordered = allowed.withColumn("_prio", prio)

    n_allowed = n_current - metrics["n_blocked_robots"]
    n_after_host = n_allowed
    if per_host_cap is not None:
        ordered = sampling.cap_per_key(
            ordered, "host", per_host_cap, "url", priority_col="_prio",
            checkpoint=False,
        )
        if max_urls is not None:
            # both caps: materialize the politeness boundary so the
            # per-stage attribution below doesn't re-run the prefix
            ordered = ordered.localCheckpoint(eager=True)
            n_after_host = ordered.count()
    if max_urls is not None:
        ordered = sampling.cap_per_key(
            ordered.withColumn("_all", F.lit(1)), "_all", max_urls, "url",
            priority_col="_prio", checkpoint=False,
        ).drop("_all")

    frontier = ordered.drop("_prio").localCheckpoint(eager=True)
    metrics["n_frontier"] = frontier.count()
    if per_host_cap is not None and max_urls is None:
        n_after_host = metrics["n_frontier"]
    metrics["n_dropped_politeness"] = n_allowed - n_after_host
    metrics["n_dropped_batch_cap"] = n_after_host - metrics["n_frontier"]
    return frontier, metrics
