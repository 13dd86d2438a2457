"""Crawl-frontier plan (plans/frontier.py): seen-set exclusion,
robots gating, rank-first politeness caps, metrics bookkeeping and
layout determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_compare_spark.plans.frontier import crawl_frontier

# three pages on a.com, one on b.com; /popular is linked from every
# page (top rank), /x from two, the rest from one
PAGES = [
    (
        "http://a.com/p1",
        b'<a href="/popular">t</a><a href="/rare">t</a>'
        b'<a href="/blocked/page">t</a><a href="http://b.com/x">t</a>',
    ),
    ("http://a.com/p2", b'<a href="/popular">t</a><a href="http://b.com/x">t</a>'),
    ("http://a.com/p3", b'<a href="/popular">t</a><a href="/p1">t</a>'),
    ("http://b.com/q", b'<a href="http://a.com/popular">t</a><a href="/y">t</a>'),
]

ROBOTS = [("a.com", "User-agent: *\nDisallow: /blocked/\nCrawl-delay: 2\n")]


def _pages(spark):
    return spark.createDataFrame(PAGES, ["url", "html"])


def test_frontier_basic_and_metrics(spark):
    fr, m = crawl_frontier(_pages(spark))
    got = {r.url for r in fr.collect()}
    # crawled pages excluded even when linked (p1 is linked by p3)
    assert "http://a.com/p1" not in got
    assert got == {
        "http://a.com/popular",
        "http://a.com/rare",
        "http://a.com/blocked/page",
        "http://b.com/x",
        "http://b.com/y",
    }
    assert m["n_discovered"] == 5 and m["n_frontier"] == 5
    assert m["n_blocked_robots"] == 0 and m["n_dropped_politeness"] == 0
    # rank signal: /popular (3 inbound) outranks /x (2) outranks /y (1)
    rank = {r.url: r.rank6 for r in fr.collect()}
    assert rank["http://a.com/popular"] > rank["http://b.com/x"] > rank["http://b.com/y"]


def test_frontier_seen_and_robots(spark):
    seen = spark.createDataFrame([("http://a.com/rare",)], ["url"])
    robots = spark.createDataFrame(ROBOTS, ["host", "robots_txt"])
    fr, m = crawl_frontier(_pages(spark), seen_urls=seen, robots=robots)
    got = {r.url for r in fr.collect()}
    assert "http://a.com/rare" not in got  # seen
    assert "http://a.com/blocked/page" not in got  # robots
    assert m["n_discovered"] == 4 and m["n_blocked_robots"] == 1
    assert m["n_frontier"] == 3
    # crawl_delay rides along for the scheduler
    delays = {r.url: r.crawl_delay for r in fr.collect()}
    assert delays["http://a.com/popular"] == 2.0
    assert delays["http://b.com/x"] is None


def test_frontier_politeness_and_batch_caps(spark):
    fr, m = crawl_frontier(_pages(spark), per_host_cap=1)
    by_host = {}
    for r in fr.collect():
        by_host.setdefault(r.host, []).append(r.url)
    assert all(len(v) == 1 for v in by_host.values())
    # highest-rank url survives the cap on each host
    assert by_host["a.com"] == ["http://a.com/popular"]
    assert by_host["b.com"] == ["http://b.com/x"]
    assert m["n_dropped_politeness"] == 3

    fr2, m2 = crawl_frontier(_pages(spark), max_urls=2)
    got = {r.url for r in fr2.collect()}
    assert len(got) == 2 and "http://a.com/popular" in got
    assert m2["n_frontier"] == 2


def test_frontier_layout_deterministic(spark):
    base, _ = crawl_frontier(_pages(spark), per_host_cap=2, max_urls=3)
    a = sorted((r.url, r.rank6) for r in base.collect())
    again, _ = crawl_frontier(_pages(spark).repartition(7), per_host_cap=2, max_urls=3)
    b = sorted((r.url, r.rank6) for r in again.collect())
    assert a == b and len(a) == 3


def test_crawl_loop_frontier_plus_incremental(spark, tmp_path):
    """The full crawl LOOP: batch 1 -> extract (cache) -> frontier
    proposes undiscovered urls -> synthesize their fetch -> batch 2
    extracts ONLY the new payloads -> frontier round 2 shrinks to
    empty once everything is crawled."""
    from pyspark.sql import functions as F

    from ocr_compare_spark.plans.incremental import crawl_delta

    cache = str(tmp_path / "cache")

    def fetch(urls):
        # deterministic synthetic server: every page links to /hub
        rows = [
            (u, f'<p>page {u}</p><a href="/hub">hub</a>'.encode()) for u in urls
        ]
        return (
            spark.createDataFrame(rows, ["url", "html"])
            .withColumn("warc_ts", F.to_timestamp(F.lit("2025-01-01 00:00:00")))
            .withColumn("text", F.lit(""))
            .withColumn("lang", F.lit("en"))
        )

    batch1 = fetch(["http://x.com/a", "http://x.com/b"])
    _, m1 = crawl_delta(spark, batch1, cache)
    assert m1["fresh_docs"] > 0

    fr1, fm1 = crawl_frontier(batch1)
    todo = [r.url for r in fr1.collect()]
    assert todo == ["http://x.com/hub"]  # the one undiscovered url

    # crawl the frontier; seen set = everything fetched so far
    batch2 = fetch(todo)
    _, m2 = crawl_delta(spark, batch2, cache)
    assert m2["fresh_docs"] > 0  # hub's payload is new

    seen = batch1.select("url").unionByName(batch2.select("url"))
    fr2, fm2 = crawl_frontier(batch2, seen_urls=seen)
    assert fr2.count() == 0 and fm2["n_frontier"] == 0  # loop closed

    # re-fetching an already-cached batch does zero engine work
    _, m3 = crawl_delta(spark, batch2, cache)
    assert m3["fresh_docs"] == 0


def test_frontier_extra_seeds(spark):
    """Sitemap-style seeds enter at the zero-inlink rank floor, keep
    their PageRank when also linked, drop when already crawled, and
    pass through the robots gate like any candidate."""
    seeds = spark.createDataFrame(
        [("http://a.com/from-sitemap",),      # pure seed
         ("http://a.com/popular",),           # also linked -> keeps rank
         ("http://a.com/p1",),                # already crawled -> dropped
         ("http://a.com/blocked/seed",)],     # robots-blocked
        ["loc"],
    )
    robots = spark.createDataFrame(ROBOTS, ["host", "robots_txt"])
    fr, m = crawl_frontier(_pages(spark), robots=robots, extra_seeds=seeds)
    rank = {r.url: r.rank6 for r in fr.collect()}
    assert "http://a.com/from-sitemap" in rank
    assert rank["http://a.com/from-sitemap"] == 150000
    assert rank["http://a.com/popular"] > 150000  # linked seed keeps PageRank
    assert "http://a.com/p1" not in rank
    assert "http://a.com/blocked/seed" not in rank
    # metrics: 5 link-discovered + 2 net-new seeds; 2 robots-blocked
    assert m["n_seeds"] == 2
    assert m["n_discovered"] == 7
    assert m["n_blocked_robots"] == 2
    assert m["n_frontier"] == 5


def test_frontier_seen_bloom_scale_path(spark):
    """The Bloom seen-set drops previously-crawled urls without a
    join; the exact seen_urls tail composes on top; a properly-sized
    filter has no false positives on this tiny set."""
    import numpy as np
    from ocr_compare_spark.operators.bloom import build_bloom

    # prior crawls saw /popular and /y (canonical forms)
    prior = spark.createDataFrame(
        [("http://a.com/popular",), ("http://b.com/y",)], ["url"]
    )
    bloom = build_bloom(prior, "url", m_bits=1 << 14, k=7)
    robots = spark.createDataFrame(ROBOTS, ["host", "robots_txt"])
    seen = spark.createDataFrame([("http://a.com/rare",)], ["url"])
    fr, m = crawl_frontier(
        _pages(spark), seen_urls=seen, robots=robots,
        seen_bloom=bloom, seen_bloom_bits=1 << 14, seen_bloom_k=7,
    )
    got = {r.url for r in fr.collect()}
    assert got == {"http://b.com/x"}
    assert m["n_discovered"] == 4            # rare dropped by exact seen
    assert m["n_dropped_seen_bloom"] == 2    # popular + y
    assert m["n_blocked_robots"] == 1        # /blocked/page
    assert m["n_frontier"] == 1
