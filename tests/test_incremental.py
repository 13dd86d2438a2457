"""Incremental crawl-delta plan (plans/incremental.py): a second
crawl that re-fetches unchanged pages must not re-run the engines,
while changed/new payloads extract exactly once and the served text
is byte-identical to the first crawl's for unchanged urls."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_compare_spark import synth
from ocr_compare_spark.plans.incremental import crawl_delta


def _doc_id():
    return F.regexp_extract("url", r"(\d+)$", 1).cast("long")


def test_crawl_delta_warm_cache_serves_everything(spark, sf_dir, tmp_path):
    cache_dir = str(tmp_path / "cache")
    pages = synth.pages_from_documents(spark, sf_dir)

    r1, m1 = crawl_delta(spark, pages, cache_dir)
    assert m1["fresh_docs"] == m1["urls"] == m1["rows_in"]
    assert m1["result_rows"] > 0

    # crawl 2: identical payloads, one day later — zero fresh work
    crawl2 = pages.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    )
    r2, m2 = crawl_delta(spark, crawl2, cache_dir)
    assert m2["fresh_docs"] == 0
    assert m2["result_rows"] == m1["result_rows"]

    t1 = {(r.url, r.engine): r.doc_text for r in r1.collect()}
    t2 = {(r.url, r.engine): r.doc_text for r in r2.collect()}
    assert t1 == t2  # byte-identical served text per (url, engine)


def test_crawl_delta_extracts_only_the_changed_payloads(spark, sf_dir, tmp_path):
    cache_dir = str(tmp_path / "cache")
    pages = synth.pages_from_documents(spark, sf_dir)
    r1, m1 = crawl_delta(spark, pages, cache_dir)

    # crawl 2: every url refetched; HTML docs with doc_id%50==1 got a
    # new paragraph prepended (changed bytes -> changed content hash);
    # everything else byte-unchanged
    changed = (_doc_id() % 50 == 1) & (_doc_id() % 10 != synth.PDF_MOD)
    crawl2 = pages.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    ).withColumn(
        "html",
        F.when(
            changed,
            F.concat(F.encode(F.lit("<p>breaking update of this page</p>"), "UTF-8"), F.col("html")),
        ).otherwise(F.col("html")),
    )
    n_changed = crawl2.filter(changed).count()
    assert n_changed > 0

    r2, m2 = crawl_delta(spark, crawl2, cache_dir)
    assert m2["fresh_docs"] == n_changed
    assert m2["result_rows"] == m1["result_rows"]

    # changed urls were genuinely RE-extracted (dom text differs from
    # crawl 1); unchanged urls were served byte-identical
    changed_urls = {r.url for r in crawl2.filter(changed).select("url").collect()}
    t1 = {r.url: r.doc_text for r in r1.filter(F.col("engine") == "dom").collect()}
    t2 = {r.url: r.doc_text for r in r2.filter(F.col("engine") == "dom").collect()}
    assert set(t1) == set(t2)
    for url, text in t2.items():
        if url in changed_urls:
            assert text != t1[url]
        else:
            assert text == t1[url]


def test_crawl_delta_batch_with_stacked_snapshots(spark, sf_dir, tmp_path):
    """A batch carrying several snapshots of the same url keeps only
    the newest before the cache probe (latest_snapshot composition)."""
    cache_dir = str(tmp_path / "cache")
    pages = synth.pages_from_documents(spark, sf_dir).filter(_doc_id() < 40)
    stale = pages.withColumn(
        "warc_ts", F.col("warc_ts") - F.expr("INTERVAL 30 DAY")
    ).withColumn("html", F.encode(F.lit("<p>stale snapshot text</p>"), "UTF-8"))
    batch = pages.unionByName(stale)

    r, m = crawl_delta(spark, batch, cache_dir)
    assert m["rows_in"] == 80 and m["urls"] == 40
    assert m["fresh_docs"] == 40  # only the newest snapshot extracts
    assert r.filter(F.col("doc_text").contains("stale snapshot")).count() == 0


def test_crawl_delta_within_batch_duplicate_payloads_extract_once(spark, tmp_path):
    """Two urls serving IDENTICAL bytes in the SAME batch: the engines
    run once per distinct payload (fresh_docs counts payloads, not
    urls) and both urls are served byte-identical text."""
    cache_dir = str(tmp_path / "cache")
    html = b"<html><body><p>mirrored syndicated body of text</p></body></html>"
    other = b"<html><body><p>unique body</p></body></html>"
    rows = [
        ("https://a.example.com/x", "2024-01-01 00:00:00", html, "en"),
        ("https://b.example.com/mirror-of-x", "2024-01-01 00:00:00", html, "en"),
        ("https://c.example.com/y", "2024-01-01 00:00:00", other, "en"),
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts string, html binary, lang string") \
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    res, m = crawl_delta(spark, pages, cache_dir, engines=("dom",))
    assert m["urls"] == 3
    assert m["fresh_docs"] == 2  # 2 distinct payloads, not 3 urls
    texts = {r.url: r.doc_text for r in res.collect()}
    assert len(texts) == 3
    assert texts["https://a.example.com/x"] == texts["https://b.example.com/mirror-of-x"]
    assert texts["https://c.example.com/y"] != texts["https://a.example.com/x"]


def test_revisit_archive_feeds_cache_with_zero_engine_work(spark, tmp_path):
    """A recrawl whose every capture is a revisit (payload identical
    to crawl 1's) does ZERO engine work: every payload is already
    cached."""
    from datetime import datetime

    from ocr_compare_spark.plans.incremental import crawl_delta

    t0 = datetime(2025, 1, 1)
    body = b"<html><body><p>stable page body</p></body></html>"
    crawl1 = spark.createDataFrame(
        [(f"https://h{i}.example/p", t0, body, "en") for i in range(6)],
        ["url", "warc_ts", "html", "lang"],
    )
    cache = str(tmp_path / "cache")
    _, m1 = crawl_delta(spark, crawl1, cache)
    assert m1["fresh_docs"] == 1  # six urls, ONE distinct payload

    # crawl 2: same pages re-crawled a day later, bytes unchanged
    crawl2 = crawl1.withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
    _, m2 = crawl_delta(spark, crawl2, cache)
    assert m2["fresh_docs"] == 0 and m2["urls"] == 6


def test_cdx_digests_feed_recrawl_scheduler(spark):
    """CDX tier -> recrawl composition: stacked crawl indexes carry
    (urlkey, ts, digest) for free; change_rate estimates straight off
    them with no WARC byte touched."""
    from datetime import datetime, timedelta

    from ocr_compare_spark.operators.recrawl import recrawl_priority

    t0 = datetime(2025, 1, 1)
    rows = []
    for c in range(3):  # three crawls, one day apart
        for i in range(4):
            # url i changes on crawl c iff i > c
            v = min(c, i)
            rows.append((f"com,h{i})/p", t0 + timedelta(days=c), f"https://h{i}.com/p", f"d{i}-{v}"))
    ent = spark.createDataFrame(rows, "urlkey string, ts timestamp, url string, digest string")
    pr = recrawl_priority(
        ent, t0 + timedelta(days=10), url_col="url", ts_col="ts", digest_col="digest"
    )
    got = {r.url: r for r in pr.collect()}
    assert all(r.n_fetches == 3 for r in got.values())
    # i=0 never changes; i=1 changes once; i>=2 change twice
    assert got["https://h0.com/p"].n_changes == 0
    assert got["https://h1.com/p"].n_changes == 1
    assert got["https://h2.com/p"].n_changes == 2
    assert (
        got["https://h3.com/p"].p_changed6
        > got["https://h1.com/p"].p_changed6
        > got["https://h0.com/p"].p_changed6 == 0.0
    )


def test_crawl_delta_feeds_incremental_index(spark, sf_dir, tmp_path):
    """Recrawl batch -> crawl_delta (content-hash cached extraction):
    unchanged payloads never re-run the engines, and exactly the
    changed pages serve the new text an index rebuild would read."""
    cache_dir = str(tmp_path / "cache")
    pages = synth.pages_from_documents(spark, sf_dir)
    r1, _ = crawl_delta(spark, pages, cache_dir)
    assert r1.count() > 0

    # crawl 2 refetches the doc_id%7==3 subset; within it, %14==3
    # pages changed bytes, the rest are byte-identical (cache hits)
    refetch = _doc_id() % 7 == 3
    changed = refetch & (_doc_id() % 14 == 3)
    crawl2 = (
        pages.filter(refetch)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
        .withColumn(
            "html",
            F.when(
                changed,
                F.concat(
                    F.encode(F.lit("<p>fresh scoop paragraph</p>"), "UTF-8"),
                    F.col("html"),
                ),
            ).otherwise(F.col("html")),
        )
    )
    n_changed = crawl2.filter(changed).count()
    assert n_changed > 0
    r2, m2 = crawl_delta(spark, crawl2, cache_dir)
    assert m2["fresh_docs"] == n_changed  # unchanged refetches: no engine work
    # batch urls serve crawl-2 text: the planted paragraph shows up
    # in exactly the changed pages
    scoop = {
        r.url
        for r in r2.filter(
            (F.col("engine") == "dom") & F.col("doc_text").contains("fresh scoop paragraph")
        ).collect()
    }
    changed_urls = {r.url for r in crawl2.filter(changed).select("url").collect()}
    assert scoop == changed_urls
