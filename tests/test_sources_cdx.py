"""CDX-keyed capture rows (the Common Crawl URL-index shape): the SURT
urlkey (functions/url.surt_key) and newest-capture selection per
urlkey (operators/dedup.latest_snapshot)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from ocr_compare_spark.functions.url import surt_key
from tests.mirrors import surt_key_py

T1 = datetime(2025, 3, 1, 10, 30, 0)
T2 = datetime(2025, 6, 15, 4, 5, 6)

# (url, ts, digest, filename): crawl 1 captures three pages
RECORDS = [
    ("https://www.example.com/About?b=2&a=1", T1, "AAAA1111", "seg1.warc.gz"),
    ("https://sub.example.com/page", T1, "BBBB2222", "seg1.warc.gz"),
    ("https://other.org/doc.pdf", T1, "CCCC3333", "seg1.warc.gz"),
]


def _captures(spark, records):
    df = spark.createDataFrame(
        records, "url string, ts timestamp, digest string, filename string"
    )
    return df.select(surt_key("url").alias("urlkey"), *df.columns)


def test_cdx_snapshot_and_digest_composition(spark):
    """The index tier's point: plan fetches without touching WARC
    bytes. Stack two crawls; latest_snapshot picks the newest capture
    per urlkey, and the digest column exposes unchanged payloads."""
    from ocr_compare_spark.operators.dedup import latest_snapshot

    crawl2 = [
        # same page recrawled: SAME digest (unchanged payload)
        ("https://www.example.com/About?b=2&a=1", T2, "AAAA1111", "seg9.warc.gz"),
        # changed payload
        ("https://sub.example.com/page", T2, "DDDD4444", "seg9.warc.gz"),
    ]
    latest = latest_snapshot(_captures(spark, RECORDS + crawl2), "urlkey", "ts")
    rows = {r["urlkey"]: r for r in latest.collect()}
    assert len(rows) == 3
    assert rows["com,example)/about?a=1&b=2"]["ts"] == T2
    assert rows["com,example)/about?a=1&b=2"]["n_snapshots"] == 2
    assert rows["com,example,sub)/page"]["digest"] == "DDDD4444"
    assert rows["org,other)/doc.pdf"]["ts"] == T1
    # fetch-planning filter: only digests not already cached need WARC reads
    cached = spark.createDataFrame([("AAAA1111",)], "digest string")
    to_fetch = latest.join(F.broadcast(cached), "digest", "left_anti")
    assert {r["digest"] for r in to_fetch.collect()} == {"DDDD4444", "CCCC3333"}


SURT_CASES = [
    # (input, expected key) — mirrors the surt_key contract
    ("https://www.example.com/About?b=2&a=1", "com,example)/about?a=1&b=2"),
    ("http://Example.COM:80/", "com,example)/"),
    ("https://example.com:8443/x", "com,example:8443)/x"),
    ("https://sub.www.example.com/", "com,example,www,sub)/"),  # www only stripped at front
    ("https://www2.example.co.uk/Page", "uk,co,example)/page"),
    ("https://www.com/", "com,www)/"),  # stripping would leave one label: kept
    ("http://user:pw@example.com/secret", "com,example)/secret"),
    ("https://example.com/a?utm_source=x&q=1#frag", "com,example)/a?q=1"),
    ("https://example.com/a?utm_source=x", "com,example)/a"),
    ("http://192.168.0.1:8080/admin", "192.168.0.1:8080)/admin"),
    ("https://[2001:DB8::1]/p", "[2001:db8::1])/p"),
    ("https://[2001:db8::1]:8443/p", "[2001:db8::1]:8443)/p"),
    ("not a url", "not a url"),
    ("mailto:x@y.z", "mailto:x@y.z"),
]


def test_surt_key_matrix_and_mirror(spark):
    # python mirror against the pinned expectations
    for url, want in SURT_CASES:
        assert surt_key_py(url) == want, url
    # spark expression == mirror on every case
    df = spark.createDataFrame([(u,) for u, _ in SURT_CASES], "url string")
    got = {r["url"]: r["k"] for r in df.select("url", surt_key("url").alias("k")).collect()}
    assert got == {u: w for u, w in SURT_CASES}
