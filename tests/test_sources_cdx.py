"""CDX(J) source (Common Crawl URL-index tier) + SURT urlkey."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from ocr_compare_spark.functions.url import surt_key
from ocr_compare_spark.sources.cdx import (
    build_cdxj,
    cdx_entries,
    surt_key_py,
)

T1 = datetime(2025, 3, 1, 10, 30, 0)
T2 = datetime(2025, 6, 15, 4, 5, 6)

RECORDS = [
    (
        "https://www.example.com/About?b=2&a=1",
        T1,
        {"mime": "text/html", "status": "200", "digest": "AAAA1111",
         "length": "1200", "offset": "0", "filename": "seg1.warc.gz",
         "languages": "eng"},
    ),
    (
        "https://sub.example.com/page",
        T1,
        {"mime": "text/html", "status": "200", "digest": "BBBB2222",
         "length": "900", "offset": "1200", "filename": "seg1.warc.gz"},
    ),
    (
        "https://other.org/doc.pdf",
        T1,
        {"mime": "application/pdf", "status": "200", "digest": "CCCC3333",
         "length": "5000", "offset": "2100", "filename": "seg1.warc.gz"},
    ),
]


def test_cdx_roundtrip_plain_and_gz(spark, tmp_path):
    (tmp_path / "cdx-00000").write_bytes(build_cdxj(RECORDS))
    (tmp_path / "cdx-00001.gz").write_bytes(build_cdxj(RECORDS, gzip_file=True))
    rows = cdx_entries(spark, str(tmp_path)).collect()
    assert len(rows) == 6  # both shards
    by_url = {}
    for r in rows:
        by_url[r["url"]] = r
    assert set(by_url) == {u for u, _, _ in RECORDS}
    r = by_url["https://www.example.com/About?b=2&a=1"]
    assert r["urlkey"] == "com,example)/about?a=1&b=2"
    assert r["ts"] == T1
    assert (r["mime"], r["status"], r["digest"]) == ("text/html", 200, "AAAA1111")
    assert (r["length"], r["offset"], r["filename"]) == (1200, 0, "seg1.warc.gz")
    assert r["languages"] == "eng"
    assert by_url["https://sub.example.com/page"]["languages"] is None


def test_cdx_malformed_lines_dropped(spark, tmp_path):
    good = build_cdxj(RECORDS[:1]).decode()
    shard = (
        "not a cdx line\n"
        "garbage-without-spaces\n"
        "\n"
        "com,example)/ 2025 {\"url\": \"https://example.com/\"}\n"  # short ts
        "com,example)/ 20250301103000 not-json\n"
        + good
    )
    (tmp_path / "cdx-bad").write_text(shard)
    rows = cdx_entries(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0]["digest"] == "AAAA1111"


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


def test_cdx_snapshot_and_digest_composition(spark, tmp_path):
    """The index tier's point: plan fetches without touching WARC
    bytes. Stack two crawls; latest_snapshot picks the newest capture
    per urlkey, and the digest column exposes unchanged payloads."""
    from ocr_compare_spark.operators.dedup import latest_snapshot

    crawl2 = [
        # same page recrawled: SAME digest (unchanged payload)
        ("https://www.example.com/About?b=2&a=1", T2,
         {"status": "200", "digest": "AAAA1111", "filename": "seg9.warc.gz"}),
        # changed payload
        ("https://sub.example.com/page", T2,
         {"status": "200", "digest": "DDDD4444", "filename": "seg9.warc.gz"}),
    ]
    (tmp_path / "cdx-c1").write_bytes(build_cdxj(RECORDS))
    (tmp_path / "cdx-c2").write_bytes(build_cdxj(crawl2))
    latest = latest_snapshot(cdx_entries(spark, str(tmp_path)), "urlkey", "ts")
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
