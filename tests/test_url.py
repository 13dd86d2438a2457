"""URL canonicalization (functions/url.py): table-driven forms,
idempotency over the synth pages table, and host extraction."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_compare_spark import synth
from ocr_compare_spark.functions.url import canonical_url, host_of


CASES = [
    # (raw, canonical)
    ("HTTP://Example.COM/a", "http://example.com/a"),
    ("http://example.com:80/a", "http://example.com/a"),
    ("https://example.com:443/", "https://example.com/"),
    ("https://example.com:8443/x", "https://example.com:8443/x"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com/a#frag", "http://example.com/a"),
    ("http://user:pw@example.com/a", "http://example.com/a"),
    ("http://example.com/a?b=2&a=1", "http://example.com/a?a=1&b=2"),
    ("http://example.com/a?utm_source=x&a=1&fbclid=y", "http://example.com/a?a=1"),
    ("http://example.com/a?utm_source=x", "http://example.com/a"),
    ("http://example.com/a?", "http://example.com/a"),
    ("http://example.com/a?a=1#f", "http://example.com/a?a=1"),
    ("not a url", "not a url"),
    ("mailto:x@example.com", "mailto:x@example.com"),
    # bracketed IPv6 authorities (ADVICE r4: the host must be atomic —
    # inner ':' is not a port separator, and distinct hosts must NOT
    # canonicalize to the same key)
    ("https://[2001:db8::1]/page", "https://[2001:db8::1]/page"),
    ("HTTPS://[2001:DB8::1]:443/x", "https://[2001:db8::1]/x"),
    ("https://[2001:db8::1]:8443/x", "https://[2001:db8::1]:8443/x"),
    ("http://u:p@[::1]:80", "http://[::1]/"),
    ("http://[::ffff:192.0.2.1]/a?b=2&a=1", "http://[::ffff:192.0.2.1]/a?a=1&b=2"),
]


def test_canonical_url_ipv6_hosts_stay_distinct(spark):
    rows = [("https://[2001:db8::1]/page",), ("https://[2001:db8::2]/page",)]
    df = spark.createDataFrame(rows, ["url"])
    keys = df.select(canonical_url("url").alias("k")).distinct().count()
    assert keys == 2


def test_canonical_url_forms(spark):
    df = spark.createDataFrame([(r,) for r, _ in CASES], ["raw"])
    got = {
        r.raw: r.canon
        for r in df.withColumn("canon", canonical_url("raw")).collect()
    }
    for raw, want in CASES:
        assert got[raw] == want, f"{raw!r}: got {got[raw]!r}, want {want!r}"


def test_canonical_url_idempotent(spark, sf_dir):
    pages = synth.pages_from_documents(spark, sf_dir).select("url")
    crafted = spark.createDataFrame([(r,) for r, _ in CASES], ["url"])
    both = pages.unionByName(crafted)
    once = both.select(canonical_url("url").alias("c1"))
    n_diff = once.select(
        (canonical_url("c1") == F.col("c1")).alias("same")
    ).filter(~F.col("same")).count()
    assert n_diff == 0


def test_canonical_url_merges_tracking_variants_for_snapshot_keys(spark):
    rows = [
        ("http://Example.com/page?utm_source=tw", 1),
        ("http://example.com:80/page", 2),
        ("http://example.com/page#top", 3),
    ]
    df = spark.createDataFrame(rows, ["url", "v"])
    keys = df.select(canonical_url("url").alias("k")).distinct().collect()
    assert len(keys) == 1 and keys[0].k == "http://example.com/page"


def test_canonical_url_fuzz_idempotent(spark):
    """Hypothesis fuzz: canonicalization is idempotent and total
    (never null, never throws) on arbitrary url-ish and non-url
    strings — the passthrough rule must make it a safe default
    projection over a dirty crawl column."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    url_ish = st.one_of(
        st.text(
            alphabet="abcXYZ019.:/?#&=@_-%~ []",
            min_size=0,
            max_size=40,
        ),
        st.builds(
            lambda scheme, host, port, path, q, frag: f"{scheme}://{host}{port}{path}{q}{frag}",
            st.sampled_from(["http", "HTTP", "https", "ftp", "x+y.z-1"]),
            st.sampled_from(
                ["Example.com", "a.B.co.uk", "10.0.0.1", "localhost", "u:p@Host.NET",
                 "[2001:DB8::1]", "[::1]", "u@[::ffff:10.0.0.1]", "[", "[]", "[x"]
            ),
            st.sampled_from(["", ":80", ":443", ":8080"]),
            st.sampled_from(["", "/", "/A/b", "/a%20b"]),
            st.sampled_from(["", "?", "?b=2&a=1", "?utm_source=x", "?a=1&utm_x=2&"]),
            st.sampled_from(["", "#f", "#a?b=1"]),
        ),
    )

    batch: list[str] = []

    @settings(max_examples=120, deadline=None)
    @given(url_ish)
    def collect(s: str) -> None:
        batch.append(s)

    collect()
    df = spark.createDataFrame([(s,) for s in batch], ["u"])
    rows = df.select(
        "u",
        canonical_url("u").alias("c1"),
        canonical_url(canonical_url("u")).alias("c2"),
    ).collect()
    for r in rows:
        assert r.c1 is not None, r.u
        assert r.c1 == r.c2, f"not idempotent: {r.u!r} -> {r.c1!r} -> {r.c2!r}"


def test_host_of_forms(spark):
    rows = [
        ("https://News.BBC.co.uk:443/x", "news.bbc.co.uk"),
        ("http://a.b.example.com/", "a.b.example.com"),
        ("http://example.com/", "example.com"),
        ("http://localhost/", "localhost"),
        ("http://10.0.0.1:8080/x", "10.0.0.1"),
        ("http://shop.example.com.au/", "shop.example.com.au"),
        ("https://[2001:DB8::1]:8443/x", "[2001:db8::1]"),
        ("http://[::ffff:192.0.2.1]/", "[::ffff:192.0.2.1]"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], ["url"])
    got = df.select("url", host_of("url").alias("h")).collect()
    want = dict(rows)
    for r in got:
        assert r.h == want[r.url], r.url
