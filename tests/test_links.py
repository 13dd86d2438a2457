"""Link-graph extraction (operators/links.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_compare_spark.operators.links import extract_links


PAGES = [
    (
        "http://A.example.com/page1?utm_source=x",
        b'<html><body>'
        b'<a href="http://Other.com/target?b=2&a=1#f">first <b>link</b></a>'
        b'<a class="nav" href="/local/path">Local</a>'
        b'<a href="//cdn.example.org/x">proto-relative</a>'
        b'<a href="mailto:x@y.z">mail</a>'
        b'<a href="#top">frag</a>'
        b'<a href="relative/path">rel</a>'
        b'<a href="http://other.com:80/target?a=1&b=2">first  link</a>'
        b"</body></html>",
    ),
    (
        "https://b.example.com/p2",
        b'<a\nhref="http://other.com/target?a=1&b=2">spanning\nlines</a>'
        b'<a href="http://third.com/only"></a>',
    ),
    ("http://c.example.com/empty", b"<html><p>no anchors here</p></html>"),
]


def _links(spark):
    df = spark.createDataFrame(PAGES, ["url", "html"])
    return extract_links(df)


def test_extract_links_resolution_and_canonicalization(spark):
    rows = _links(spark).collect()
    got = {(r.src, r.dst) for r in rows}
    src1 = "http://a.example.com/page1"  # canonicalized, tracking param gone
    assert (src1, "http://other.com/target?a=1&b=2") in got
    assert (src1, "http://a.example.com/local/path") in got
    assert (src1, "http://cdn.example.org/x") in got
    # mailto / fragment-only edges dropped
    assert all("mailto" not in d for _, d in got)
    assert all(not d.endswith("#top") for _, d in got)
    # bare-relative hrefs now resolve against the base path (RFC 3986)
    assert (src1, "http://a.example.com/relative/path") in got
    # multi-line anchor
    assert ("https://b.example.com/p2", "http://other.com/target?a=1&b=2") in got
    # page without anchors contributes nothing
    assert all(s != "http://c.example.com/empty" for s, _ in got)


def test_extract_links_rfc3986_resolution_matrix(spark):
    """RFC 3986 §5.4 reference-resolution examples (adapted to the
    extractor's drop contract): dot-segment removal, merge-path,
    query-only, root clamp — no edge silently dropped except
    other-scheme and fragment-only."""
    base = "http://h.example.com/b/c/d;p?q=1"
    cases = {
        "g": "http://h.example.com/b/c/g",
        "./g": "http://h.example.com/b/c/g",
        "g/": "http://h.example.com/b/c/g/",
        "/g": "http://h.example.com/g",
        "//cdn.net/g": "http://cdn.net/g",
        "?y=2": "http://h.example.com/b/c/d;p?y=2",
        "g?y=2": "http://h.example.com/b/c/g?y=2",
        "g#s": "http://h.example.com/b/c/g",
        "..": "http://h.example.com/b/",
        "../": "http://h.example.com/b/",
        "../g": "http://h.example.com/b/g",
        "../..": "http://h.example.com/",
        "../../g": "http://h.example.com/g",
        # past-root .. clamps at / (RFC: ignore excess dot-dots)
        "../../../../g": "http://h.example.com/g",
        "g/../h": "http://h.example.com/b/c/h",
        "g/./h": "http://h.example.com/b/c/g/h",
        ".": "http://h.example.com/b/c/",
        "./": "http://h.example.com/b/c/",
    }
    # one source page per case, told apart by a query parameter the
    # resolution never reads (a reference replaces the base query);
    # the urls are already canonical, so src comes back unchanged
    srcs = [f"http://h.example.com/b/c/d;p?n={i}&q=1" for i in range(len(cases))]
    df = spark.createDataFrame(
        [(s, f'<a href="{h}">t</a>'.encode()) for s, h in zip(srcs, cases)], ["url", "html"]
    )
    got = {r.src: r.dst for r in extract_links(df).collect()}
    for s, (href, want) in zip(srcs, cases.items()):
        assert got.get(s) == want, f"{href!r}: got {got.get(s)!r}, want {want!r}"
    # dropped forms: other scheme, fragment-only, empty
    drop_html = b'<a href="mailto:a@b.c">m</a><a href="#x">f</a><a href="">e</a>'
    df2 = spark.createDataFrame([(base, drop_html)], ["url", "html"])
    assert extract_links(df2).count() == 0


def test_extract_links_graph_only_fast_path(spark):
    df = spark.createDataFrame(PAGES, ["url", "html"])
    edges = extract_links(df)
    assert edges.columns == ["src", "dst"]
    rows = sorted((r.src, r.dst) for r in edges.collect())
    # the explicit graph-only flag callers pass is the default
    assert sorted((r.src, r.dst) for r in extract_links(df, with_anchor_text=False).collect()) == rows
    # multi-edges kept: page 1 links other.com/target twice
    assert rows.count(("http://a.example.com/page1", "http://other.com/target?a=1&b=2")) == 2
    with pytest.raises(ValueError):
        extract_links(df, with_anchor_text=True)


def test_extract_links_fastpath_equals_full_canonicalization(spark):
    """r6: the constructed-dst branches skip canonical_url (canonical
    by construction). This pins the optimized resolution against the
    pre-r6 reference — canonical_url over the raw constructed dst —
    on an adversarial source/href matrix: userinfo (single and
    double '@'), uppercase scheme/host, ports, bracketed IPv6,
    scheme-less junk urls, tracking params and degenerate queries in
    every relative form."""
    from ocr_compare_spark.functions.url import canonical_url, host_of
    from ocr_compare_spark.operators.links import (
        ANCHOR_PATTERN,
        remove_dot_segments,
    )

    hrefs = [
        "/x?utm_source=t&b=2&a=1",
        "/x?",
        "/x?&&",
        "?y=2&utm_campaign=z",
        "?utm_medium=m",
        "rel/path?b=2&a=1#frag",
        "../up/./here?gclid=1&k=v",
        "//CDN.Example.org:443/y?b=1&a=2",
        "https://Other.COM:80/t?utm_term=q&z=1",
        "HTTPS://X.Y/p",
        "mailto:a@b.c",
        "#onlyfrag",
        "",
        "/plain",
        "sub",
    ]
    html = "".join(f'<a href="{h}">t</a>' for h in hrefs).encode()
    srcs = [
        "http://Host.Example.com/a/b/c?q=1",
        "https://user:pw@h2.example.com:8443/d/e",
        "http://a@b@weird.example.com/f",
        "https://[2001:DB8::1]/v6/path",
        "http://plain.example.com",
        "not a url at all",
        "ftp://files.example.com/dir/",
    ]
    df = spark.createDataFrame([(s, html) for s in srcs], ["url", "html"])

    # reference = the pre-r6 shape: construct raw dst, then full
    # canonical_url over it (copied verbatim from the old code)
    src = F.col("url")
    html_str = F.col("html").cast("string")
    raw_hrefs = F.regexp_extract_all(html_str, F.lit(ANCHOR_PATTERN), 1)
    src_path_raw = F.regexp_extract(
        src, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    src_path = F.when(src_path_raw == "", F.lit("/")).otherwise(src_path_raw)
    exploded = df.select(
        canonical_url(src).alias("src"),
        F.lower(
            F.regexp_extract(src, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
        ).alias("_scheme"),
        host_of(src).alias("_host"),
        src_path.alias("_path"),
        F.explode(raw_hrefs).alias("href"),
    )
    origin = F.concat(F.col("_scheme"), F.lit("://"), F.col("_host"))
    href = F.regexp_replace(F.col("href"), r"#.*$", "")
    href_path = F.regexp_extract(href, r"^([^?]*)", 1)
    href_query = F.regexp_extract(href, r"^[^?]*(\?.*)$", 1)
    base_dir = F.regexp_replace(F.col("_path"), r"[^/]*$", "")
    merged = remove_dot_segments(F.concat(base_dir, href_path))
    dst_raw = (
        F.when(href == "", F.lit(None))
        .when(href.rlike(r"(?i)^https?://"), href)
        .when(href.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"), F.lit(None))
        .when(
            href.startswith("//"),
            F.concat(F.col("_scheme"), F.lit(":"), href),
        )
        .when(
            href.startswith("/"),
            F.concat(origin, remove_dot_segments(href_path), href_query),
        )
        .when(href_path == "", F.concat(origin, F.col("_path"), href_query))
        .otherwise(F.concat(origin, merged, href_query))
    )
    ref = (
        exploded.withColumn("dst", canonical_url(dst_raw))
        .filter(F.col("dst").isNotNull())
        .select("src", "dst")
    )

    got = sorted((r.src, r.dst) for r in extract_links(df, with_anchor_text=False).collect())
    want = sorted((r.src, r.dst) for r in ref.collect())
    assert got == want
