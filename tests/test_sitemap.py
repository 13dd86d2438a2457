"""Sitemap XML generate + parse (operators/sitemap.py)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from ocr_compare_spark.operators import sitemap

IDX = (
    '<?xml version="1.0"?><sitemapindex>'
    "<sitemap><loc>https://x/a.xml</loc><lastmod>2026-01-01</lastmod></sitemap>"
    "<sitemap>\n  <loc>\n    https://x/b.xml\n  </loc>\n</sitemap>"
    "</sitemapindex>"
)
URLSET = (
    "<urlset>"
    "<url><loc>https://x/p?a=1&amp;b=2</loc></url>"
    "<url><lastmod>2026-02-02</lastmod></url>"  # no loc -> dropped
    "<url><loc>https://x/&lt;odd&gt;</loc><lastmod>2026-03-03</lastmod></url>"
    "</urlset>"
)


def test_parse_cases(spark):
    df = spark.createDataFrame(
        [(1, IDX), (2, URLSET), (3, "<html>not a sitemap</html>")],
        "id long, sitemap_xml string",
    )
    rows = sorted(
        (r.id, r.kind, r.loc, r.lastmod)
        for r in sitemap.parse_sitemap(df, keep_cols=("id",)).collect()
    )
    assert rows == [
        (1, "index", "https://x/a.xml", "2026-01-01"),
        (1, "index", "https://x/b.xml", None),
        (2, "urlset", "https://x/<odd>", "2026-03-03"),
        (2, "urlset", "https://x/p?a=1&b=2", None),
    ]


def test_generate_parse_roundtrip(spark):
    urls = ["https://h/doc/1", "https://h/p?a=1&b=<2>", 'https://h/"q"&\'r\'']
    df = spark.createDataFrame([(urls,)], "urls array<string>").select(
        sitemap.sitemap_xml(F.col("urls")).alias("sitemap_xml")
    )
    back = [r.loc for r in sitemap.parse_sitemap(df).orderBy("loc").collect()]
    assert back == sorted(urls)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(min_size=1).filter(lambda s: s.strip() == s), min_size=1, max_size=5))
def test_roundtrip_fuzz(spark, urls):
    df = spark.createDataFrame([(i, [u]) for i, u in enumerate(urls)],
                               "i long, urls array<string>").select(
        "i", sitemap.sitemap_xml(F.col("urls")).alias("sitemap_xml")
    )
    got = {(r.i, r.loc) for r in sitemap.parse_sitemap(df, keep_cols=("i",)).collect()}
    assert got == {(i, u) for i, u in enumerate(urls)}
