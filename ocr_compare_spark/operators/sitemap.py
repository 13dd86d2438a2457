"""Sitemap XML (sitemaps.org protocol) — generation and parsing,
the discovery-side companion to the robots.txt gate (robots.txt
surfaces `Sitemap:` urls whose entries seed a crawl).

All JVM-native: entry framing and field extraction are RE2-safe
regexes ((?s) non-greedy blocks — no lookaround, so the DuckDB twin
runs the SAME patterns), entity escaping/unescaping is a fixed
replace chain (the five predefined XML entities; `&amp;` first on
escape, last on unescape, the standard order that makes the pair a
bijection). Zero shuffle: one row in, one array of entries out,
explode for the row-per-url shape.

Scope (documented): the five predefined entities only (numeric
character references pass through), `<loc>`/`<lastmod>` fields,
urlset vs sitemapindex kinds. Compressed sitemaps (.gz) are a
storage concern — decompress at the source tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_ENTITY_PAIRS = [  # escape order; unescape applies reversed
    ("&", "&amp;"),
    ("<", "&lt;"),
    (">", "&gt;"),
    ('"', "&quot;"),
    ("'", "&apos;"),
]

ENTRY_RE = r"(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>"
LOC_RE = r"(?s)<loc>\s*(.*?)\s*</loc>"
LASTMOD_RE = r"(?s)<lastmod>\s*(.*?)\s*</lastmod>"


def xml_escape(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    for lit, ent in _ENTITY_PAIRS:
        c = F.replace(c, F.lit(lit), F.lit(ent))
    return c


def xml_unescape(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    for lit, ent in reversed(_ENTITY_PAIRS):
        c = F.replace(c, F.lit(ent), F.lit(lit))
    return c


def sitemap_kind(col: str | Column) -> Column:
    """'index' (sitemapindex), 'urlset', or NULL for neither."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.contains("<sitemapindex"), F.lit("index"))
        .when(c.contains("<urlset"), F.lit("urlset"))
        .otherwise(F.lit(None).cast("string"))
    )


def sitemap_xml(urls: Column) -> Column:
    """Build a urlset document from an array<string> of urls —
    entity-escaped, one <url> entry per element, deterministic
    byte-for-byte given the input order."""
    entries = F.transform(
        urls,
        lambda u: F.concat(F.lit("<url><loc>"), xml_escape(u), F.lit("</loc></url>")),
    )
    return F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>\n<urlset>'),
        F.array_join(entries, ""),
        F.lit("</urlset>"),
    )


def parse_sitemap(
    df: DataFrame, xml_col: str = "sitemap_xml", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """One row per <url>/<sitemap> entry: (*keep_cols, kind, loc,
    lastmod). Entries without a <loc> are dropped (spec: loc is
    required); loc is entity-unescaped and whitespace-trimmed,
    lastmod NULL when absent. Documents that are neither urlset nor
    sitemapindex yield no rows."""
    c = F.col(xml_col)
    entries = F.regexp_extract_all(c, F.lit(ENTRY_RE), 1)
    out = df.select(
        *keep_cols,
        sitemap_kind(c).alias("kind"),
        F.explode(entries).alias("_entry"),
    ).filter(F.col("kind").isNotNull())
    loc_raw = F.regexp_extract("_entry", LOC_RE, 1)
    lastmod_raw = F.regexp_extract("_entry", LASTMOD_RE, 1)
    return (
        out.withColumn("loc", xml_unescape(loc_raw))
        .withColumn(
            "lastmod",
            F.when(lastmod_raw != "", lastmod_raw).otherwise(F.lit(None).cast("string")),
        )
        .filter(loc_raw != "")
        .drop("_entry")
    )
