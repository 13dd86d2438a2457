"""Link-graph extraction over crawl pages.

The **link graph** (src url -> dst url edges) is the dataset every
web-scale pipeline derives besides the text corpus: it drives crawl
frontier ranking, host-level quality priors and dedup hints. It comes
out of one per-row projection here — native regexp_extract_all over
the html bytes, zero Python, zero shuffle until the caller
aggregates.

Scope (documented, deliberate): this is a regex scanner for the
common `<a ... href="...">text</a>` shape — single-level anchors,
double-quoted hrefs. It is a DATASET
extractor, not a DOM parser; the engines' html_scan remains the
fidelity path for text. Relative hrefs resolve per RFC 3986 §5.2:
protocol-relative (`//h/p`), root-relative (`/p`), bare-relative
(`p`, `./p`, `../p` — merge with the base path) and query-only
(`?q`) forms all resolve against the source url, with native
dot-segment removal (an aggregate fold over the split path — zero
Python). Edges to mailto:/javascript:/other-scheme and
fragment-only targets are dropped. Destinations are canonicalized
with functions/url.py so the graph keys line up with every other
url-keyed stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ocr_compare_spark.functions.url import (
    TRACKING_PARAM_PATTERN,
    canonical_url,
    host_of,
)

# group 1 = href value; an anchor counts only with its closing </a>
ANCHOR_PATTERN = r'(?is)<a\s[^>]*href="([^"]*)"[^>]*>.*?</a>'


def remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 dot-segment removal for an ABSOLUTE path
    (starts with '/'), as a native aggregate fold over the split
    segments: '.' is skipped, '..' pops the previous segment (never
    past the root), anything else appends. A trailing '.'/'..'
    segment keeps the trailing slash, per the RFC's output buffer."""
    segs = F.split(path, "/")
    folded = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, s: (
            F.when(s == ".", acc)
            .when(s == "..", F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(1))))
            .otherwise(F.concat(acc, F.array(s)))
        ),
    )
    joined = F.array_join(folded, "/")
    joined = F.when(joined == "", F.lit("/")).otherwise(joined)
    trailing_dot = path.rlike(r"(^|/)\.\.?$")
    return F.when(
        trailing_dot & ~joined.endswith("/"), F.concat(joined, F.lit("/"))
    ).otherwise(joined)


def extract_links(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    with_anchor_text: bool = False,
) -> DataFrame:
    """One row per resolvable anchor: ``(src, dst)``.

    dst is canonical (functions/url.canonical_url). Resolution per
    RFC 3986 §5.2: absolute http(s) hrefs pass through; ``//h/p``
    takes the source scheme; ``/p`` takes scheme+host; bare-relative
    ``p`` / ``./p`` / ``../p`` merge with the base path (dot segments
    removed natively); ``?q`` replaces the query on the base path.
    Dropped (by contract): other-scheme hrefs (mailto:, javascript:,
    ftp:, ...), fragment-only, and empty hrefs.

    Anchor text is not extracted: ``with_anchor_text=True`` raises
    ValueError.
    """
    if with_anchor_text:
        raise ValueError("extract_links: anchor text is not extracted")
    src = F.col(url_col)
    hrefs = F.regexp_extract_all(F.col(html_col).cast("string"), F.lit(ANCHOR_PATTERN), 1)

    src_path_raw = F.regexp_extract(src, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    src_path = F.when(src_path_raw == "", F.lit("/")).otherwise(src_path_raw)
    exploded = pages.select(
        canonical_url(src).alias("src"),
        F.lower(F.regexp_extract(src, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)).alias("_scheme"),
        host_of(src).alias("_host"),
        src_path.alias("_path"),
        F.explode(hrefs).alias("href"),
    )

    # r6 perf: the constructed-dst branches below are CANONICAL BY
    # CONSTRUCTION except for the query part and one userinfo corner,
    # so they skip the ~9-regex canonical_url re-parse that used to
    # run per edge (A/B at 800k edges: resolution pass ~2x faster,
    # byte-identical output — pinned by the equivalence pytest):
    # - scheme is already lowercase (F.lower above);
    # - host comes from host_of (lowercase, no port; the one re-parse
    #   effect canonical_url would still have — stripping a leading
    #   'userinfo@' layer when a pathological source url smuggled an
    #   '@' into the host token — is replicated with the identical
    #   anchored one-strip regex);
    # - paths are '?'/'#'-free and start with '/' by construction, so
    #   canonical_url's authority/path/fragment handling is identity;
    # - the query part gets the same drop-tracking/sort/'?'-drop
    #   treatment canonical_url applies (same expressions).
    # Absolute and protocol-relative hrefs still take full
    # canonical_url (arbitrary authority: case, ports, userinfo).
    # host_of returns '' whenever _scheme is '' — that coupling keeps the
    # scheme-less passthrough (below) equal to canonical_url's
    clean_host = F.regexp_replace(F.col("_host"), r"^[^/@?#]*@", "")
    origin = F.concat(F.col("_scheme"), F.lit("://"), clean_host)
    # fragment never reaches the server; strip it before classifying
    # so '#top' is fragment-only (dropped) and 'a#top' is relative
    href = F.regexp_replace(F.col("href"), r"#.*$", "")
    href_path = F.regexp_extract(href, r"^([^?]*)", 1)
    query = F.regexp_extract(href, r"^[^?]*\?(.*)$", 1)  # after the '?'
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_PATTERN),
        )
    )
    query_part = F.when(
        (query == "") | (F.size(kept) == 0), F.lit("")
    ).otherwise(F.concat(F.lit("?"), F.array_join(kept, "&")))
    # scheme-less (junk) source urls never passed canonical_url's
    # scheme gate, so their constructed dsts kept the raw query
    # verbatim — preserve that passthrough byte-for-byte
    raw_query = F.regexp_extract(href, r"^[^?]*(\?.*)$", 1)  # keeps the '?'
    query_part = F.when(F.col("_scheme") == "", raw_query).otherwise(query_part)
    base_dir = F.regexp_replace(F.col("_path"), r"[^/]*$", "")  # up to last '/'
    merged = remove_dot_segments(F.concat(base_dir, href_path))

    dst = (
        F.when(href == "", F.lit(None))
        .when(href.rlike(r"(?i)^https?://"), canonical_url(href))
        # any OTHER scheme (mailto:, javascript:, ftp:, data:...) drops
        .when(href.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"), F.lit(None))
        .when(
            href.startswith("//"),
            canonical_url(F.concat(F.col("_scheme"), F.lit(":"), href)),
        )
        .when(
            href.startswith("/"),
            F.concat(origin, remove_dot_segments(href_path), query_part),
        )
        # query-only href: same path, new query (RFC 3986 §5.3)
        .when(href_path == "", F.concat(origin, F.col("_path"), query_part))
        # bare-relative: merge with the base directory
        .otherwise(F.concat(origin, merged, query_part))
    )
    return exploded.withColumn("dst", dst).filter(F.col("dst").isNotNull()).select("src", "dst")
