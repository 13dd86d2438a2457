"""URL canonicalization for crawl tables — native Catalyst only.

A multi-crawl pages table keys everything on the url (snapshot dedup,
cache lineage, per-host stats), and raw crawl urls are dirty: mixed
scheme/host case, default ports, fragments, tracking params, unstable
query order. Canonicalizing BEFORE keying turns "the same page fetched
through three tracking links" into one key — upstream of
latest_snapshot / crawl_delta this is a row-local projection (zero
shuffle), so it costs nothing at 10^12 rows while shrinking every
downstream shuffle.

All pure string expressions (regexp_replace / split / array ops) —
whole-stage codegen, no Python, deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Query parameters that identify the CLICK, not the page.
TRACKING_PARAM_PATTERN = r"^(utm_[a-z]+|gclid|fbclid|msclkid|mc_eid|ref|ref_src)="


def _scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))


def host_of(url: str | Column) -> Column:
    """Lowercased host (authority minus userinfo/port) of a url.

    Bracketed IPv6 hosts (`[2001:db8::1]`) match as ONE atomic token —
    the ':' inside the brackets is part of the host, not a port
    separator (ADVICE r4: the plain `[^/:?#]+` class stopped at the
    first inner colon and welded distinct IPv6 hosts). Lowercasing is
    RFC 5952-canonical for the hex digits."""
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(
        F.regexp_extract(
            c, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?(\[[^\]/?#]*\]|[^/:?#]+)", 1
        )
    )


def canonical_url(url: str | Column) -> Column:
    """Canonical form of a crawl url:

    - scheme and host lowercased (RFC 3986: both case-insensitive)
    - userinfo dropped, default ports stripped (:80 http / :443 https)
    - fragment dropped (never sent to the server)
    - tracking params dropped (TRACKING_PARAM_PATTERN), remaining
      query params sorted bytewise for a stable key; an emptied query
      loses its '?'
    - path defaults to '/' when absent

    Idempotent: canonical_url(canonical_url(u)) == canonical_url(u).
    Urls without a '<scheme>://' prefix pass through unchanged (no
    guessing — a non-url key must stay a stable key).
    """
    c = F.col(url) if isinstance(url, str) else url
    scheme = _scheme(c)
    host = host_of(c)
    port = F.regexp_extract(
        c, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?(?:\[[^\]/?#]*\]|[^/:?#]+):(\d+)", 1
    )
    default_port = (
        ((scheme == "http") & (port == "80")) | ((scheme == "https") & (port == "443"))
    )
    port_part = F.when((port == "") | default_port, F.lit("")).otherwise(
        F.concat(F.lit(":"), port)
    )
    # everything after the authority, fragment stripped
    rest = F.regexp_replace(
        F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1),
        r"#.*$",
        "",
    )
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_PATTERN),
        )
    )
    query_part = F.when(
        (query == "") | (F.size(kept) == 0), F.lit("")
    ).otherwise(F.concat(F.lit("?"), F.array_join(kept, "&")))
    rebuilt = F.concat(scheme, F.lit("://"), host, port_part, path, query_part)
    return F.when(c.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), rebuilt).otherwise(c)


def surt_key(url: str | Column) -> Column:
    """SURT-form sort key of a url — the ``urlkey`` convention of the
    Common Crawl CDX index (pywb-style): host labels reversed and
    comma-joined so that all pages of a domain (and its subdomains)
    sort contiguously, e.g.
    ``https://sub.example.com/A?b=2&a=1`` →
    ``com,example,sub)/a?a=1&b=2``.

    Built ON TOP of :func:`canonical_url`, so the key inherits its
    cleanup (lowercased scheme/host, userinfo/fragment dropped,
    default ports stripped, tracking params removed, query params
    sorted — the tracking-param removal is a deliberate superset of
    Common Crawl's canonicalizer). On top of that, SURT-specific:

    - the scheme is dropped entirely (http/https collapse to one key,
      as in the real index);
    - a single leading ``www`` / ``www<digits>`` host label is
      stripped when at least two labels remain;
    - host labels are reversed and comma-joined; IPv4 and bracketed
      IPv6 literals are NOT reversed (kept atomic);
    - a non-default port survives as ``host:port`` before the ``)``;
    - path + query are lowercased (the whole urlkey is lowercase in
      the index — distinct case-sensitive paths weld, by contract).

    Pure Catalyst expressions, zero shuffle. Non-url inputs (no
    ``scheme://``) pass through unchanged, like canonical_url."""
    c = F.col(url) if isinstance(url, str) else url
    canon = canonical_url(c)
    host = host_of(canon)
    # strip one leading www/www<digits> label iff >=2 labels remain
    host2 = F.regexp_replace(host, r"^www\d*\.(?=[^.]+\.)", "")
    is_ip = host2.rlike(r"^\d+\.\d+\.\d+\.\d+$") | host2.rlike(r"^\[")
    rev_host = F.when(is_ip, host2).otherwise(
        F.array_join(F.reverse(F.split(host2, r"\.")), ",")
    )
    port = F.regexp_extract(
        canon, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:\[[^\]/?#]*\]|[^/:?#]+):(\d+)", 1
    )
    port_part = F.when(port == "", F.lit("")).otherwise(F.concat(F.lit(":"), port))
    # canonical_url guarantees a '/' path and no fragment/userinfo
    rest = F.lower(
        F.regexp_extract(canon, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    )
    key = F.concat(rev_host, port_part, F.lit(")"), rest)
    return F.when(c.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), key).otherwise(c)
