"""URL-rule document filtering (the RefinedWeb/C4 blocklist family).

Web-scale curation pipelines drop documents by URL before ever
looking at the text: adult/spam domain blocklists (RefinedWeb §3.1
runs a 4.6M-domain blocklist as its FIRST filter) and URL keyword
rules. This module is that stage as pure Catalyst expressions —
per-row string work, zero shuffle, zero Python:

- **domain rules**: a URL is blocked when its host equals a blocked
  domain or is a subdomain of one (``host == d OR host LIKE '%.d'``
  — the standard suffix-on-label-boundary match, so
  ``notwarm.example.com`` does NOT match a ``warm.example.com``
  rule). Matching is on the lowercased host.
- **pattern rules**: blocked when the full URL matches a regex
  (ASCII-only patterns keep Java regex == RE2, the PII_PATTERNS
  contract in textstats.py).

``block_reason`` reports the FIRST matching rule in declaration
order (domains before patterns), NULL for clean URLs — the audit
column a curation run logs per dropped document.

The literal `when`-chain is sized for config-sized rule lists; a
millions-of-domains blocklist would instead broadcast-join a rule
table on the host's registered domain, the shape of `decontam`'s
broadcast probe.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ocr_compare_spark.functions.url import host_of


def url_filter_columns(
    url_col: str | Column = "url",
    blocked_domains: tuple[str, ...] = (),
    blocked_patterns: tuple[str, ...] = (),
) -> dict[str, Column]:
    """``{"block_reason": ..., "blocked": ...}`` columns.

    ``block_reason`` is ``'domain:<d>'`` / ``'pattern:<p>'`` for the
    first matching rule, NULL otherwise; ``blocked`` is 0/1 (long —
    hash-stable in the driver's value compare). Pure native
    expressions; the when-chain is O(#rules) plan nodes, fine for
    config-sized rule lists.
    """
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    host = host_of(c)
    reason = None
    for d in blocked_domains:
        dl = d.lower()
        hit = (host == dl) | host.endswith("." + dl)
        branch = F.when(hit, F.lit(f"domain:{dl}"))
        reason = branch if reason is None else reason.when(hit, F.lit(f"domain:{dl}"))
    for p in blocked_patterns:
        hit = c.rlike(p)
        branch = F.when(hit, F.lit(f"pattern:{p}"))
        reason = branch if reason is None else reason.when(hit, F.lit(f"pattern:{p}"))
    block_reason = F.lit(None).cast("string") if reason is None else reason.otherwise(F.lit(None))
    return {
        "block_reason": block_reason,
        "blocked": block_reason.isNotNull().cast("long"),
    }
