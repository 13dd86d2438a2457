"""Incremental multi-crawl processing: the delta job a recurring
Common-Crawl-style pipeline runs per crawl batch.

A new crawl re-fetches mostly-unchanged pages. Re-extracting 10^12
documents because 3% of them changed is the single largest avoidable
cost in a recurring web pipeline, and the whole flow is already
expressible with this engine's own primitives — this plan is the
composition, not new machinery:

  new crawl batch ──latest_snapshot──▶ one row per url (the batch may
                                       itself carry several snapshots
                                       per url; keep the newest —
                                       map-side combine, ~|urls| rows
                                       shuffled)
                  ──cached_extract───▶ content-hash cache probe:
                                       unchanged payloads (same
                                       md5(html), ANY url) are served
                                       from the result cache; only
                                       genuinely new content runs the
                                       engines (one fused-UDF pass,
                                       appended back to the cache)
                  ──metrics──────────▶ how much of the batch was new

Content addressing means a page that MOVED urls but kept its bytes is
still a cache hit, and two urls serving identical bytes extract once.
Reference parity: this is CachedOcrExecutor's force_cache_refresh=False
flow (cached_ocr_executor.py:58-112) lifted from one document to a
crawl batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ocr_compare_spark.operators.dedup import latest_snapshot
from ocr_compare_spark.sources.cache import cached_extract


def crawl_delta(
    spark,
    new_pages: DataFrame,
    cache_dir: str,
    engines: tuple[str, ...] = ("dom", "density", "pdf"),
    kwargs: dict | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """Process one crawl batch incrementally against a persistent
    result cache. Returns ``(results, metrics)`` where results has
    cached_extract's schema (one row per url x engine) and metrics
    reports the delta: ``rows_in`` (raw batch rows), ``urls`` (after
    within-batch snapshot dedup), ``fresh_docs`` (distinct payloads
    that actually ran the engines — 0 on a fully warm cache),
    ``result_rows``.
    """
    n_rows_in = new_pages.count()
    snap = latest_snapshot(new_pages, "url", "warc_ts").drop("n_snapshots")
    results, fresh = cached_extract(
        spark,
        snap,
        cache_dir,
        engines=engines,
        kwargs=kwargs,
        num_partitions=num_partitions,
        return_fresh=True,
    )
    # fresh is checkpointed by cached_extract and already materialized
    # by the cache append — these counts read cached rows, they do not
    # recompute the engines. fresh rows are per-PAYLOAD representatives
    # (their url column carries the content hash), so distinct urls ==
    # distinct payloads that actually ran, even when several batch urls
    # served identical bytes.
    n_fresh = fresh.select("url").distinct().count()
    metrics = {
        "rows_in": n_rows_in,
        "urls": snap.count(),
        "fresh_docs": n_fresh,
        "result_rows": results.count(),
    }
    return results, metrics
