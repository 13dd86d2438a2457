"""Catalog table writes (SURVEY.md §7).

``write_bucketed`` writes a bucketed catalog table so that recurring
equi joins on the bucket key plan without an exchange. Plain parquet
reads and writes go straight through ``spark.read`` / ``df.write``;
resumable runs get their atomic-commit story from the checkpoint
manifest (sources/checkpoint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table (north_rule: co-located joins via
    bucketing). Writing both sides of a recurring equi join bucketed
    on the join key (e.g. ``bucket(url)``) makes every later join /
    groupBy on that key EXCHANGE-FREE: each bucket pairs 1:1 with the
    other side's bucket, so the 10^12-row shuffle that dominates the
    join disappears from the plan (Spark plans a SortMergeJoin with
    no Exchange on either side — proven by
    tests/test_pipeline_spark.py::test_bucketed_join_is_exchange_free).

    Bucketing metadata lives in the catalog (saveAsTable — a bare
    parquet path cannot carry it); with the Iceberg catalog present
    the equivalent is a ``bucket(N, url)`` partition transform on the
    same seam. The local-mode analog of 'executors fetch no shuffle
    blocks' is the missing Exchange node."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)
