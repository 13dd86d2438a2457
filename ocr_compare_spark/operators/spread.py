"""Scale-adaptive input spreading for byte-light compute-heavy
stages (r6).

The trap (CLAUDE.md dsir/decontam/sketches family): a small parquet
source reads as 1-2 splits, so a tokenize/md5/regex stage above it
runs nearly single-threaded no matter how many cores the session
has. Operators whose callers pass ``num_partitions`` already handle
it; operators without the knob (or called without it by generic
pipelines) inherited the serial stage.

``spread_to`` is the one partition probe: repartition ONLY when the
plan would execute on fewer partitions than the target width — the
caller's ``num_partitions`` for the extractors and the renderer, the
session's parallelism for ``spread_small_input``. On a
warehouse-sized input with adequate splits it is a no-op — the
corpus is never shuffled just to tokenize it — so the behavior is
scale-adaptive rather than tuned to either local mode or the
cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_to(df: DataFrame, width: int, key: str | None = None) -> DataFrame:
    """Repartition ``df`` to ``width`` partitions iff its physical
    plan would run on fewer — hash-partitioned on ``key`` when given,
    round-robin otherwise. A plan whose width cannot be read is left
    as is. Values unchanged."""
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if 0 < n < width:
        return df.repartition(width, key) if key else df.repartition(width)
    return df


def spread_small_input(df: DataFrame) -> DataFrame:
    """``spread_to`` the session's defaultParallelism."""
    return spread_to(df, df.sparkSession.sparkContext.defaultParallelism)
