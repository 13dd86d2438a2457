"""Scale decisions made from measurements: input spreading for
byte-light compute-heavy stages (r6) and join build sides.

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

``build_side`` is the one broadcast-or-shuffle decision. The
pagerank / hits / connected_components round joins and the minhash
band and verify joins build on checkpointed LogicalRDDs, whose frozen
sizeInBytes ignores row-multiplying lineage (the localCheckpoint
STATS trap; at 720k edges Catalyst broadcast pagerank's EDGE table
every round). So each operator decides ONCE per call from the real
table it broadcasts: broadcast under its cap (right at bench scale),
else a shuffled-hash or sort-merge hint — never a driver collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

#: Fixed bytes per row of a hash relation (row header, hash slot,
#: key pointer), counted whatever the row's columns hold.
ROW_OVERHEAD = 48

#: Built hash relation over raw bytes, rounded up from the minhash
#: shingle-set relation's 1.8x (4.23 MB for 2.36 MB raw at sf0.1).
HASH_RELATION_OVERHEAD = 2

_WIDTHS = {T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
           T.FloatType: 4, T.DateType: 4, T.LongType: 8, T.DoubleType: 8,
           T.TimestampType: 8, T.TimestampNTZType: 8}


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


def _column_bytes(field: T.StructField) -> Column:
    c = F.col(field.name)
    dt = field.dataType
    if type(dt) in _WIDTHS:
        size = F.lit(_WIDTHS[type(dt)])
    elif isinstance(dt, (T.StringType, T.BinaryType)):
        size = F.octet_length(c)
    elif isinstance(dt, T.ArrayType) and type(dt.elementType) in _WIDTHS:
        size = F.array_size(c) * _WIDTHS[type(dt.elementType)]
    else:
        raise TypeError(f"table_bytes: no size model for {field.name}: {dt}")
    return F.when(c.isNull(), 0).otherwise(size)


def table_bytes(df: DataFrame) -> int:
    """Raw bytes of ``df`` measured in ONE job: per row
    ``ROW_OVERHEAD`` plus each column's bytes from the schema —
    fixed-width types their width, string/binary their octet length,
    arrays of fixed-width types size x width, NULL 0. Any other
    column type raises ``TypeError`` (never silently counted as 0)."""
    row = F.lit(ROW_OVERHEAD).cast("long")
    for field in df.schema.fields:
        row = row + _column_bytes(field)
    return df.agg(F.sum(row)).collect()[0][0] or 0


def build_side(table: DataFrame, cap: int, fallback: str):
    """Join-side wrapper for ``table``, the side that would be
    broadcast: ``F.broadcast`` iff its hash relation
    (``HASH_RELATION_OVERHEAD`` x :func:`table_bytes`) fits ``cap``,
    else the ``fallback`` join hint (``"shuffle_hash"``, ``"merge"``)."""
    if HASH_RELATION_OVERHEAD * table_bytes(table) <= cap:
        return F.broadcast
    return lambda t: t.hint(fallback)
