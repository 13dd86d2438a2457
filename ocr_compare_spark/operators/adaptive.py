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
every round). So each operator decides ONCE per call from the bytes
of the table it broadcasts: broadcast under its cap, else a
shuffled-hash or sort-merge hint.

This is the one module that reads a size back to the driver, from
the job that already reads the table: ``materialize`` observes sums
in the eager checkpoint's own jobs; ``collect_bounded`` is the capped
collect. An observed sum may drive only a decision where every outcome
gives identical rows (a build side; cc's loop exit, where an
over-count adds a no-op round): Spark does not promise exactly-once
observation when a stage re-runs, so counts that feed VALUES
(classifier ``n_docs``, phrases ``n_tokens``, bm25 stats) keep their
own exact jobs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F, types as T

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
        raise TypeError(f"row_bytes: no size model for {field.name}: {dt}")
    return F.when(c.isNull(), 0).otherwise(size)


def row_bytes(df: DataFrame) -> Column:
    """One row's raw bytes of ``df``: ``ROW_OVERHEAD`` plus each
    column's — fixed-width types their width, string/binary their
    octet length, fixed-width arrays size x width, NULL 0; any other
    type raises ``TypeError`` (never silently counted as 0)."""
    return sum(map(_column_bytes, df.schema.fields), F.lit(ROW_OVERHEAD).cast("long"))


def fixed_bytes(df: DataFrame) -> int:
    """One row's raw bytes of ``df``, whose columns must all be
    fixed-width (else ``TypeError``): the columns an explode adds to
    each array element's row, sized without running the explode."""
    if bad := [f for f in df.schema.fields if type(f.dataType) not in _WIDTHS]:
        raise TypeError(f"fixed_bytes: not fixed-width: {bad}")
    return sum(_WIDTHS[type(f.dataType)] for f in df.schema.fields)


def materialize(df: DataFrame, **sums: Column) -> tuple[DataFrame, dict[str, int]]:
    """``df`` eagerly localCheckpointed, and the sum of each named
    column over its rows (NULL sum 0), observed in the checkpoint's
    own jobs — as many jobs as a bare eager ``localCheckpoint``."""
    obs = Observation()
    out = df.observe(obs, *(F.sum(c).alias(name) for name, c in sums.items())).localCheckpoint(eager=True)
    return out, {name: v or 0 for name, v in obs.get.items()}


def build_side(nbytes: int, cap: int, fallback: str):
    """Join-side wrapper for the table that would be broadcast, of
    ``nbytes`` raw bytes: ``F.broadcast`` iff its hash relation
    (``HASH_RELATION_OVERHEAD`` x ``nbytes``) fits ``cap``, else the
    ``fallback`` join hint (``"shuffle_hash"``, ``"merge"``)."""
    if HASH_RELATION_OVERHEAD * nbytes <= cap:
        return F.broadcast
    return lambda t: t.hint(fallback)


def collect_bounded(df: DataFrame, cap: int, message: str) -> list:
    """``df``'s rows on the driver if it has at most ``cap``, else
    ``ValueError(message)`` — one row past the cap is read to tell."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(message)
    return rows
