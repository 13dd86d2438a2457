"""Dolma-shaped JSONL corpus interchange (documents + attributes).

The open-data LLM pipelines (Dolma, RedPajama, FineWeb releases)
exchange corpora as gzipped JSONL: a ``documents/`` tree of
``{"id", "text", "source", "metadata": {...}}`` records. This module
is that interchange on Spark: :func:`write_documents` /
:func:`read_documents` — the documents tree, one directory per
partition value (Hive-style ``lang=xx``), gzip-compressed JSON lines
via Spark's native json writer (JVM-side serialization; no Python in
the row path).

Scale notes: JSONL-gz is a LINE format — splittable only at file
granularity (gzip), so shard counts = write parallelism decides read
parallelism; ``shards_per_partition`` controls that explicitly
instead of inheriting whatever the upstream partitioning was. Schema
is carried in the data (json), so readers pass an explicit schema or
accept one inference pass; read_documents takes the explicit-schema
path (inference over 100 TB is a full extra scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

#: Dolma document record schema (metadata stays a json STRING on the
#: Spark side so arbitrary per-corpus fields round-trip unmodified).
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("metadata", T.StringType(), True),
    ]
)


def write_documents(
    df: DataFrame,
    path: str,
    id_col: str = "id",
    text_col: str = "text",
    metadata_cols: list[str] | None = None,
    partition_by: str | None = None,
    shards_per_partition: int | None = None,
) -> None:
    """Write a Dolma documents tree: gzip JSONL, one record per doc
    (``source`` is NULL).

    ``metadata_cols`` pack into the nested ``metadata`` object (JVM
    to_json — no Python serialization). ``partition_by`` makes
    Hive-style subdirectories (``lang=en/``); ``shards_per_partition``
    repartitions by the partition key first so each directory gets a
    bounded, even file count (gzip files are the read-parallelism
    unit — see module notes)."""
    out = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(text_col).alias("text"),
        F.lit(None).cast("string").alias("source"),
        (
            F.to_json(F.struct(*[F.col(c) for c in metadata_cols]))
            if metadata_cols
            else F.lit(None).cast("string")
        ).alias("metadata"),
        *( [F.col(partition_by)] if partition_by else [] ),
    )
    if shards_per_partition:
        keys = [F.col(partition_by)] if partition_by else []
        out = out.repartition(shards_per_partition, *keys, F.col("id"))
    w = out.write.mode("overwrite").option("compression", "gzip")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.json(path)


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read a documents tree back. Explicit schema (no inference
    scan); Spark's partition discovery appends the Hive partition
    columns from the directory names."""
    return spark.read.schema(DOCUMENTS_SCHEMA).json(path)


def metadata_field(df: DataFrame, field: str, dtype: str = "string") -> DataFrame:
    """Pull one typed field back out of the metadata json string."""
    return df.withColumn(
        field, F.get_json_object("metadata", f"$.{field}").cast(dtype)
    )
