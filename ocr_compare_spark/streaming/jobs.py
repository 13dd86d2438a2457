"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2.9) — one document per
call, no watermarks or state. What the north_rule needs is
*resumability*, which batch-with-manifest covers
(sources/checkpoint.py). This module adds the streaming expression
of the same pipeline for incremental ingest, plus stateful dedup
across micro-batches, because a web-scale crawl table grows
continuously:

- ``extraction_stream``: file-source stream over the pages table ->
  the same fused engine UDF -> parquet sink with
  ``Trigger.AvailableNow`` + checkpointLocation. Exactly-once via
  Spark's own streaming checkpoints — each micro-batch is committed
  or re-run as a unit, so a killed job resumes without duplicates
  (the streaming twin of the per-partition manifest).
- ``first_seen_stream``: first document per content hash across
  micro-batches, on explicit per-key state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_compare_spark.schema import PAGES_SCHEMA
from ocr_compare_spark.operators.extract import run_engines_fused


def extraction_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    engines: tuple[str, ...] = ("dom", "density", "pdf"),
):
    """Incremental extraction over a growing parquet pages table.
    Returns the started StreamingQuery (AvailableNow: processes all
    current data then stops — rerun to pick up new files only)."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )
    results = run_engines_fused(pages, engines=engines, with_spans=False)
    return (
        results.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def first_seen_stream(pages_stream: DataFrame, hash_col: str = "html") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (the
    escape hatch for semantics the built-ins can't express): emit
    only the FIRST document seen per content hash ACROSS micro-
    batches, carrying a per-key boolean state. Functionally the
    streaming twin of the result cache's skip path, on explicit
    GroupState plumbing.

    ``hash_col`` picks the content column to dedup on (binary or
    string). WHICH member row is emitted per key follows arrival
    order (non-deterministic under parallelism); the emitted KEY SET
    — one row per distinct content — is exact and deterministic, and
    is what the driver-gate query checks."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            return
        first = None
        for pdf in pdfs:
            if first is None and len(pdf):
                first = pdf.iloc[[0]][["url", "content_hash"]]
        state.update((True,))
        if first is not None:
            yield first

    keyed = pages_stream.withColumn("content_hash", F.md5(F.col(hash_col)))
    return keyed.groupBy("content_hash").applyInPandasWithState(
        fn,
        "url string, content_hash string",
        "seen boolean",
        "append",
        GroupStateTimeout.NoTimeout,
    )
