"""Per-partition checkpoint/resume manifest (north_rule).

No Iceberg runtime jar in-sandbox (SURVEY.md §7), so this implements
the seam as parquet-with-manifest: output is written partitioned by a
deterministic bucket of url, and a manifest table records completed
buckets. Resume = left_anti of buckets against the manifest — work
already done is never recomputed (test: idempotent re-run).

With a real Iceberg catalog the same API maps to
overwrite-by-partition + snapshot metadata; the bucket column and
manifest schema stay identical.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F


def with_bucket(df: DataFrame, n_buckets: int, key: str = "url") -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


def completed_buckets(spark: SparkSession, manifest_path: str, job_id: str) -> DataFrame:
    # read through Spark so file:/hdfs:/s3a: URIs resolve; only a
    # missing manifest means "nothing done" — any other error raises
    try:
        m = spark.read.parquet(manifest_path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], "bucket int")
    return m.filter((F.col("job_id") == job_id) & (F.col("status") == "done")).select("bucket")


def run_with_checkpoints(
    pages: DataFrame,
    process,  # DataFrame -> DataFrame (per-bucket transformation)
    out_path: str,
    manifest_path: str,
    job_id: str,
    n_buckets: int = 8,
) -> None:
    """Process bucket-by-bucket; each bucket commits output +
    manifest row atomically-enough (output first, manifest last, both
    idempotent overwrites). A killed run resumes at the first bucket
    without a manifest row."""
    spark = pages.sparkSession
    bucketed = with_bucket(pages, n_buckets)
    done = {r.bucket for r in completed_buckets(spark, manifest_path, job_id).collect()}
    for b in range(n_buckets):
        if b in done:
            continue
        part = bucketed.filter(F.col("bucket") == b)
        result = process(part)
        (
            result.withColumn("bucket", F.lit(b))
            .write.mode("overwrite")
            .parquet(f"{out_path}/bucket={b}")
        )
        n = spark.read.parquet(f"{out_path}/bucket={b}").count()
        row = spark.createDataFrame(
            [(job_id, b, "done", n)],
            "job_id string, bucket int, status string, rows_processed long",
        ).withColumn("completed_ts", F.current_timestamp())
        row.write.mode("append").parquet(manifest_path)
