"""Flagship end-to-end job — the Spark equivalent of the reference's
CLI comparison run (/root/reference/examples/ocr_comparison.py:159-268)
as ONE DAG, deployable via spark-submit --py-files:

    spark-submit --master local[8] --py-files ocr_compare_spark.zip \
        ocr_compare_spark/plans/job.py --input /root/testdata/sf0.1 \
        --replicate 4 --output /tmp/ocr_out

source table -> deterministic pages synth -> explicit repartition on
url (unique key => even spread regardless of host skew) -> 3 engine
UDFs (hot path: no span arrays) -> winner window -> pairwise metrics
-> parquet sinks + metrics table. Prints one JSON line with in-job
timings (startup excluded: timer wraps the actions only) and
docs/sec — the BASELINE.md protocol.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pandas as pd  # module-level so pandas_udf string type hints resolve

# When launched as a bare script (python .../plans/job.py) put the
# repo root on the path; under spark-submit --py-files the packaged
# zip already provides the module and this is a no-op.
_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def build_and_run(
    spark,
    input_dir: str,
    output_dir: str | None,
    replicate: int = 1,
    with_alignment: bool = True,
    num_partitions: int | None = None,
    cache_dir: str | None = None,
    force_refresh: bool = False,
    with_assemble: bool = False,
    with_dedup: bool = False,
    max_align_len: int | None = None,
) -> dict:
    from pyspark.sql import functions as F

    from ocr_compare_spark import synth
    from ocr_compare_spark.operators.compare import pairwise_compare
    from ocr_compare_spark.operators.extract import run_engines_fused
    from ocr_compare_spark.operators.winner import pick_winner
    from ocr_compare_spark.sources import cache as cache_mod
    from ocr_compare_spark.sources import metrics as mx

    sc = spark.sparkContext
    if num_partitions is None:
        # ~1 partition per core locally (measured: over-partitioning
        # tiny tasks costs ~50ms each in scheduler+GC overhead). At
        # cluster scale the source table's split size governs instead.
        num_partitions = sc.defaultParallelism
    # right-size the shuffle for this job (runtime-settable; respects
    # a spark-submit --conf only if the caller passes --partitions)
    spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "512")

    # Materialize the synthetic corpus as the actual input table
    # (untimed — in production the crawl table already exists; the
    # benchmark measures the pipeline, not test-data generation).
    import re as _re

    tag = _re.sub(r"\W+", "_", input_dir.strip("/")) + f"_x{replicate}"
    input_tbl = f"/dev/shm/ocr_input_{tag}"
    if not os.path.exists(os.path.join(input_tbl, "_SUCCESS")):
        synth.pages_from_documents(spark, input_dir, replicate=replicate).write.mode(
            "overwrite"
        ).parquet(input_tbl)
    pages = spark.read.parquet(input_tbl)
    staging = (output_dir or "/dev/shm/ocr_job_staging") + "/results"

    # Warm the Python worker pool + Arrow path before the timer: on a
    # real cluster executors and their python workers are provisioned
    # before data flows; locally the first UDF stage otherwise pays
    # ~1-2s of pandas/pyarrow imports per worker inside the measured
    # window.
    @F.pandas_udf("double")
    def _warm(x: pd.Series) -> pd.Series:
        return x * 1.0

    par = sc.defaultParallelism
    spark.range(par * 4).repartition(par).select(_warm(F.col("id").cast("double"))).write.format(
        "noop"
    ).mode("overwrite").save()

    phases: dict[str, float] = {}
    t0 = time.time()

    # Phase 1: extraction -> staged parquet table (the scale
    # architecture: stage outputs are tables, giving downstream
    # phases a columnar, pushdown-friendly source instead of a
    # recompute-through-UDF lineage or an in-memory cache).
    # With --cache-dir, extraction goes through the content-addressed
    # result cache (reference CachedOcrExecutor): only cache misses
    # hit the engine UDFs; a second run's extract phase is a pure
    # scan + key join. --force-refresh recomputes despite hits and
    # appends (last-write-wins on read), cached_ocr_executor.py:73.
    t = time.time()
    cache_fresh_rows = None
    if cache_dir:
        results, fresh = cache_mod.cached_extract(
            spark, pages, cache_dir,
            force_refresh=force_refresh, num_partitions=num_partitions,
            return_fresh=True,
        )
    else:
        results = run_engines_fused(
            pages, with_spans=False, num_partitions=num_partitions
        ).drop("spans")  # all-null column: don't stage it
    observed, obs = mx.observe_extraction(results)
    observed.write.mode("overwrite").parquet(staging)
    if cache_dir:
        # persisted by cached_extract: this count is a memory read,
        # and run 2 reporting 0 is the cache-effectiveness evidence
        cache_fresh_rows = fresh.count()
    phases["extract"] = round(time.time() - t, 2)
    stats = dict(obs.get)
    if cache_fresh_rows is not None:
        stats["cache_fresh_rows"] = cache_fresh_rows
    staged = spark.read.parquet(staging)

    t = time.time()
    winners = pick_winner(staged)
    if output_dir:
        winners.write.mode("overwrite").parquet(f"{output_dir}/winners")
        n_winners = spark.read.parquet(f"{output_dir}/winners").count()
    else:
        winners.write.format("noop").mode("overwrite").save()
        n_winners = -1
    phases["winner"] = round(time.time() - t, 2)

    t = time.time()
    # The byte-light/CPU-heavy alignment stage must stay WIDE, but
    # the old fix (repartition(cores) after the pair explode) paid a
    # SECOND full shuffle of every pair text just to defeat AQE's
    # size-based coalescing. Turning coalescing off for this one
    # query keeps the groupBy(url) post-shuffle stage at the
    # configured width, so explode + jaccard + align UDF all run at
    # full parallelism with ONE text shuffle instead of two.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    coalesce_prev = spark.conf.get(coalesce_key, "true")
    if with_alignment:
        spark.conf.set(coalesce_key, "false")
    try:
        compare = pairwise_compare(
            staged,
            with_alignment=with_alignment,
            num_partitions=None,
            # bound the per-pair alignment DP at scale (capped pairs
            # carry an explicit `capped` column — never silent)
            max_align_len=max_align_len,
        )
        compare = compare.drop("lcs_spans", "text_a", "text_b")
        if output_dir:
            compare.write.mode("overwrite").parquet(f"{output_dir}/compare")
            n_pairs = spark.read.parquet(f"{output_dir}/compare").count()
        else:
            compare.write.format("noop").mode("overwrite").save()
            n_pairs = -1
    finally:
        spark.conf.set(coalesce_key, coalesce_prev)
    phases["compare"] = round(time.time() - t, 2)

    # The two heavy optional phases explode rows ~150-500x, so their
    # shuffle parallelism must track DATA volume, not core count —
    # at 2 cores x 240k docs, cores*2 partitions would put millions
    # of span rows per aggregation task (measured superlinear spill).
    # ~2000 docs/partition keeps per-task collect_list state ~100 MB.
    docs_total = (
        spark.read.parquet(f"{input_dir.rstrip('/')}/documents.parquet").count() * replicate
    )
    heavy_parts = max(num_partitions, docs_total // 2000)

    if with_assemble:
        # spans_assemble headline: dom extraction WITH span rows ->
        # exchange-free 5-level reassembly cascade (byte-identity of
        # the result vs the fast path is the pytest/oracle gate; here
        # we time it at scale).
        from ocr_compare_spark.operators.assemble import assemble_doc_text
        from ocr_compare_spark.operators.extract import spans_table

        t = time.time()
        spark.conf.set("spark.sql.shuffle.partitions", str(heavy_parts))
        dom_spans = spans_table(
            run_engines_fused(pages, engines=("dom",), with_spans=True, num_partitions=num_partitions)
        )
        assemble_doc_text(dom_spans).write.format("noop").mode("overwrite").save()
        spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
        phases["spans_assemble"] = round(time.time() - t, 2)

    if with_dedup:
        # dedup_minhash headline over the staged dom texts (replicated
        # urls make every doc a planted near-dup group — the bucket
        # join's worst realistic case).
        from ocr_compare_spark.operators.dedup import lsh_candidates

        t = time.time()
        spark.conf.set("spark.sql.shuffle.partitions", str(heavy_parts))
        dom_texts = staged.filter(F.col("engine") == "dom").select("url", "doc_text")
        lsh_candidates(
            dom_texts, "url", "doc_text", verify_threshold=0.5, num_partitions=heavy_parts
        ).write.format("noop").mode("overwrite").save()
        spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
        phases["dedup_minhash"] = round(time.time() - t, 2)

    if output_dir:
        t = time.time()
        mx.partition_metrics(staged, job_id=f"job-{int(t0)}").write.mode("overwrite").parquet(
            f"{output_dir}/metrics"
        )
        phases["metrics"] = round(time.time() - t, 2)
    elapsed = time.time() - t0
    out = {
        "elapsed_sec": round(elapsed, 2),
        "docs": docs_total,
        "engine_rows": int(stats.get("docs_in", -1)),
        "docs_ok": int(stats.get("docs_ok", -1)),
        "docs_error": int(stats.get("docs_error", -1)),
        "n_winners": n_winners,
        "n_pairs": n_pairs,
        "phases": phases,
        "docs_per_sec": round(docs_total / elapsed, 2),
    }
    if cache_fresh_rows is not None:
        out["cache_fresh_rows"] = cache_fresh_rows
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.1")
    ap.add_argument("--output", default=None)
    ap.add_argument("--replicate", type=int, default=1)
    ap.add_argument("--no-alignment", action="store_true")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--cache-dir", default=None)
    ap.add_argument("--force-refresh", action="store_true")
    ap.add_argument("--with-assemble", action="store_true")
    ap.add_argument("--with-dedup", action="store_true")
    ap.add_argument("--max-align-len", type=int, default=None,
                    help="cap the alignment DP; capped pairs are flagged, not silently truncated")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is None and "SPARK_ENV_LOADED" not in os.environ:
        # bare `python job.py` run: build a tuned local session
        from ocr_compare_spark.session import get_spark

        spark = get_spark(app_name="ocr_compare_flagship")
    else:
        # under spark-submit the JVM/master/memory are already fixed
        spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    out = build_and_run(
        spark,
        args.input,
        args.output,
        replicate=args.replicate,
        with_alignment=not args.no_alignment,
        num_partitions=args.partitions,
        cache_dir=args.cache_dir,
        force_refresh=args.force_refresh,
        with_assemble=args.with_assemble,
        with_dedup=args.with_dedup,
        max_align_len=args.max_align_len,
    )
    out["master"] = spark.sparkContext.master
    print("BENCH_JSON:" + json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
