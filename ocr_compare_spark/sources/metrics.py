"""Extractor-level counters + per-partition lineage (north_rule).

Reference analog: per-segment timing/count logging in
ocr_executor.py:133,148-164,171-177 — log-only there; here they are
rows in a metrics *table* (FIXTURES.md §7) so a 1000-executor run
leaves queryable lineage.

Two mechanisms:
- ``observe()`` named aggregates on the result DataFrame (free —
  computed during the main action, no extra pass)
- per-partition counters via mapInPandas + TaskContext.partitionId
  (the per-partition lineage rows).
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F


def observe_extraction(results: DataFrame, name: str = "extract") -> tuple[DataFrame, Observation]:
    obs = Observation(name)
    observed = results.observe(
        obs,
        F.count(F.lit(1)).alias("docs_in"),
        F.count(F.when(F.col("error").isNull(), 1)).alias("docs_ok"),
        F.count(F.when(F.col("error").isNotNull(), 1)).alias("docs_error"),
        F.sum(F.coalesce(F.col("n_words"), F.lit(0))).alias("words_total"),
    )
    return observed, obs


def partition_metrics(results: DataFrame, job_id: str) -> DataFrame:
    """One row per (partition, engine): docs in/ok/error, bytes,
    elapsed — the per-partition lineage record."""

    schema = (
        "job_id string, partition_id int, engine string, docs_in long, "
        "docs_ok long, docs_error long, bytes_in long, elapsed_ms long"
    )

    def per_partition(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        t0 = time.time()
        acc: dict[str, dict[str, int]] = {}
        for pdf in batches:
            for eng, grp in pdf.groupby("engine"):
                a = acc.setdefault(eng, {"docs_in": 0, "docs_ok": 0, "docs_error": 0, "bytes_in": 0})
                a["docs_in"] += len(grp)
                a["docs_ok"] += int(grp["error"].isna().sum())
                a["docs_error"] += int(grp["error"].notna().sum())
                a["bytes_in"] += int(grp["doc_text"].str.len().fillna(0).sum())
        elapsed = int((time.time() - t0) * 1000)
        rows = [
            {"job_id": job_id, "partition_id": pid, "engine": eng, **a, "elapsed_ms": elapsed}
            for eng, a in acc.items()
        ]
        yield pd.DataFrame(rows, columns=["job_id", "partition_id", "engine", "docs_in", "docs_ok", "docs_error", "bytes_in", "elapsed_ms"])

    return results.select("engine", "error", "doc_text").mapInPandas(per_partition, schema)
