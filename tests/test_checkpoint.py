"""Per-partition checkpoint/resume (north_rule): a killed run resumes
without recomputing completed buckets and produces identical output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_compare_spark import synth
from ocr_compare_spark.operators.extract import run_engine
from ocr_compare_spark.sources import checkpoint as ckpt


@pytest.fixture()
def pages(spark, sf_dir):
    return synth.pages_from_documents(spark, sf_dir).limit(80)


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "uri"])
def test_crash_resume_no_recompute(spark, pages, tmp_path, as_uri):
    # a cluster passes file:/hdfs:/s3a: URIs, which os.path cannot see
    base = tmp_path.as_uri() if as_uri else str(tmp_path)
    out = f"{base}/out"
    manifest = f"{base}/manifest"
    calls = {"n": 0}

    def crashing(part):
        calls["n"] += 1
        if calls["n"] > 2:
            raise RuntimeError("simulated crash")
        return run_engine(part, "dom").select("url", "doc_text")

    with pytest.raises(RuntimeError):
        ckpt.run_with_checkpoints(pages, crashing, out, manifest, "job1", n_buckets=4)
    done = {r.bucket for r in ckpt.completed_buckets(spark, manifest, "job1").collect()}
    assert done == {0, 1}

    calls2 = {"n": 0}

    def process(part):
        calls2["n"] += 1
        return run_engine(part, "dom").select("url", "doc_text")

    ckpt.run_with_checkpoints(pages, process, out, manifest, "job1", n_buckets=4)
    assert calls2["n"] == 2  # only the missing buckets ran

    result = spark.read.parquet(out)
    n_html = pages.filter(~F.expr("coalesce(substring(html,1,4)=X'25504446', false)")).count()
    assert result.count() == n_html
    assert result.select("url").distinct().count() == n_html

    # idempotence: a third run does nothing and output is unchanged
    calls3 = {"n": 0}

    def process3(part):
        calls3["n"] += 1
        return run_engine(part, "dom").select("url", "doc_text")

    ckpt.run_with_checkpoints(pages, process3, out, manifest, "job1", n_buckets=4)
    assert calls3["n"] == 0
    assert spark.read.parquet(out).count() == n_html
