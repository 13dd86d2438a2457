"""Dolma JSONL interchange (sources/jsonl.py): round-trips, gzip
shard layout, metadata extraction."""

from __future__ import annotations

import glob
import gzip
import json

from pyspark.sql import functions as F

from ocr_compare_spark.sources import jsonl
from tests.mirrors import py_document_record


def _docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


def test_documents_roundtrip(spark, sf_dir, tmp_path):
    d = _docs(spark, sf_dir)
    path = str(tmp_path / "docs")
    jsonl.write_documents(
        d, path, id_col="doc_id",
        metadata_cols=["n_chars"], partition_by="lang", shards_per_partition=2,
    )
    back = jsonl.read_documents(spark, path)
    assert back.count() == d.count()
    # text round-trips byte-exactly, lang comes from the dir name
    orig = {(str(r.doc_id)): (r.text, r.lang) for r in d.collect()}
    for r in back.collect():
        t, lang = orig[r.id]
        assert r.text == t and r.lang == lang
    # metadata json carries the typed field back out
    m = jsonl.metadata_field(back, "n_chars", "long")
    chars = {str(r.doc_id): r.n_chars for r in d.collect()}
    assert all(r.n_chars == chars[r.id] for r in m.collect())


def test_shard_layout_and_gzip_lines(spark, sf_dir, tmp_path):
    d = _docs(spark, sf_dir)
    path = str(tmp_path / "docs")
    jsonl.write_documents(
        d, path, id_col="doc_id", partition_by="lang", shards_per_partition=2,
    )
    langs = {r.lang for r in d.select("lang").distinct().collect()}
    for lang in langs:
        files = glob.glob(f"{path}/lang={lang}/*.json.gz")
        assert 1 <= len(files) <= 2, (lang, files)
    # physical format: one json object per gzip line
    sample = glob.glob(f"{path}/lang=*/*.json.gz")[0]
    with gzip.open(sample, "rt") as f:
        for line in f:
            rec = json.loads(line)
            assert set(rec) <= {"id", "text", "source", "metadata"}
            assert "id" in rec


def test_py_record_mirror():
    rec = json.loads(py_document_record("7", "hello", source="s", metadata={"a": 1}))
    assert rec == {"id": "7", "text": "hello", "source": "s", "metadata": {"a": 1}}


def test_curate_dolma_export(spark, sf_dir, tmp_path):
    from ocr_compare_spark.plans.curate import curate

    dpath = str(tmp_path / "dolma")
    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               jaccard_threshold=0.8, dolma_out=dpath)
    back = jsonl.read_documents(spark, dpath)
    assert back.count() == m["docs_out"] > 0
    # ids are urls, text is the winner doc_text, metadata is typed
    assert back.filter(~F.col("id").startswith("https://")).count() == 0
    tc = jsonl.metadata_field(back, "token_count", "long")
    assert tc.filter(F.col("token_count") <= 0).count() == 0
