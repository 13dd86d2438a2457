"""Streaming pipeline (AvailableNow exactly-once) + multimodal
binary plumbing."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from ocr_compare_spark import synth
from ocr_compare_spark.operators.multimodal import extract_media_features
from ocr_compare_spark.streaming.jobs import extraction_stream


@pytest.fixture(scope="module")
def pages_path(spark, sf_dir, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pages_stream"))
    synth.pages_from_documents(spark, sf_dir).limit(60).write.mode("overwrite").parquet(p)
    return p


def test_extraction_stream_availablenow(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    q = extraction_stream(spark, pages_path, out, ckpt)
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    n1 = got.count()
    assert n1 > 0
    # rerun with same checkpoint: no new input -> no duplicates
    q2 = extraction_stream(spark, pages_path, out, ckpt)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n1
    # results match the batch pipeline byte-for-byte
    from ocr_compare_spark.operators.extract import run_engines_fused

    batch = run_engines_fused(spark.read.parquet(pages_path), with_spans=False)
    diff = got.select("url", "engine", "doc_text").exceptAll(
        batch.select("url", "engine", "doc_text")
    )
    assert diff.count() == 0


def test_media_features_deterministic(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    f1 = {r.url: r.feature for r in extract_media_features(pages).collect()}
    f2 = {r.url: r.feature for r in extract_media_features(pages.repartition(7)).collect()}
    assert f1 == f2  # stable across partitionings/processes
    dims = {len(v) for v in f1.values() if v is not None}
    assert dims == {16}
    # null payload -> error row, not a crash
    null_df = spark.createDataFrame([("u", None)], "url string, html binary")
    r = extract_media_features(null_df).collect()[0]
    assert r.decode_error == "null_payload"


def test_resize_images_shape(spark, pages_path):
    from ocr_compare_spark.operators.multimodal import resize_images

    pages = spark.read.parquet(pages_path).limit(20)
    out = resize_images(pages, width=8, height=4).collect()
    assert len(out) == 20
    assert all(len(r.image) == 32 for r in out if r.decode_error is None)
    # deterministic across partitionings
    again = {r.url: bytes(r.image) for r in resize_images(pages.repartition(5), width=8, height=4).collect()}
    assert {r.url: bytes(r.image) for r in out} == again
    r = resize_images(spark.createDataFrame([("u", None)], "url string, html binary")).collect()[0]
    assert r.decode_error == "null_payload" and r.image is None


def test_sample_frames_row_expansion(spark, pages_path):
    from ocr_compare_spark.operators.multimodal import sample_frames

    pages = spark.read.parquet(pages_path).limit(10)
    out = sample_frames(pages, fps=2.0, max_frames=4, bytes_per_second=1024).collect()
    per_url = {}
    for r in out:
        per_url.setdefault(r.url, []).append(r)
    assert len(per_url) == 10
    for frames in per_url.values():
        ns = sorted(f.frame_no for f in frames)
        assert ns == list(range(len(ns))) and 1 <= len(ns) <= 4
        for f in frames:
            assert f.ts_ms == f.frame_no * 500
            assert len(f.frame) == 256
    # frames differ across frame_no but are stable across runs
    u = next(iter(per_url))
    assert len({bytes(f.frame) for f in per_url[u]}) == len(per_url[u])
    r = sample_frames(spark.createDataFrame([("u", None)], "url string, html binary")).collect()[0]
    assert r.decode_error == "null_payload" and r.frame is None


def test_decode_stub_raises():
    from ocr_compare_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff")


def _two_batch_pages_dir(spark, tmp_path):
    """Two parquet files -> two micro-batches: batch 2 repeats doc
    10's content under a new url and adds a new doc."""
    from ocr_compare_spark import synth

    d = str(tmp_path / "paged_input")
    rows1 = [(synth.url_of(i), None, synth.build_html(i, f"alpha beta doc {i}"), None, "en") for i in (10, 11)]
    rows2 = [
        ("https://mirror.example.com/doc/10", None, synth.build_html(10, "alpha beta doc 10"), None, "en"),
        (synth.url_of(12), None, synth.build_html(12, "alpha beta doc 12"), None, "en"),
    ]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(d)
    import glob, shutil, os
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("overwrite").parquet(d + "_b2")
    for f in glob.glob(d + "_b2/*.parquet"):
        shutil.copy(f, os.path.join(d, "batch2-" + os.path.basename(f)))
    return d


def test_first_seen_stream_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState carries first-seen state ACROSS
    micro-batches: the repeated content in batch 2 is suppressed."""
    from ocr_compare_spark.schema import PAGES_SCHEMA
    from ocr_compare_spark.streaming.jobs import first_seen_stream

    d = _two_batch_pages_dir(spark, tmp_path)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = (
        first_seen_stream(stream)
        .writeStream.format("memory")
        .queryName("first_seen_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_fs"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM first_seen_t").collect()
    hashes = [r.content_hash for r in rows]
    assert len(hashes) == len(set(hashes)) == 3  # 4 docs, 1 duplicate content


def test_image_codec_roundtrips():
    """Pure-numpy codecs: encode->decode is EXACT on gradient data,
    including BMP rows that need 4-byte padding (odd widths)."""
    import numpy as np

    from ocr_compare_spark.operators.multimodal import (
        decode_image, encode_bmp, encode_pnm,
    )

    rng = np.random.default_rng(3)
    for w in (5, 6, 7, 8):  # 5,6,7 exercise BMP stride padding
        rgb = rng.integers(0, 256, size=(4, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_image(encode_bmp(rgb)), rgb), f"bmp w={w}"
        gray = rng.integers(0, 256, size=(4, w), dtype=np.uint8)
        assert np.array_equal(decode_image(encode_pnm(gray)), gray), f"p5 w={w}"
        assert np.array_equal(decode_image(encode_pnm(rgb)), rgb), f"p6 w={w}"


def test_pnm_header_comments_and_errors():
    import numpy as np

    from ocr_compare_spark.operators.multimodal import decode_image

    raster = bytes(range(6))
    data = b"P5\n# a comment\n3 2\n255\n" + raster
    assert np.array_equal(decode_image(data), np.arange(6, dtype=np.uint8).reshape(2, 3))
    with pytest.raises(ValueError):
        decode_image(b"P5\n3 2\n255\n" + b"\x00")  # truncated raster
    with pytest.raises(NotImplementedError):
        decode_image(b"P5\n1 1\n65535\n" + b"\x00\x00")  # 16-bit maxval


def test_nearest_resize_kernel():
    import numpy as np

    from ocr_compare_spark.operators.multimodal import nearest_resize

    arr = np.array([[1, 2], [3, 4]], dtype=np.uint8)
    up = nearest_resize(arr, 4, 4)
    want = np.array(
        [[1, 1, 2, 2], [1, 1, 2, 2], [3, 3, 4, 4], [3, 3, 4, 4]], dtype=np.uint8
    )
    assert np.array_equal(up, want)
    down = nearest_resize(up, 2, 2)
    assert np.array_equal(down, arr)


def test_media_features_real_decode(spark):
    """BMP/PGM payloads decode for REAL: feature = exact pixel stats
    (mean/std/min/max/h/w/ch); compressed magic -> error row."""
    import numpy as np

    from ocr_compare_spark import synth
    from ocr_compare_spark.operators.multimodal import encode_bmp

    rows = [(f"u{d}", synth.media_payload_bytes(d)) for d in range(12)]
    rng = np.random.default_rng(5)
    grad = rng.integers(0, 256, size=(4, 7, 3), dtype=np.uint8)
    rows.append(("grad", encode_bmp(grad)))
    rows.append(("jpeg", b"\xff\xd8\xff\xe0JFIF-no-decoder"))
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r.url: r for r in extract_media_features(df, payload_col="payload").collect()}
    for d in range(12):
        r = got[f"u{d}"]
        w, h = synth.media_dims(d)
        v = synth.media_fill(d)
        assert r.decode_error is None
        assert r.feature[0] == float(v)            # mean == planted fill
        assert r.feature[1] == 0.0                 # std of constant fill
        assert (r.feature[4], r.feature[5]) == (float(h), float(w))
        assert r.feature[6] == (1.0 if d % 2 == 0 else 3.0)
        assert r.mime == ("image/x-portable-graymap" if d % 2 == 0 else "image/bmp")
    g = got["grad"]
    m = grad.astype(np.float64)
    assert g.feature[0] == float(m.sum() / m.size) and g.feature[3] == float(m.max())
    assert got["jpeg"].decode_error == "NotImplementedError"
    assert got["jpeg"].mime == "image/jpeg"


def test_resize_images_real_decode(spark):
    """Image payloads resize through the real kernel: raster bytes
    equal nearest_resize(decode(payload)) exactly."""
    import numpy as np

    from ocr_compare_spark import synth
    from ocr_compare_spark.operators.multimodal import (
        decode_image, nearest_resize, resize_images,
    )

    rows = [(f"u{d}", synth.media_payload_bytes(d)) for d in range(8)]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r.url: r for r in resize_images(df, width=4, height=4, payload_col="payload").collect()}
    for d in range(8):
        r = got[f"u{d}"]
        want = nearest_resize(decode_image(synth.media_payload_bytes(d)), 4, 4)
        assert bytes(r.image) == want.tobytes()
        assert len(r.image) == (16 if d % 2 == 0 else 48)


def test_text_magic_collision_guard():
    """Payloads that merely START with 'BM'/'P5' but aren't images
    must not be routed to the decoder (mime sniff requires a
    plausible header, not just two bytes)."""
    from ocr_compare_spark.operators.multimodal import is_image_magic, sniff_mime

    assert not is_image_magic(b"BMW is a carmaker, not a bitmap")
    assert not is_image_magic(b"P5x is a token")
    assert sniff_mime(b"BMW is a carmaker") == "text/html"
    assert sniff_mime(b"P5x y z") == "text/html"
