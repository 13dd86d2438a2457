"""Document-scanner geometry pipeline (operators/scanner.py ==
reference scan/document_scanner.py:52-252 in pure numpy): quad
detection exactness, homography round-trips, enhancement behavior,
the Spark mapInPandas seam, and the enhancement parameter grid."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_compare_spark import synth
from ocr_compare_spark.operators import scanner
from ocr_compare_spark.operators.multimodal import decode_image, encode_bmp, encode_pnm


# ------------------------------------------------------ pure kernels


def test_corner_recovery_exact_across_corpus():
    """find_document_quad recovers the planted corners EXACTLY for
    every doc_id the synthetic corpus can produce (the media_suite
    scan-arm oracle depends on this)."""
    for d in range(0, 4096, 7):
        img = decode_image(synth.scan_payload_bytes(d))
        pts = scanner.find_document_quad(scanner.to_gray(img))
        assert pts is not None, d
        rect = scanner.order_points(pts)
        got = [(int(x), int(y)) for x, y in rect]
        assert got == synth.scan_corners(d), d


def test_order_points_any_permutation():
    pts = np.array([[80.0, 10.0], [10.0, 12.0], [12.0, 60.0], [82.0, 58.0]])
    want = np.array([[10.0, 12.0], [80.0, 10.0], [82.0, 58.0], [12.0, 60.0]])
    rng = np.random.default_rng(7)
    for _ in range(10):
        perm = rng.permutation(4)
        assert np.array_equal(scanner.order_points(pts[perm]), want)


def test_homography_maps_corners_exactly():
    src = np.array([[0.0, 0.0], [49.0, 0.0], [49.0, 39.0], [0.0, 39.0]])
    dst = np.array([[8.0, 6.0], [87.0, 9.0], [88.0, 61.0], [10.0, 60.0]])
    H = scanner._homography(src, dst)
    for (x, y), (u, v) in zip(src, dst):
        p = H @ np.array([x, y, 1.0])
        assert np.allclose(p[:2] / p[2], [u, v], atol=1e-9)


def test_warp_of_axis_aligned_rect_exact_on_linear_ramp():
    """Axis-aligned quad -> the homography is a pure scale with
    KNOWN sample coords (dst (maxW-1, maxH-1) onto the quad corners,
    the reference's own off-by-the-span rule, :210-214). Bilinear
    sampling reproduces a linear intensity ramp exactly, so every
    output pixel has a closed form."""
    ys, xs = np.mgrid[0:40, 0:60]
    img = (2 * xs + 3 * ys).astype(np.uint8)  # max 235, no wrap
    pts = np.array([[5, 4], [34, 4], [34, 23], [5, 23]], dtype=np.float64)
    w, h = scanner.output_dims(scanner.order_points(pts))
    assert (w, h) == (29, 19)
    out = scanner.four_point_transform(img, pts)
    yd, xd = np.mgrid[0:h, 0:w]
    sx = 5 + xd * 29.0 / 28.0
    sy = 4 + yd * 19.0 / 18.0
    exact = 2 * sx + 3 * sy
    want = np.round(exact).astype(np.uint8)
    diff = np.abs(out.astype(int) - want.astype(int))
    # exact everywhere except half-integer ties, where the warp's
    # accumulated float error can legally round either way
    ties = np.abs(exact - np.floor(exact) - 0.5) < 1e-9
    assert diff[~ties].max() == 0
    assert diff.max() <= 1
    # corners land exactly on the quad corners
    assert out[0, 0] == img[4, 5] and out[h - 1, w - 1] == img[23, 34]


def test_output_dims_match_reference_int_truncation():
    # int(max(norm)) truncates: sides sqrt(50^2+3^2)=50.09 -> 50
    rect = np.array([[0.0, 0.0], [50.0, 3.0], [52.0, 43.0], [1.0, 40.0]])
    w, h = scanner.output_dims(rect)
    assert w == int(max(np.hypot(51, 3), np.hypot(50, 3)))
    assert h == int(max(np.hypot(2, 40), np.hypot(1, 40)))


def test_find_quad_rejects_flat_and_tiny():
    assert scanner.find_document_quad(np.full((20, 20), 50.0)) is None
    spot = np.full((20, 20), 10.0)
    spot[10, 10] = 250.0
    assert scanner.find_document_quad(spot) is None  # degenerate "quad"


def test_enhance_binarizes_text_stripes():
    """Aligned synthetic scan -> enhance yields a strictly binary
    image whose ink fraction sits near the planted stripe duty cycle
    (2 rows of every 8 inside the inner polygon)."""
    img = decode_image(synth.scan_payload_bytes(7))
    pts = scanner.find_document_quad(scanner.to_gray(img))
    assert pts is not None
    aligned = scanner.four_point_transform(img, pts)
    enh = scanner.enhance(aligned, upscale_factor=1.0)
    assert set(np.unique(enh)) <= {0, 255}
    ink = (enh == 0).mean()
    assert 0.10 < ink < 0.45, ink


def test_enhance_upscale_doubles_dims():
    img = decode_image(synth.scan_payload_bytes(2))
    aligned = scanner.four_point_transform(img, scanner.find_document_quad(scanner.to_gray(img)))
    e1 = scanner.enhance(aligned, upscale_factor=1.0)
    e2 = scanner.enhance(aligned, upscale_factor=2.0)
    assert e2.shape == (e1.shape[0] * 2, e1.shape[1] * 2)


def test_scan_document_full_pipeline_and_none_path():
    """quad -> warp -> enhance, the per-asset pipeline scan_documents
    runs; a flat image has no quad, so the pipeline stops there."""
    img = decode_image(synth.scan_payload_bytes(5))
    pts = scanner.find_document_quad(scanner.to_gray(img))
    assert pts is not None
    out = scanner.enhance(scanner.four_point_transform(img, pts))
    assert set(np.unique(out)) <= {0, 255}
    flat = np.full((30, 30, 3), 90, dtype=np.uint8)
    assert scanner.find_document_quad(scanner.to_gray(flat)) is None


def test_color_bmp_scan_matches_gray_geometry():
    """The same planted quad drawn as 24-bit BMP color goes through
    the color path (gray conversion, 3-channel warp) and recovers
    identical corners."""
    d = 13
    gray = decode_image(synth.scan_payload_bytes(d))
    color = np.repeat(gray[:, :, None], 3, axis=2)
    bmp = encode_bmp(color)
    img = decode_image(bmp)
    assert img.ndim == 3
    pts = scanner.find_document_quad(scanner.to_gray(img))
    rect = scanner.order_points(pts)
    assert [(int(x), int(y)) for x, y in rect] == synth.scan_corners(d)
    warped = scanner.four_point_transform(img, pts)
    assert warped.ndim == 3 and warped.shape[2] == 3


# ------------------------------------------------------- Spark seam


def test_scan_documents_operator(spark, sf_dir):
    scans = synth.scans_from_documents(spark, sf_dir)
    out = scanner.scan_documents(scans, payload_col="payload")
    rows = {r["url"]: r for r in out.collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").collect()
    assert len(rows) == len(docs)
    for r in docs:
        d = r["doc_id"]
        url = [u for u in rows if u.endswith(f"/doc/{d}")][0]
        row = rows[url]
        assert row["found"] is True
        tl, tr, br, bl = synth.scan_corners(d)
        assert (row["tl_x"], row["tl_y"]) == tl
        assert (row["tr_x"], row["tr_y"]) == tr
        assert (row["br_x"], row["br_y"]) == br
        assert (row["bl_x"], row["bl_y"]) == bl
        assert row["decode_error"] is None
        assert 0.05 < row["ink_frac"] < 0.5
        # aligned mean sits between ink and fill (mostly paper)
        assert synth.SCAN_INK < row["mean_aligned"] <= synth.SCAN_FILL + 1


def test_scan_documents_error_rows(spark):
    df = spark.createDataFrame(
        [
            ("u1", bytearray(b"\xff\xd8\xffjpegnotreal")),   # compressed -> NotImplementedError
            ("u2", None),                                     # null payload
            ("u3", bytearray(encode_pnm(np.full((20, 20), 99, dtype=np.uint8)))),  # flat -> no quad
        ],
        "url string, payload binary",
    )
    out = {r["url"]: r for r in scanner.scan_documents(df).collect()}
    assert out["u1"]["decode_error"] == "NotImplementedError"
    assert out["u2"]["decode_error"] == "null_payload"
    assert out["u3"]["found"] is False and out["u3"]["decode_error"] is None


def test_scan_param_grid_composes(spark, sf_dir):
    """The enhancement parameter-grid experiment (SURVEY J7 over the
    scanner's parameter surface): a small broadcast grid of
    (block_size, threshold_C) runs the SAME aligned docs through
    enhance and ink_frac responds monotonically to threshold_C."""
    scans = synth.scans_from_documents(spark, sf_dir).limit(8)
    by_c = {}
    for c in (2.0, 60.0):
        out = scanner.scan_documents(scans, payload_col="payload", threshold_C=c)
        by_c[c] = {r["url"]: r["ink_frac"] for r in out.collect()}
    # raising C whitens the threshold surface -> ink can only shrink
    for url, ink2 in by_c[2.0].items():
        assert by_c[60.0][url] <= ink2
    assert sum(by_c[60.0].values()) < sum(by_c[2.0].values())
