"""Document-scanner geometry pipeline — pure numpy, Spark-seamed.

Re-expresses the reference's scan/document_scanner.py:52-252
(DocumentScanner: contour->quad selection, four-point perspective
alignment, scan-like enhancement) WITHOUT cv2 (not a dependency).
Every kernel is real vectorized numpy — no stubs. The
reference's Canny edge pass (:69-84) has no counterpart: the quad fit
below needs no edge map. The kernels:

- find_document_quad + four_point_transform == reference :86-116 with
  ONE documented substitution: the findContours + approxPolyDP quad search
  (:103-111) is replaced by a threshold-mask extreme-point quad fit.
  For a filled convex document on a darker background the four
  contour corners ARE the bright pixels extremizing (x+y) and (y-x)
  — the very functionals the reference's _order_points (:219-237)
  uses to label them — so both paths select the same quad. The 500px
  pre-resize (:99-101) is skipped (inputs here are small; corners
  come back at native scale, no orig_ratio rounding).
- _four_point_transform == reference :190-217: identical output-dim
  rule (int(max(norm(...))) widths/heights, truncation included),
  homography solved as the standard 4-point DLT 8x8 linear system in
  float64 instead of cv2.getPerspectiveTransform/float32, warped by
  inverse mapping + bilinear sampling with a zero border.
- enhance == reference :118-153: upscale (bilinear here, vs
  INTER_CUBIC), Gaussian blur, ADAPTIVE_THRESH_GAUSSIAN_C-style
  adaptive threshold (Gaussian-weighted local mean, cv2's
  sigma-from-ksize rule), morphological close, median blur. The
  parameter surface is identical (upscale_factor, block_size,
  threshold_C, close_kernel, median_ksize) so the enhancement
  parameter-grid experiment (SURVEY J7) composes over it.

Spark seam: scan_documents() runs decode -> align -> enhance per
asset inside Arrow-batched mapInPandas — one summary row per asset,
decode/geometry failures become rows (found=false / decode_error),
never task failures. Per-image work is bounded by the image size, so
the operator scales with the row count like every other mapInPandas
stage here.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# ---------------------------------------------------------- kernels


def _gauss_kernel1d(ksize: int, sigma: float | None = None) -> np.ndarray:
    """cv2.getGaussianKernel semantics: default sigma derived from
    ksize as 0.3*((ksize-1)*0.5 - 1) + 0.8."""
    if sigma is None or sigma <= 0:
        sigma = 0.3 * ((ksize - 1) * 0.5 - 1) + 0.8
    x = np.arange(ksize, dtype=np.float64) - (ksize - 1) / 2.0
    k = np.exp(-(x * x) / (2.0 * sigma * sigma))
    return k / k.sum()


def _corr1d(a: np.ndarray, k: np.ndarray, axis: int) -> np.ndarray:
    """1-D correlation along ``axis`` with reflect-101 borders (cv2's
    BORDER_DEFAULT), vectorized as len(k) shifted adds."""
    p = len(k) // 2
    pad = [(0, 0), (0, 0)]
    pad[axis] = (p, p)
    ap = np.pad(a, pad, mode="reflect")
    out = np.zeros(a.shape, dtype=np.float64)
    n = a.shape[axis]
    for i, kv in enumerate(k):
        sl: list = [slice(None), slice(None)]
        sl[axis] = slice(i, i + n)
        out += kv * ap[tuple(sl)]
    return out


def to_gray(img: np.ndarray) -> np.ndarray:
    """RGB -> luma with the BT.601 weights cv2.cvtColor uses
    (reference :81 converts BGR2GRAY; our decoders emit RGB)."""
    a = img.astype(np.float64)
    if a.ndim == 2:
        return a
    return a[..., 0] * 0.299 + a[..., 1] * 0.587 + a[..., 2] * 0.114


def gaussian_blur(gray: np.ndarray, ksize: int = 5, sigma: float | None = None) -> np.ndarray:
    k = _gauss_kernel1d(ksize, sigma)
    return _corr1d(_corr1d(gray.astype(np.float64), k, 0), k, 1)


def _dilate(binary: np.ndarray, k: int) -> np.ndarray:
    p = k // 2
    ap = np.pad(binary, p, mode="constant")
    out = np.zeros_like(binary)
    h, w = binary.shape
    for dy in range(k):
        for dx in range(k):
            np.maximum(out, ap[dy : dy + h, dx : dx + w], out=out)
    return out


def _erode(binary: np.ndarray, k: int) -> np.ndarray:
    p = k // 2
    # pad with the max so the border doesn't erode inward artificially
    ap = np.pad(binary, p, mode="constant", constant_values=255)
    out = np.full_like(binary, 255)
    h, w = binary.shape
    for dy in range(k):
        for dx in range(k):
            np.minimum(out, ap[dy : dy + h, dx : dx + w], out=out)
    return out


def morph_close(binary: np.ndarray, k: int = 3) -> np.ndarray:
    """cv2.morphologyEx(MORPH_CLOSE, ones(k,k)); reference :151."""
    return _erode(_dilate(binary, k), k)


def median_blur(img: np.ndarray, k: int = 3) -> np.ndarray:
    """k x k median filter with replicate borders (cv2.medianBlur);
    reference :152."""
    p = k // 2
    ap = np.pad(img, p, mode="edge")
    h, w = img.shape
    stack = np.stack(
        [ap[dy : dy + h, dx : dx + w] for dy in range(k) for dx in range(k)]
    )
    return np.median(stack, axis=0).astype(img.dtype)


def adaptive_threshold_gaussian(
    gray: np.ndarray, block_size: int = 15, threshold_C: float = 2.0
) -> np.ndarray:
    """ADAPTIVE_THRESH_GAUSSIAN_C + THRESH_BINARY: pixel > (Gaussian-
    weighted local mean - C) -> 255 else 0; reference :147-150."""
    k = _gauss_kernel1d(block_size)
    mean = _corr1d(_corr1d(gray.astype(np.float64), k, 0), k, 1)
    return np.where(gray > mean - threshold_C, 255, 0).astype(np.uint8)


def bilinear_resize(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Pixel-center-aligned bilinear resample (the upscale kernel;
    reference :239-253 uses INTER_CUBIC — bilinear here, documented
    divergence, both are smooth interpolators)."""
    h, w = img.shape[:2]
    sx = np.clip((np.arange(out_w) + 0.5) * w / out_w - 0.5, 0, w - 1)
    sy = np.clip((np.arange(out_h) + 0.5) * h / out_h - 0.5, 0, h - 1)
    x0 = np.floor(sx).astype(int)
    y0 = np.floor(sy).astype(int)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    fx = sx - x0
    fy = sy - y0
    a = img.astype(np.float64)
    if a.ndim == 3:
        fxh = fx[None, :, None]
        fyv = fy[:, None, None]
    else:
        fxh = fx[None, :]
        fyv = fy[:, None]
    top = a[y0][:, x0] * (1 - fxh) + a[y0][:, x1] * fxh
    bot = a[y1][:, x0] * (1 - fxh) + a[y1][:, x1] * fxh
    out = top * (1 - fyv) + bot * fyv
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# ------------------------------------------------- quad + homography


def order_points(pts: np.ndarray) -> np.ndarray:
    """tl/tr/br/bl by the (x+y, y-x) extremes; reference :219-237."""
    pts = np.asarray(pts, dtype=np.float64)
    rect = np.zeros((4, 2), dtype=np.float64)
    s = pts.sum(axis=1)
    rect[0] = pts[np.argmin(s)]
    rect[2] = pts[np.argmax(s)]
    diff = pts[:, 1] - pts[:, 0]
    rect[1] = pts[np.argmin(diff)]
    rect[3] = pts[np.argmax(diff)]
    return rect


def find_document_quad(gray: np.ndarray) -> Optional[np.ndarray]:
    """Threshold-mask extreme-point quad fit (the findContours +
    approxPolyDP replacement — see module docstring). Bright mask at
    the mid-range threshold; corners = the mask pixels extremizing
    x+y and y-x. Returns (4,2) float64 [tl, tr, br, bl] or None."""
    g = gray.astype(np.float64)
    lo, hi = float(g.min()), float(g.max())
    if hi - lo < 16:  # flat image: no document contrast
        return None
    t = (lo + hi) / 2.0
    ys, xs = np.nonzero(g > t)
    if xs.size < 4:
        return None
    s = xs + ys
    dif = ys - xs
    pts = np.array(
        [
            [xs[np.argmin(s)], ys[np.argmin(s)]],
            [xs[np.argmin(dif)], ys[np.argmin(dif)]],
            [xs[np.argmax(s)], ys[np.argmax(s)]],
            [xs[np.argmax(dif)], ys[np.argmax(dif)]],
        ],
        dtype=np.float64,
    )
    if len({(float(x), float(y)) for x, y in pts}) < 4:
        return None
    return pts


def _homography(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """3x3 H with H[2,2]=1 mapping the 4 src points onto the 4 dst
    points (standard DLT 8x8 solve — what getPerspectiveTransform
    computes; reference :215)."""
    A = np.zeros((8, 8), dtype=np.float64)
    b = np.zeros(8, dtype=np.float64)
    for i, ((x, y), (u, v)) in enumerate(zip(src, dst)):
        A[2 * i] = [x, y, 1, 0, 0, 0, -u * x, -u * y]
        b[2 * i] = u
        A[2 * i + 1] = [0, 0, 0, x, y, 1, -v * x, -v * y]
        b[2 * i + 1] = v
    h = np.linalg.solve(A, b)
    return np.append(h, 1.0).reshape(3, 3)


def warp_perspective(img: np.ndarray, h_dst_to_src: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Inverse-mapped perspective warp with bilinear sampling and a
    zero border (cv2.warpPerspective defaults); reference :216."""
    xs, ys = np.meshgrid(np.arange(out_w, dtype=np.float64), np.arange(out_h, dtype=np.float64))
    pts = np.stack([xs.ravel(), ys.ravel(), np.ones(out_w * out_h)])
    sp = h_dst_to_src @ pts
    sx = sp[0] / sp[2]
    sy = sp[1] / sp[2]
    h, w = img.shape[:2]
    valid = (sx >= 0) & (sx <= w - 1) & (sy >= 0) & (sy <= h - 1)
    sx = np.clip(sx, 0, w - 1)
    sy = np.clip(sy, 0, h - 1)
    x0 = np.floor(sx).astype(int)
    y0 = np.floor(sy).astype(int)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    fx = sx - x0
    fy = sy - y0
    a = img.astype(np.float64)
    wa = (1 - fx) * (1 - fy)
    wb = fx * (1 - fy)
    wc = (1 - fx) * fy
    wd = fx * fy
    if a.ndim == 3:
        wa, wb, wc, wd = (x[:, None] for x in (wa, wb, wc, wd))
        validm = valid[:, None]
    else:
        validm = valid
    out = a[y0, x0] * wa + a[y0, x1] * wb + a[y1, x0] * wc + a[y1, x1] * wd
    out = np.where(validm, out, 0.0)
    shape = (out_h, out_w) if a.ndim == 2 else (out_h, out_w, a.shape[2])
    return np.clip(np.round(out.reshape(shape)), 0, 255).astype(np.uint8)


def output_dims(rect: np.ndarray) -> Tuple[int, int]:
    """Warp output size from an ordered rect — int(max(side norms)),
    truncation and all; reference :202-209."""
    tl, tr, br, bl = rect
    max_w = int(max(np.linalg.norm(br - bl), np.linalg.norm(tr - tl)))
    max_h = int(max(np.linalg.norm(tr - br), np.linalg.norm(tl - bl)))
    return max_w, max_h


def four_point_transform(img: np.ndarray, pts: np.ndarray) -> np.ndarray:
    """reference :190-217."""
    rect = order_points(pts)
    max_w, max_h = output_dims(rect)
    dst = np.array(
        [[0, 0], [max_w - 1, 0], [max_w - 1, max_h - 1], [0, max_h - 1]],
        dtype=np.float64,
    )
    return warp_perspective(img, _homography(dst, rect), max_w, max_h)


def enhance(
    img: np.ndarray,
    upscale_factor: float = 2.0,
    block_size: int = 15,
    threshold_C: float = 2.0,
    close_kernel: int = 3,
    median_ksize: int = 3,
) -> np.ndarray:
    """Scan-like enhancement; parameter surface == reference :118-153."""
    if img is None:
        raise ValueError("Input image is None.")
    if upscale_factor != 1.0:
        h, w = img.shape[:2]
        img = bilinear_resize(img, int(w * upscale_factor), int(h * upscale_factor))
    gray = to_gray(img)
    blurred = gaussian_blur(gray, 5)
    th = adaptive_threshold_gaussian(blurred, block_size, threshold_C)
    closed = morph_close(th, close_kernel)
    return median_blur(closed, median_ksize)


# ------------------------------------------------------- Spark seam

SCAN_SCHEMA = (
    "url string, found boolean, tl_x int, tl_y int, tr_x int, tr_y int, "
    "br_x int, br_y int, bl_x int, bl_y int, out_w int, out_h int, "
    "mean_aligned double, ink_frac double, decode_error string"
)


def scan_documents(
    df: DataFrame,
    payload_col: str = "payload",
    batch_rows: int = 64,
    upscale_factor: float = 1.0,
    block_size: int = 15,
    threshold_C: float = 2.0,
    close_kernel: int = 3,
    median_ksize: int = 3,
) -> DataFrame:
    """decode -> align -> enhance per asset in Arrow-batched
    mapInPandas; one summary row per asset (recovered quad corners,
    warp output dims, aligned-gray mean, enhanced ink fraction).
    Failures are rows: decode errors carry decode_error, quad misses
    carry found=false — never task failures (matching the engines'
    error-row contract)."""
    from ocr_compare_spark.operators.multimodal import decode_image

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                rows = []
                for url, data in zip(chunk["url"], chunk[payload_col]):
                    base = {
                        "url": url, "found": False,
                        "tl_x": None, "tl_y": None, "tr_x": None, "tr_y": None,
                        "br_x": None, "br_y": None, "bl_x": None, "bl_y": None,
                        "out_w": None, "out_h": None,
                        "mean_aligned": None, "ink_frac": None, "decode_error": None,
                    }
                    if data is None:
                        base["decode_error"] = "null_payload"
                        rows.append(base)
                        continue
                    try:
                        img = decode_image(bytes(data))
                    except Exception as e:
                        base["decode_error"] = type(e).__name__
                        rows.append(base)
                        continue
                    pts = find_document_quad(to_gray(img))
                    if pts is None:
                        rows.append(base)
                        continue
                    rect = order_points(pts)
                    max_w, max_h = output_dims(rect)
                    warped = four_point_transform(img, pts)
                    enhanced = enhance(
                        warped,
                        upscale_factor=upscale_factor,
                        block_size=block_size,
                        threshold_C=threshold_C,
                        close_kernel=close_kernel,
                        median_ksize=median_ksize,
                    )
                    (tl, tr, br, bl) = rect
                    base.update({
                        "found": True,
                        "tl_x": int(tl[0]), "tl_y": int(tl[1]),
                        "tr_x": int(tr[0]), "tr_y": int(tr[1]),
                        "br_x": int(br[0]), "br_y": int(br[1]),
                        "bl_x": int(bl[0]), "bl_y": int(bl[1]),
                        "out_w": max_w, "out_h": max_h,
                        "mean_aligned": float(to_gray(warped).mean()),
                        "ink_frac": float((enhanced == 0).mean()),
                    })
                    rows.append(base)
                yield pd.DataFrame(rows)

    return df.select("url", payload_col).mapInPandas(run, SCAN_SCHEMA)
