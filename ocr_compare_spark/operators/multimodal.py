"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

Image decode/encode is REAL for uncompressed formats — BMP (24-bit)
and PNM (P5 graymap / P6 pixmap) parse to ndarrays in pure numpy
(this container has no cv2/PIL, so compressed codecs — JPEG/PNG —
remain an honest NotImplementedError routed to error ROWS, matching
the reference's import-guarded optional engines,
ocr_impls/__init__.py:5-17). Resize is a real nearest-neighbor
kernel. The Spark-side plumbing is likewise real and tested:
schemas, mime routing, Arrow-batched mapInPandas with bounded batch
sizes; non-image payloads fall back to deterministic md5 features so
downstream operators (dedup, ANN) stay exercisable on any corpus.

Reference analog: scan/document_scanner.py:21-50
(image_bytes_to_ndarray / ndarray_to_image_bytes) decodes image
bytes to ndarrays inside the scan utility — same seam, one row per
asset.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FEATURE_DIM = 16

# feature is array<double>: feature[0] is an exact closed-form md5
# value (see fake_features) and float32 would round-trip it lossily.
FEATURES_SCHEMA = (
    f"url string, mime string, n_bytes long, feature array<double>, decode_error string"
)


def _decode_bmp(data: bytes) -> np.ndarray:
    """24-bit uncompressed bottom-up BMP -> (h, w, 3) uint8 RGB.
    Rows are 4-byte aligned; the stride math is load-bearing (a bug
    reads padding bytes as pixels and the pixel-stat oracles catch
    it)."""
    if len(data) < 54:
        raise ValueError("bmp: truncated header")
    pix_off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    compression = int.from_bytes(data[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"bmp: only 24-bit uncompressed supported (bpp={bpp})")
    bottom_up = h > 0
    h = abs(h)
    stride = ((w * 3 + 3) // 4) * 4
    if len(data) < pix_off + stride * h:
        raise ValueError("bmp: truncated pixel data")
    rows = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=pix_off)
    rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit bottom-up BMP bytes."""
    arr = np.asarray(arr, dtype=np.uint8)
    h, w, ch = arr.shape
    assert ch == 3, "encode_bmp wants (h, w, 3)"
    stride = ((w * 3 + 3) // 4) * 4
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    size = 54 + stride * h
    header = (
        b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little") + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True) + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little") + (0).to_bytes(4, "little")
        + (stride * h).to_bytes(4, "little") + b"\x00" * 16
    )
    return header + body.tobytes()


def _decode_pnm(data: bytes) -> np.ndarray:
    """Binary PNM: P5 graymap -> (h, w), P6 pixmap -> (h, w, 3);
    maxval must be 255. Header = magic, whitespace-separated width /
    height / maxval with '#' comments, ONE whitespace byte, raster."""
    magic = data[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError("pnm: bad magic")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError("pnm: only maxval 255 supported")
    ch = 1 if magic == b"P5" else 3
    need = w * h * ch
    if len(data) < pos + need:
        raise ValueError("pnm: truncated raster")
    arr = np.frombuffer(data, dtype=np.uint8, count=need, offset=pos)
    return arr.reshape(h, w) if ch == 1 else arr.reshape(h, w, 3)


def encode_pnm(arr: np.ndarray) -> bytes:
    """(h, w) -> P5, (h, w, 3) -> P6 binary PNM bytes."""
    arr = np.asarray(arr, dtype=np.uint8)
    magic = b"P5" if arr.ndim == 2 else b"P6"
    h, w = arr.shape[:2]
    return magic + f"\n{w} {h}\n255\n".encode() + arr.tobytes()


def decode_image(data: bytes) -> np.ndarray:
    """Image bytes -> uint8 ndarray ((h, w) gray or (h, w, 3) RGB).
    Real pure-numpy decoders for the uncompressed formats (BMP 24-bit,
    PNM P5/P6); compressed codecs raise NotImplementedError (no
    cv2/PIL in this container) and callers turn that into an error
    ROW, never a task failure. Reference:
    scan/document_scanner.py:21-35 image_bytes_to_ndarray."""
    if data[:2] == b"BM":
        return _decode_bmp(data)
    if data[:2] in (b"P5", b"P6"):
        return _decode_pnm(data)
    raise NotImplementedError("compressed image codecs require cv2/PIL (not in this container)")


def nearest_resize(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample to (height, width) — the real resize
    kernel (pure numpy fancy indexing, vectorized)."""
    h, w = arr.shape[:2]
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return arr[ys][:, xs]


def _is_bmp(b: bytes) -> bool:
    # 'BM' alone would collide with text ("BM..." tokens); require a
    # plausible DIB header size too
    return (
        b[:2] == b"BM"
        and len(b) >= 54
        and int.from_bytes(b[14:18], "little") in (40, 108, 124)
    )


def _is_pnm(b: bytes) -> bool:
    # magic must be followed by whitespace (header grammar), which no
    # text token ("P5x...") satisfies
    return b[:2] in (b"P5", b"P6") and len(b) > 2 and b[2:3].isspace()


def is_image_magic(b: bytes) -> bool:
    return _is_bmp(b) or _is_pnm(b) or _is_compressed_image(b)


def _is_compressed_image(b: bytes) -> bool:
    return b[:3] == b"\xff\xd8\xff" or b[:8] == b"\x89PNG\r\n\x1a\n"


def fake_features(data: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for a decoder+embedder, stable across
    processes (no salted hash). feature[0] is a CLOSED-FORM value —
    the first 4 md5 bytes as uint32 / 2^32 — so an ANSI-SQL oracle
    can recompute it from the payload bytes; the remaining dims are
    md5-seeded pseudo-random (not normalized, so f0 stays exact)."""
    digest = hashlib.md5(data).digest()
    f0 = int.from_bytes(digest[:4], "big") / 2**32
    rng = np.random.default_rng(int.from_bytes(digest[4:12], "little"))
    v = rng.standard_normal(dim)
    v[0] = f0
    return v


def sniff_mime(b: bytes) -> str:
    if b[:4] == b"%PDF":
        return "application/pdf"
    if _is_bmp(b):
        return "image/bmp"
    if _is_pnm(b):
        return "image/x-portable-graymap" if b[:2] == b"P5" else "image/x-portable-pixmap"
    if b[:3] == b"\xff\xd8\xff":
        return "image/jpeg"
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return "image/png"
    return "text/html"


def pixel_features(arr: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """Real pixel statistics of a decoded image, fixed-dim:
    [mean, std, min, max, height, width, channels, 0...]. mean is an
    exact double (uint8 sum / n) so closed-form synthetic images
    oracle it bit-for-bit."""
    flat = arr.astype(np.float64)
    v = np.zeros(dim)
    v[0] = float(flat.sum() / flat.size)
    v[1] = float(flat.std())
    v[2] = float(flat.min())
    v[3] = float(flat.max())
    v[4] = float(arr.shape[0])
    v[5] = float(arr.shape[1])
    v[6] = float(arr.shape[2] if arr.ndim == 3 else 1)
    return v


def extract_media_features(df: DataFrame, payload_col: str = "html", batch_rows: int = 256) -> DataFrame:
    """mapInPandas over binary payloads -> fixed-dim feature vectors.

    Image payloads (BMP/PNM magic) DECODE FOR REAL and emit pixel
    statistics (pixel_features); compressed codecs (JPEG/PNG magic)
    become NotImplementedError rows; everything else keeps the
    deterministic md5 features (fake_features) so text/pdf corpora
    stay exercisable. Arrow batches are re-chunked to ``batch_rows``
    so a partition of large blobs never materializes as one giant
    batch (the multimodal analog of arrow.maxRecordsPerBatch). Decode
    errors become rows, not task failures."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                rows = []
                for url, data in zip(chunk["url"], chunk[payload_col]):
                    if data is None:
                        rows.append({"url": url, "mime": None, "n_bytes": 0, "feature": None, "decode_error": "null_payload"})
                        continue
                    b = bytes(data)
                    mime = sniff_mime(b)
                    try:
                        feat = pixel_features(decode_image(b)) if is_image_magic(b) else fake_features(b)
                        rows.append({"url": url, "mime": mime, "n_bytes": len(b), "feature": [float(x) for x in feat], "decode_error": None})
                    except Exception as e:
                        rows.append({"url": url, "mime": mime, "n_bytes": len(b), "feature": None, "decode_error": type(e).__name__})
                yield pd.DataFrame(rows)

    return df.select("url", payload_col).mapInPandas(run, FEATURES_SCHEMA)


RESIZE_SCHEMA = "url string, width int, height int, image binary, decode_error string"


def _fake_raster(data: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for decode+resize: an md5 keystream of
    exactly width*height bytes (1 'channel'), so output sizing, Arrow
    binary transfer and error routing are all real."""
    need = width * height
    out = bytearray()
    counter = 0
    seed = hashlib.md5(data).digest()
    while len(out) < need:
        out += hashlib.md5(seed + counter.to_bytes(4, "big")).digest()
        counter += 1
    return bytes(out[:need])


def resize_images(
    df: DataFrame, width: int = 64, height: int = 64, payload_col: str = "html", batch_rows: int = 256
) -> DataFrame:
    """Decode -> resize -> emit raster over binary image columns.
    Image payloads (BMP/PNM) decode for real and resample with the
    nearest-neighbor kernel; the output raster is the raw uint8 pixel
    bytes (h*w or h*w*3). Non-image payloads keep the deterministic
    md5 keystream raster so the plumbing stays exercisable on text
    corpora; compressed codecs become error rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                rows = []
                for url, data in zip(chunk["url"], chunk[payload_col]):
                    if data is None:
                        rows.append({"url": url, "width": width, "height": height, "image": None, "decode_error": "null_payload"})
                        continue
                    b = bytes(data)
                    try:
                        if is_image_magic(b):
                            raster = nearest_resize(decode_image(b), width, height).tobytes()
                        else:
                            raster = _fake_raster(b, width, height)
                        rows.append({"url": url, "width": width, "height": height, "image": raster, "decode_error": None})
                    except Exception as e:
                        rows.append({"url": url, "width": width, "height": height, "image": None, "decode_error": type(e).__name__})
                yield pd.DataFrame(rows)

    return df.select("url", payload_col).mapInPandas(run, RESIZE_SCHEMA)


FRAMES_SCHEMA = "url string, frame_no int, ts_ms long, frame binary, decode_error string"


def sample_frames(
    df: DataFrame,
    fps: float = 1.0,
    max_frames: int = 8,
    bytes_per_second: int = 4096,
    payload_col: str = "html",
    batch_rows: int = 64,
) -> DataFrame:
    """Video frame sampling: one OUTPUT ROW PER FRAME (the
    row-expanding mapInPandas shape a real ffmpeg-backed sampler
    needs — output cardinality differs from input, which a scalar
    pandas UDF cannot express). Duration is derived from payload size
    at ``bytes_per_second`` (decode stubbed); frames are sampled at
    1/fps intervals, capped at ``max_frames``; frame payloads are the
    deterministic fake raster keyed by (payload, frame_no)."""
    interval_ms = int(1000 / fps)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                rows = []
                for url, data in zip(chunk["url"], chunk[payload_col]):
                    if data is None:
                        rows.append({"url": url, "frame_no": 0, "ts_ms": 0, "frame": None, "decode_error": "null_payload"})
                        continue
                    b = bytes(data)
                    duration_ms = int(len(b) * 1000 / bytes_per_second)
                    n = max(1, min(max_frames, duration_ms // interval_ms + 1))
                    for i in range(n):
                        rows.append({
                            "url": url, "frame_no": i, "ts_ms": i * interval_ms,
                            "frame": _fake_raster(b + i.to_bytes(4, "big"), 16, 16),
                            "decode_error": None,
                        })
                yield pd.DataFrame(rows)

    return df.select("url", payload_col).mapInPandas(run, FRAMES_SCHEMA)

