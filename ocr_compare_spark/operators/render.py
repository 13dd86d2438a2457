"""PDF page rasterization (SURVEY S10, reference
scan/scan-script.py:284-298 `pdf_to_png`: pdf2image renders PDF pages
to PNG files for the scanner pipeline).

No pdf2image/poppler in this container, and our corpus PDFs are the
uncompressed text-stream subset — so the render is an honest LAYOUT
rasterization, not glyph rendering: parse the PDF byte stream with
the real engine parser (engines/pdf_stream.py), then paint each text
operator's bbox as an ink rectangle on a white canvas scaled from the
parsed MediaBox. The output is a real raster (P5 graymap bytes) that
round-trips through multimodal.decode_image and composes with the
document scanner and pixel-stat features; ink geometry is exact and
closed-form testable from the corpus contract.

Spark seam: one OUTPUT ROW PER PAGE (row-expanding mapInPandas, like
sample_frames) — a 40-page PDF becomes 40 raster rows. Parse errors
become error ROWS, never task failures.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ocr_compare_spark.operators.adaptive import spread_to

RENDER_SCHEMA = (
    "url string, page_no int, width int, height int, image binary, "
    "n_ink_px long, error string"
)

DEFAULT_PAGE = (612.0, 792.0)


def rasterize_page(blocks, page_dims, scale: float) -> np.ndarray:
    """White canvas at MediaBox*scale; each block bbox (x, top, w, h)
    in PDF points becomes an ink rect [floor(x*s), ceil((x+w)*s)) x
    [floor(top*s), ceil((top+h)*s)), clipped to the canvas."""
    pw, ph = page_dims or DEFAULT_PAGE
    w = max(1, int(pw * scale))
    h = max(1, int(ph * scale))
    canvas = np.full((h, w), 255, dtype=np.uint8)
    for b in blocks:
        x, top, bw, bh = b.bbox
        xs = max(0, int(math.floor(x * scale)))
        xe = min(w, int(math.ceil((x + bw) * scale)))
        ys = max(0, int(math.floor(top * scale)))
        ye = min(h, int(math.ceil((top + bh) * scale)))
        if xe > xs and ye > ys:
            canvas[ys:ye, xs:xe] = 0
    return canvas


def render_pdf_pages(
    df: DataFrame,
    payload_col: str = "html",
    scale: float = 0.125,
    batch_rows: int = 32,
    num_partitions: int | None = None,
    pdf_only: bool = False,
) -> DataFrame:
    """PDF binary -> one P5-graymap raster row per page.

    Composes downstream exactly like the reference's pdf_to_png ->
    DocumentScanner flow: the emitted `image` bytes decode with
    multimodal.decode_image and feed scanner.scan_documents /
    extract_media_features unchanged."""
    from ocr_compare_spark.engines.pdf_stream import parse_pdf
    from ocr_compare_spark.operators.multimodal import encode_pnm

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                rows = []
                for url, data in zip(chunk["url"], chunk[payload_col]):
                    if data is None:
                        rows.append({
                            "url": url, "page_no": 0, "width": None, "height": None,
                            "image": None, "n_ink_px": None, "error": "null_payload",
                        })
                        continue
                    parsed = parse_pdf(bytes(data))
                    if parsed.error is not None:
                        rows.append({
                            "url": url, "page_no": 0, "width": None, "height": None,
                            "image": None, "n_ink_px": None, "error": parsed.error,
                        })
                        continue
                    dims = parsed.page_dims or [None] * len(parsed.pages)
                    for i, blocks in enumerate(parsed.pages):
                        canvas = rasterize_page(
                            blocks, dims[i] if i < len(dims) else None, scale
                        )
                        rows.append({
                            "url": url, "page_no": i + 1,
                            "width": canvas.shape[1], "height": canvas.shape[0],
                            "image": encode_pnm(canvas),
                            "n_ink_px": int((canvas == 0).sum()),
                            "error": None,
                        })
                yield pd.DataFrame(rows)

    src = df.select("url", payload_col)
    if pdf_only:
        # MIME-routed fast path: drop non-PDF payloads with a native
        # magic-byte filter BEFORE the Arrow hop, so on a mixed corpus
        # (~90% html at web scale) only PDF bytes ever cross into
        # Python. Null and non-PDF rows are silently dropped — use the
        # default mode when the error-row contract matters.
        src = src.filter(F.expr(f"substring({payload_col}, 1, 4) = X'25504446'"))
    if num_partitions:
        # CPU-bound-per-byte stage: pin width so AQE's size-based
        # coalescing can't starve it (same rule as run_engines_fused);
        # no payload shuffle when the input already runs that wide
        src = spread_to(src, num_partitions)
    return src.mapInPandas(run, RENDER_SCHEMA)
