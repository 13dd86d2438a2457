"""Oversized-document chunking: split -> extract -> renumber-combine.

Reference flow (ocr_executor.py:122-183 + page_limit/page_count.py:
37-57): if a PDF exceeds the engine's page limit, split it into
<=limit-page segments, OCR each sequentially, then combine results
by concatenating pages with a cumulative page-number offset
(_combine_ocr_results + renumbering, ocr_executor.py:185-339).

Spark-native version: the split is an ``explode`` (more, smaller work
units that parallelize instead of the reference's sequential loop —
this is the morally-flatMap of SURVEY §2.8 C3), the renumber is a
cumulative window (A10), and the combine is the standard span-table
reassembly keyed by (url, renumbered page_no) (A11).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from ocr_compare_spark.engines.pdf_stream import _STREAM_RE, count_pdf_pages


_SEGMENT_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("seg_no", T.IntegerType()),
            T.StructField("seg_pages", T.IntegerType()),
            T.StructField("seg_bytes", T.BinaryType()),
        ]
    )
)


def split_pdf_segments(data: bytes, limit: int) -> list[tuple[int, int, bytes]]:
    """≈ split_pdf_to_segments (page_count.py:37-57) for our
    uncompressed-PDF subset: regroup content streams into <=limit-page
    sub-PDFs (rebuilt with the same minimal writer layout)."""
    if data[:4] != b"%PDF":
        return [(0, 0, data)]
    streams = [s for s in _STREAM_RE.findall(data) if b"BT" in s and b"ET" in s]
    if not streams or len(streams) <= limit:
        return [(0, count_pdf_pages(data), data)]
    segs = []
    for si in range(0, len(streams), limit):
        chunk = streams[si : si + limit]
        segs.append((si // limit, len(chunk), _rebuild_pdf(chunk)))
    return segs


def _rebuild_pdf(streams: list[bytes]) -> bytes:
    n = len(streams)
    out = bytearray(b"%PDF-1.4\n")
    kids = " ".join(f"{4 + i} 0 R" for i in range(n))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode(),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for i in range(n):
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {4 + n + i} 0 R /Resources << /Font << /F1 3 0 R >> >> >>"
            ).encode()
        )
    for idx, body in enumerate(objs, start=1):
        out += f"{idx} 0 obj\n".encode() + body + b"\nendobj\n"
    for kk, s in enumerate(streams):
        out += (
            f"{4 + n + kk} 0 obj\n<< /Length {len(s)} >>\nstream\n".encode()
            + s
            + b"\nendstream\nendobj\n"
        )
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


def make_segmenter_udf(limit: int):
    @F.pandas_udf(_SEGMENT_TYPE)
    def segment(html: pd.Series) -> pd.Series:
        out = []
        for data in html:
            if data is None:
                out.append([{"seg_no": 0, "seg_pages": 0, "seg_bytes": None}])
                continue
            out.append(
                [
                    {"seg_no": s, "seg_pages": p, "seg_bytes": b}
                    for s, p, b in split_pdf_segments(bytes(data), limit)
                ]
            )
        return pd.Series(out)

    return segment


def explode_segments(pages: DataFrame, limit: int) -> DataFrame:
    """pages -> one row per (url, seg_no) with seg_bytes as the new
    payload. Non-PDF rows pass through as seg_no 0."""
    seg = make_segmenter_udf(limit)
    return (
        pages.withColumn("segs", seg(F.col("html")))
        .select("url", "warc_ts", "lang", "text", F.explode("segs").alias("s"))
        .select(
            "url",
            "warc_ts",
            "lang",
            "text",
            F.col("s.seg_no").alias("seg_no"),
            F.col("s.seg_pages").alias("seg_pages"),
            F.col("s.seg_bytes").alias("html"),
        )
    )


def layout_chunks(
    blocks: DataFrame,
    chunk_chars: int = 1000,
    sep: str = "\n\n",
    with_headings: bool = True,
) -> DataFrame:
    """RAG-style layout chunking over assembled blocks (reference
    ChunkingConfig, gdai_executor.py:191-195: chunk_size_characters=
    1000, include_ancestor_headings=True).

    Deterministic block packing: block b joins chunk
    floor(cum_chars_before_b / chunk_chars) — a closed-form rule
    (pure window expression, SQL-mirrorable) approximating greedy
    packing. Each chunk is prefixed with the most recent HEADING
    block STRICTLY BEFORE its first block (a chunk that starts with
    a heading doesn't duplicate it). Windows partition by
    (url, engine): per-document state, never a corpus-wide
    serialization point.

    Input: assemble.assemble_blocks output
    (url, engine, page_no, block_no, block_type, block_text).
    """
    w = Window.partitionBy("url", "engine").orderBy("page_no", "block_no")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    cum_before = F.coalesce(F.sum(F.length("block_text") + len(sep)).over(before), F.lit(0))
    last_heading = F.last(
        F.when(F.col("block_type") == "HEADING", F.col("block_text")), ignorenulls=True
    ).over(before)
    marked = blocks.select(
        "url", "engine", "page_no", "block_no", "block_text",
        (cum_before / chunk_chars).cast("long").alias("chunk_no"),
        last_heading.alias("heading"),
    )
    ordinal = F.struct(F.col("page_no").alias("p"), F.col("block_no").alias("b"))
    body = F.concat_ws(
        sep,
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(ordinal.alias("o"), F.col("block_text").alias("t")))
            ),
            lambda x: x.t,
        ),
    )
    # heading wrapped in a struct: min_by skips NULL values, and the
    # chunk heading must be the FIRST block's (possibly null) state,
    # not the first non-null one.
    chunks = marked.groupBy("url", "engine", "chunk_no").agg(
        body.alias("body"),
        F.min_by(F.struct(F.col("heading").alias("h")), ordinal).alias("hs"),
        F.count("*").alias("n_blocks"),
    ).withColumn("heading", F.col("hs.h")).drop("hs")
    text = (
        F.when(F.lit(with_headings) & F.col("heading").isNotNull(),
               F.concat(F.col("heading"), F.lit(sep), F.col("body")))
        .otherwise(F.col("body"))
    )
    return chunks.select(
        "url", "engine", "chunk_no", text.alias("chunk_text"), "n_blocks", "heading"
    )


def renumber_pages(seg_spans: DataFrame) -> DataFrame:
    """Cumulative page offset per (url, engine) over seg_no order —
    ≈ the reference's next_page_number running max
    (ocr_executor.py:200-240, operator A10/W4). Input: span rows
    plus seg_no and seg_pages; output: spans with global page_no."""
    w = (
        Window.partitionBy("url", "engine")
        .orderBy("seg_no")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    seg_offsets = (
        seg_spans.select("url", "engine", "seg_no", "seg_pages")
        .dropDuplicates(["url", "engine", "seg_no"])
        .withColumn("page_offset", F.coalesce(F.sum("seg_pages").over(w), F.lit(0)))
        .select("url", "engine", "seg_no", "page_offset")
    )
    return seg_spans.join(seg_offsets, ["url", "engine", "seg_no"]).withColumn(
        "page_no", (F.col("page_no") + F.col("page_offset")).cast("int")
    ).drop("page_offset")


def with_span_last(spans: DataFrame) -> DataFrame:
    """Materialize the multi-page block marker (reference
    Block.page_span, ocr_schema.py:136): ``page_span_last`` = the
    last page the span's block reaches, parsed from the block-first-
    span extra bag; NULL for single-page blocks. Idempotent."""
    if "page_span_last" in spans.columns:
        return spans
    return spans.withColumn(
        "page_span_last",
        F.element_at(F.col("extra"), F.lit("page_span_last")).cast("int"),
    )


def chunk_token_windows(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "doc_text",
    window: int = 256,
    *,
    stride: int,
) -> DataFrame:
    """Token-window chunking — the retrieval/context-window shape
    (fixed-size possibly-overlapping windows PER DOCUMENT, offsets
    kept so a retrieved chunk maps back into its source), the
    document-local complement of sampling.pack_sequences' cross-doc
    concat-and-chunk.

    Output: (id, chunk_no, tok_start, tok_end, n_tokens, chunk_text)
    — chunk_no 0-based, tok_start inclusive / tok_end exclusive in
    the doc's whitespace-token stream, chunk_text the space-joined
    window. A window starts every ``stride`` tokens (stride == window:
    disjoint; stride < window: overlapping) and is cut at the doc's
    end (shorter, never empty), so a doc of n tokens yields
    ceil(n / stride) chunks: one only when n <= stride, even if
    n < window.
    Fully native (split + sequence + posexplode + slice — zero
    shuffle, zero Python), so the plan composes into any scan.
    Empty/NULL/whitespace-only texts yield no chunks; empty edge
    tokens from leading/trailing whitespace are filtered out.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    # NULL text first: size(NULL array) is -1, which would leak a
    # garbage row through the window arithmetic (rlike not trim —
    # the whitespace-class trap)
    df = df.filter(
        F.col(text_col).isNotNull() & ~F.col(text_col).rlike(r"^\s*$")
    )
    # split(limit=-1) keeps the empty edge tokens leading/trailing
    # whitespace produces (the CLAUDE.md whitespace-class family) —
    # filter them so a newline-terminated doc can't emit a phantom
    # empty tail chunk
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != ""
    )
    # explode-first shape: bind the token array as an ATTRIBUTE below
    # the Generate, then slice it in the projection above — putting
    # the slice inside a transform() lambda would re-inline the regex
    # split per WINDOW (Catalyst does no subexpression elimination
    # inside higher-order-function lambdas; the CLAUDE.md N-lambdas
    # trap), turning a 100k-token doc into ~780 full re-splits
    base = df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
    n = F.size(F.col("_toks"))
    ex = base.select(
        "id",
        "_toks",
        F.posexplode(
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
        ).alias("chunk_no", "tok_start"),
    )
    tok_end = F.least(F.col("tok_start") + window, F.size("_toks"))
    return (
        ex.select(
            "id",
            "chunk_no",
            "tok_start",
            tok_end.alias("tok_end"),
            (tok_end - F.col("tok_start")).alias("n_tokens"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("tok_start") + 1, window), " "
            ).alias("chunk_text"),
        )
        .filter(F.col("tok_end") > F.col("tok_start"))
    )
