"""Extraction operator: pages table -> per-(url, engine) canonical results.

This is the Spark lifecycle equivalent of the reference's
``execute_ocr`` orchestration (/root/reference/src/ocrtool/
ocr_impls/ocr_executor.py:122-183): one Arrow-vectorized pandas UDF
(the only Python boundary, ≈ the reference's process/network boundary
to tesseract/GDAI) sends each payload to its engines by magic bytes
(the %PDF check of page_count.py:6-16) and quarantines failures as
error docs — all in ``_parse_payload`` — then flatten.

One walker, ``_walk``, flattens a parsed document's layout tree: it
renders ``doc_text`` with the reference separators EXACTLY
(ocr_schema.py:85,102,119,147,182,198), aggregates the confidences,
and appends one entry per word span to per-column lists. The nested
``spans`` array of ``doc_to_result`` and the flat rows of
``extract_spans_stream`` are both built from those lists, so the span
table rebuilds the document text byte-identically on either path
(operators/assemble.py proves it).
"""

from __future__ import annotations

import json
from itertools import accumulate

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ocr_compare_spark.engines.base import EngineSpec, ParsedDoc, create_engine, is_pdf_bytes
from ocr_compare_spark.engines.density import density_from_raws
from ocr_compare_spark.engines.dom_heuristic import dom_from_raws
from ocr_compare_spark.engines.html_tree import segment_html
from ocr_compare_spark.operators.adaptive import spread_to
from ocr_compare_spark.schema import (
    EXTRACT_RESULT_TYPE,
    SEP_BLOCK,
    SEP_DOCUMENT,
    SEP_PAGE,
    SPAN_FIELDS,
)
from ocr_compare_spark.synth import LINE_WORDS

# Native predicate: payload is a PDF (≈ is_pdf, page_count.py:6-16).
# Stays JVM-side — no UDF for routing. coalesce(.., false) so NULL
# payloads route to the HTML engines (which quarantine them as
# null_payload error rows) instead of silently vanishing.
IS_PDF_EXPR = "coalesce(substring(html, 1, 4) = X'25504446', false)"


def _cell_flat(cell) -> str:
    """One-line rendering of a cell for row framing: '\\n' between
    paragraph runs flattens to ' ' (a '\\n' inside a one-line framed
    row would be ill-formed); structured run-list cells (Cell.blocks
    — in-cell blocks / inner tables, see engines.html_tree.RawBlock)
    flatten their runs with the same ' '."""
    if isinstance(cell, str):
        return cell.replace("\n", " ")
    return " ".join(txt for _path, _kind, txt in cell)


def _cell_runs(cell) -> list[tuple]:
    """Normalize a cell to its ordered run list
    [(cell_path | None, kind | None, run_text)] — plain string cells
    split on '\\n' (paragraph runs), structured cells pass through."""
    if isinstance(cell, str):
        return [(None, None, cp) for cp in (cell.split("\n") if cell else [""])]
    return cell if cell else [(None, None, "")]


def table_markdown(rows: list[list[str]], has_header: bool = True) -> str:
    """Markdown-lite table rendering.

    The reference renders tables via pandas ``to_markdown``
    (ocr_schema.py:315-322, needs tabulate which this environment
    lacks), with a TSV ``raw_text`` fallback (ocr_schema.py:324-334).
    We define our own fixed markdown-lite format — deterministic and
    library-free. Row 0 renders as header (with a '---' separator
    row) ONLY when ``has_header`` — reference ``Table.header`` is
    Optional (ocr_schema.py:280-339); a headerless table is all body
    rows. Multi-paragraph cells (Cell.blocks) flatten with ' ' so
    the one-line-per-row markdown contract holds.
    """
    if not rows:
        return ""
    flat = [[_cell_flat(c) for c in r] for r in rows]
    out = []
    body = flat
    if has_header:
        header, body = flat[0], flat[1:]
        out.append("| " + " | ".join(header) + " |")
        out.append("| " + " | ".join("---" for _ in header) + " |")
    for r in body:
        out.append("| " + " | ".join(r) + " |")
    return "\n".join(out)


def word_confidence(base: float, i: int) -> float:
    """Deterministic per-word confidence: the engine base minus a
    cyclic penalty on the document-global word ordinal ``i``.
    Synthetic stand-in for the reference's per-word ``conf / 100``
    (tesseract_executor.py:183) — varies per node but stays a
    closed-form function of (engine, ordinal) so the SQL oracle can
    recompute every level of the hierarchy."""
    return base - (i % 10) / 100.0


def _cyc_prefix(i: int) -> int:
    """sum of (k % 10) for k in [0, i)."""
    q, m = divmod(i, 10)
    return 45 * q + m * (m - 1) // 2


def line_confidence(base: float, start: int, n: int) -> float:
    """Mean word confidence of a line of ``n`` words starting at
    document-global ordinal ``start`` — closed form
    base - sum(ordinal % 10) / (100 * n). The integer sum is exact,
    so this is both O(1) per line (no per-word Python on the hot
    path) and float-stable (single division; the SQL oracle computes
    the bit-identical expression)."""
    return base - (_cyc_prefix(start + n) - _cyc_prefix(start)) / (100.0 * n)


def _mean(xs: list[float]) -> float | None:
    return sum(xs) / len(xs) if xs else None


def table_raw_text(rows: list[list[str]]) -> str:
    """TSV fallback rendering — the reference's ``raw_text`` variant
    (ocr_schema.py:324-334: cells joined by '\\t', rows by '\\n'),
    used when the markdown renderer is unavailable. Multi-paragraph
    cells flatten with ' ' (a '\\n' inside a cell would corrupt the
    row framing)."""
    return "\n".join("\t".join(_cell_flat(c) for c in r) for r in rows)


def _dfs_paras(blk) -> list[list[str]]:
    """Leaf paragraphs of a block subtree in DFS element order (used
    to size the uniform char width for PDF word boxes; PDF blocks are
    flat single-para, but the recursion keeps the math honest for
    nested blocks too)."""
    out: list[list[str]] = []
    for kind, payload in blk.iter_elements():
        if kind == "para":
            out.append(payload)
        elif kind == "block":
            out.extend(_dfs_paras(payload))
    return out


#: the span columns a word's position, box, confidence and property
#: bag fill; every other SPAN_FIELDS column is structure (ordinals,
#: paths, text) and costs no per-word math
_GEOMETRY = ("char_start", "char_end", "bbox", "confidence", "extra")


def _walk(parsed: ParsedDoc, base_conf: float, cols: dict | None) -> dict:
    """Walk an error-free ParsedDoc once: render its text, count its
    nodes and aggregate its confidence, and append one entry per word
    span to each per-column list in ``cols`` (nothing when ``cols`` is
    None). The structural columns are always filled; the _GEOMETRY
    columns only when ``cols`` holds them. Returns the doc-level
    fields of an EXTRACT_RESULT_TYPE row.

    Renders the RECURSIVE element tree (reference Block.elements:
    List[Table|Paragraph|Block], ocr_schema.py:130-167): a block's
    elements join with SEP_BLOCK at every nesting level, paragraphs
    render their words ' '-joined with char offsets per word, in lines
    of LINE_WORDS words (line_no, line confidence), tables render
    markdown. Spans carry `elem_path` (element-
    ordinal path from the page to the word's paragraph) so the
    flattened table round-trips the recursion (see schema.py).

    Confidence is aggregated exactly like the reference: line = mean
    of word confs, paragraph = mean of lines, block = mean of its
    ELEMENTS (recursively — a nested block contributes its own mean),
    page = mean of blocks, document = mean of pages
    (tesseract_executor.py:210-325 mean-of-means, not a flat mean).
    Pages with no words contribute nothing (reference skips empty
    pages when averaging)."""
    parts: list[str] = []
    off = widx = n_blocks = n_tables = n_words = 0
    geo = cols is not None and _GEOMETRY[0] in cols
    if cols is not None:
        # the structural columns in SPAN_FIELDS order, line_no,
        # word_no and text aside: constant over a run of words
        const_cols = [
            cols[f.name] for f in SPAN_FIELDS
            if f.name not in _GEOMETRY + ("line_no", "word_no", "text")
        ]
        line_col, word_col, text_col = cols["line_no"], cols["word_no"], cols["text"]
    if geo:
        start_col, end_col, bbox_col, conf_col, extra_col = (cols[c] for c in _GEOMETRY)

    def emit(s: str) -> None:
        nonlocal off
        parts.append(s)
        off += len(s)

    def run(words, line_nos, word_nos, *const) -> None:
        """One span per word of ``words``, with its line_no and word_no
        from ``line_nos`` / ``word_nos``; page_no, block_no, block_type,
        elem_path, para_no, row_no, column_no, table_no, row_type and
        cell_path from ``const``, one value for every word."""
        n = len(words)
        for col, v in zip(const_cols, const):
            col.extend([v] * n)
        line_col.extend(line_nos)
        word_col.extend(word_nos)
        text_col.extend(words)

    def render_table(rows, has_header, path, page_no, bbox, extra):
        """Emit spans for one table element, return its confidence
        contribution (a single pseudo-line over its words). row_type
        marks HeaderRow vs BodyRow (ocr_schema.py:280-339); cell
        paragraph runs (split on '\\n' — Cell.blocks) get para_no
        WITHIN the cell. ``extra`` rides on the element's FIRST span
        only (a per-node property bag duplicated onto every word is
        pure Arrow weight)."""
        nonlocal n_tables, n_words, widx
        n_tables += 1
        tbl_start = widx
        first = len(extra_col) if geo else 0
        for ri, row in enumerate(rows):
            rtype = "HEADER" if (has_header and ri == 0) else "BODY"
            for ci, cell in enumerate(row):
                for cpi, (cpath, ckind, cp) in enumerate(_cell_runs(cell)):
                    # Empty cell: placeholder span so the assemble
                    # cascade keeps the column and sizes the '---'
                    # separator row from the true header width
                    # (byte-identical round-trip for <td></td>).
                    words = cp.split() or [""]
                    n = 0 if words == [""] else len(words)  # real words
                    if cols is not None:
                        run(words, [ri] * len(words), range(len(words)), page_no, path[0],
                            "TABLE", path, cpi, ri, ci, n_tables - 1, rtype,
                            list(cpath) if cpath is not None else None)
                    if geo:
                        start_col.extend([None] * len(words))
                        end_col.extend([None] * len(words))
                        bbox_col.extend([bbox] * len(words))
                        conf_col.extend(
                            [word_confidence(base_conf, widx + i) for i in range(n)] or [None]
                        )
                        e = extra if len(extra_col) == first else None
                        if ckind is not None:
                            # mark the run's first span with the in-cell
                            # item kind so the tree can tell an inner
                            # TABLE from an in-cell block (cell_path
                            # alone is ambiguous)
                            e = dict(e or {})
                            e["cell_item"] = ckind
                        extra_col.append(e)
                        extra_col.extend([None] * (len(words) - 1))
                    n_words += n
                    widx += n
        conf = line_confidence(base_conf, tbl_start, widx - tbl_start) if widx > tbl_start else None
        if geo and conf is not None:
            # the table ELEMENT's exact confidence rides the first
            # span's extra bag (repr round-trips the double exactly,
            # so the nested tree recovers it bit-for-bit — a float
            # mean over the stored word confs would differ in ulps
            # from this closed form)
            extra_col[first] = {**(extra_col[first] or {}), "elem_conf": repr(conf)}
        return conf

    def render_para(tokens, path, page_no, block_type, bbox, char_w, block_start, extra):
        nonlocal n_words, widx
        n = len(tokens)
        if cols is not None:
            # flat TEXT spans store NULL elem_path — it is derivably
            # [block_no, para_no] (see schema.py / with_elem_path), and
            # storing a per-word array for the overwhelmingly-flat web
            # is pure Arrow/shuffle weight
            run(tokens, [i // LINE_WORDS for i in range(n)], [i % LINE_WORDS for i in range(n)],
                page_no, path[0], block_type, path if len(path) > 2 else None, path[-1],
                None, None, None, None, None)
        line_confs = [
            line_confidence(base_conf, widx + i, min(LINE_WORDS, n - i))
            for i in range(0, n, LINE_WORDS)
        ]
        if geo and tokens:
            # words are ' '-separated across line breaks too
            starts = list(accumulate([len(w) + 1 for w in tokens[:-1]], initial=off))
            start_col.extend(starts)
            end_col.extend([o + len(w) for o, w in zip(starts, tokens)])
            bbox_col.extend([None] * n if bbox is None else [
                {
                    "left": bbox["left"] + char_w * (o - block_start),
                    "top": bbox["top"],
                    "width": char_w * len(w),
                    "height": bbox["height"],
                }
                for o, w in zip(starts, tokens)
            ])
            conf_col.extend([base_conf - (i % 10) / 100.0 for i in range(widx, widx + n)])
            # each LINE's exact closed-form confidence on its first span
            # (repr round-trips the double bit-exactly for the nested
            # tree); the block's extra rides the para's first span too
            extras = [None] * n
            for li, lc in enumerate(line_confs):
                e = dict(extra or {}) if li == 0 else {}
                e["line_conf"] = repr(lc)
                extras[li * LINE_WORDS] = e
            extra_col.extend(extras)
        # SEP_PARAGRAPH == SEP_LINE == ' ', the separator between words
        emit(" ".join(tokens))
        n_words += n
        widx += n
        return _mean(line_confs)

    def render_block(blk, path, page_no):
        """Render one Block (possibly nested); returns its confidence
        (mean over element confidences, recursively) or None."""
        nonlocal n_blocks
        n_blocks += 1
        extra = bbox = char_w = None
        if geo:
            extra = {"tag": blk.tag} if blk.tag else None
            if blk.page_span is not None and blk.page_span[1] > page_no:
                # multi-page block (reference Block.page_span): the last
                # spanned page rides the block's first span so the tree
                # and the combine renumbering can consume it
                extra = dict(extra or {})
                extra["page_span_last"] = str(blk.page_span[1])
            if blk.bbox is not None:
                bbox = {
                    "left": blk.bbox[0], "top": blk.bbox[1],
                    "width": blk.bbox[2], "height": blk.bbox[3],
                }
                # Word-level bboxes (P5/P9, ≈ tesseract_executor.py
                # word boxes): derived from the block's cursor bbox
                # with a uniform char width = block_width / emitted
                # block chars — so word envelopes union back to the
                # block box exactly (see operators/geometry.py).
                leaf = _dfs_paras(blk)
                total_chars = sum(
                    sum(len(w) for w in para) + max(len(para) - 1, 0) for para in leaf
                ) + max(len(leaf) - 1, 0)  # SEP_BLOCK between elements
                char_w = bbox["width"] / total_chars if total_chars else 0.0
        block_start = off
        elem_confs: list[float] = []
        for ei, (kind, payload) in enumerate(blk.iter_elements()):
            if ei > 0:
                emit(SEP_BLOCK)
            if kind == "para":
                c = render_para(payload, path + [ei], page_no, blk.block_type, bbox, char_w, block_start, extra)
            elif kind == "block":
                c = render_block(payload, path + [ei], page_no)
            else:  # ("table", (rows, has_header))
                rows, has_header = payload
                c = render_table(rows, has_header, path + [ei], page_no, bbox, extra)
                emit(table_markdown(rows, has_header))
            if c is not None:
                elem_confs.append(c)
        return _mean(elem_confs)

    page_confs: list[float] = []
    for pi, blocks in enumerate(parsed.pages):
        if pi > 0:
            emit(SEP_DOCUMENT)
        block_confs: list[float] = []
        for bi, blk in enumerate(blocks):
            if bi > 0:
                emit(SEP_PAGE)
            bc = render_block(blk, [bi], pi + 1)
            if bc is not None:
                block_confs.append(bc)
        pagec = _mean(block_confs)
        if pagec is not None:
            page_confs.append(pagec)
    return {
        "doc_text": "".join(parts),
        "n_pages": len(parsed.pages),
        "n_blocks": n_blocks,
        "n_tables": n_tables,
        "n_words": n_words,
        "confidence": _mean(page_confs),
    }


def doc_to_result(parsed: ParsedDoc, base_conf: float, with_spans: bool = True) -> dict:
    """ParsedDoc -> one EXTRACT_RESULT_TYPE row: ``_walk``'s doc_text,
    counts and confidence, and (``with_spans``) its span columns as
    one tuple per span in SPAN_FIELDS order. An error doc has no
    text and no spans."""
    if parsed.error is not None:
        return {
            "doc_text": None, "n_pages": 0, "n_blocks": 0, "n_tables": 0,
            "n_words": 0, "confidence": None, "spans": [] if with_spans else None,
            "pages_meta": None, "native_json": None, "error": parsed.error,
        }
    cols = {f.name: [] for f in SPAN_FIELDS} if with_spans else None
    pages_meta = None
    if parsed.page_dims is not None:
        pages_meta = [
            {
                "page_no": i + 1,
                "width": d[0] if d else None,
                "height": d[1] if d else None,
            }
            for i, d in enumerate(parsed.page_dims)
        ]
    return {
        **_walk(parsed, base_conf, cols),
        "spans": list(zip(*cols.values())) if with_spans else None,
        "pages_meta": pages_meta,
        "native_json": json.dumps(parsed.native, sort_keys=True) if parsed.native else None,
        "error": None,
    }


# dom + density build on the same HTML segmentation: with both
# requested, a doc is segmented once and each engine builds its blocks
# from the shared raw blocks (2x on the hot path)
_FROM_RAWS = {"dom": dom_from_raws, "density": density_from_raws}


def _shares_segmentation(specs: list[EngineSpec]) -> bool:
    return {s.name for s in specs if s.handles == "html"} >= _FROM_RAWS.keys()


def _parse_payload(
    specs: list[EngineSpec], data, share_html: bool
) -> list[tuple[EngineSpec, ParsedDoc]]:
    """Route one payload to the engines that handle it and parse it
    with each (≈ the reference's dispatch, ocr.py:35-64 /
    ocr_executor.py:122-183): PDF magic bytes pick the 'pdf' engines,
    any other payload (a null one included) the 'html' engines, and
    'any' engines take every payload. Failures become error docs,
    never task failures (≈ page_limit_handler.py:11-59): a null
    payload is ``null_payload``, an engine exception
    ``parse_error:<Type>``."""
    if data is not None:
        data = bytes(data)
    is_pdf = data is not None and is_pdf_bytes(data)
    raws = None
    if share_html and data is not None and not is_pdf:
        try:
            raws = segment_html(data)
        except Exception:
            raws = None  # fall back to per-engine parse path
    out = []
    for spec in specs:
        if spec.handles != "any" and (spec.handles == "pdf") != is_pdf:
            continue
        try:
            if data is None:
                parsed = ParsedDoc(error="null_payload")
            elif raws is not None and spec.name in _FROM_RAWS:
                parsed = _FROM_RAWS[spec.name](raws)
            else:
                parsed = spec.parse(data)
        except Exception as e:  # quarantine, don't kill the task
            parsed = ParsedDoc(error=f"parse_error:{type(e).__name__}")
        out.append((spec, parsed))
    return out


_FUSED_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("engine", T.StringType(), False),
            T.StructField("engine_version", T.StringType(), False),
            T.StructField("r", EXTRACT_RESULT_TYPE, True),
        ]
    )
)


def make_fused_udf(engine_names: tuple[str, ...], with_spans: bool = True):
    """One pandas UDF computing ALL engines for a batch — a single
    Arrow crossing per row, one (engine, engine_version, result)
    entry per engine that handles the row (see _parse_payload)."""
    specs = [create_engine(n) for n in engine_names]
    share_html = _shares_segmentation(specs)

    @F.pandas_udf(_FUSED_TYPE)
    def fused(html: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [
                    {
                        "engine": spec.name,
                        "engine_version": spec.version,
                        "r": doc_to_result(parsed, spec.confidence, with_spans),
                    }
                    for spec, parsed in _parse_payload(specs, data, share_html)
                ]
                for data in html
            ]
        )

    return fused


def run_engines_fused(
    pages: DataFrame,
    engines: tuple[str, ...] = ("dom", "density", "pdf"),
    with_spans: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """All engines, long format: one row per (url, engine) — one
    source scan, one Arrow boundary, engines exploded.

    ``num_partitions`` spreads a few-split source below the per-row
    engine work, hash-partitioned on url (urls are unique, so the
    spread is even regardless of host skew). An input that already
    runs at least that wide is not re-shuffled: the engine work is
    partitioning-indifferent, so the output is identical either way.
    """
    if num_partitions:
        pages = spread_to(pages, num_partitions, "url")
    fused = make_fused_udf(engines, with_spans)
    return (
        pages.select(
            "url", "warc_ts", "lang", F.explode(fused(F.col("html"))).alias("e")
        )
        .select("url", "warc_ts", "lang", "e.engine", "e.engine_version", "e.r")
        .select("url", "warc_ts", "lang", "engine", "engine_version", "r.*")
    )


def run_engine(pages: DataFrame, engine_name: str, with_spans: bool = True) -> DataFrame:
    """One engine over the rows it handles. The route is a native
    filter, so off-route payloads never cross the Arrow boundary."""
    handles = create_engine(engine_name).handles
    if handles == "pdf":
        pages = pages.filter(F.expr(IS_PDF_EXPR))
    elif handles == "html":
        pages = pages.filter(~F.expr(IS_PDF_EXPR))
    return run_engines_fused(pages, (engine_name,), with_spans)


_STREAM_KEY_FIELDS = [
    T.StructField("url", T.StringType(), False),
    T.StructField("engine", T.StringType(), False),
    T.StructField("engine_version", T.StringType(), False),
]


# The column subset the assembly cascade consumes — passing this as
# ``fields`` skips the per-word geometry and the pandas/Arrow
# conversion of the heavy unused columns (bbox struct, extra map, char
# offsets, confidence) on the hot path.
ASSEMBLY_SPAN_FIELDS = (
    "page_no", "block_no", "block_type", "elem_path", "para_no",
    "line_no", "word_no", "text", "row_no", "column_no", "row_type",
)


def extract_spans_stream(
    pages: DataFrame,
    engines: tuple[str, ...] = ("dom",),
    num_partitions: int | None = None,
    *,
    fields: tuple[str, ...],
) -> DataFrame:
    """Span extraction as a FLAT row stream (mapInPandas): one output
    row per word span, identical values to
    ``spans_table(run_engines_fused(..., with_spans=True))`` — both
    come from the same ``_walk`` of each parsed doc. A doc without
    spans (an error doc or an empty page) gives one all-null span
    row, as the nested path's posexplode_outer does.

    Why it exists: the nested path serializes every span through an
    Arrow array<struct> cell — per-element, per-field object
    traversal. The walker's per-column lists become one flat pandas
    DataFrame per batch, converted COLUMN-wise, which is the hot-path
    shape for span-level pipelines (assembly, geometry, chunking) at
    10^12 docs; the nested path remains for consumers that need
    doc_text and spans in one row.

    ``fields``: the SPAN_FIELDS names to emit (plus url/engine/
    engine_version, always), all nullable: a doc without spans emits
    one null-field row. A request without _GEOMETRY columns
    (assembly's ASSEMBLY_SPAN_FIELDS) skips the per-word geometry,
    and columns not requested never cross the Arrow boundary or the
    shuffle. Values of the emitted columns do not depend on which
    others are requested."""
    specs = [create_engine(n) for n in engines]
    share_html = _shares_segmentation(specs)
    by_name = {f.name: f for f in SPAN_FIELDS}
    schema = T.StructType(
        _STREAM_KEY_FIELDS + [T.StructField(n, by_name[n].dataType, True) for n in fields]
    )
    span_cols = list(fields)
    # the walker fills every structural column, and all the geometry
    # columns when any of them is requested
    geo = not set(_GEOMETRY).isdisjoint(span_cols)
    walk_cols = [f.name for f in SPAN_FIELDS if geo or f.name not in _GEOMETRY]

    def gen(batches):
        for pdf in batches:
            out = {c: [] for c in walk_cols}
            urls: list[str] = []
            engs: list[str] = []
            vers: list[str] = []
            for url, data in zip(pdf["url"], pdf["html"]):
                for spec, parsed in _parse_payload(specs, data, share_html):
                    n = len(out["page_no"])
                    if parsed.error is None:
                        _walk(parsed, spec.confidence, out)
                    n = len(out["page_no"]) - n
                    if n == 0:
                        # error or empty doc: the one all-null row the
                        # nested path's posexplode_outer gives it
                        for col in out.values():
                            col.append(None)
                        n = 1
                    urls.extend([url] * n)
                    engs.extend([spec.name] * n)
                    vers.extend([spec.version] * n)
            cols = {"url": urls, "engine": engs, "engine_version": vers}
            cols |= {c: out[c] for c in span_cols}
            # object columns: pandas' dtype inference over the Python
            # values costs more than the Arrow conversion after it
            yield pd.DataFrame({c: pd.Series(v, dtype=object) for c, v in cols.items()})

    if num_partitions:
        pages = spread_to(pages, num_partitions, "url")
    return pages.mapInPandas(gen, schema)


def explode_symbols(spans: DataFrame) -> DataFrame:
    """Symbol-level leaf (reference ocr_schema.py:59-73: words hold
    symbols with per-symbol confidence). One row per character of
    each word span — native posexplode, no Python. Symbol confidence
    derives from the word's (the reference's tesseract symbols carry
    their own conf; ours is deterministic), char offset = the word's
    char_start + position."""
    return (
        spans.select(
            "url", "engine", "page_no", "block_no", "para_no", "line_no", "word_no",
            "char_start", "confidence",
            F.posexplode(F.split(F.col("text"), "")).alias("symbol_no", "symbol"),
        )
        .filter(F.length("symbol") > 0)
        .withColumn("char_offset", F.col("char_start") + F.col("symbol_no"))
    )


def spans_table(results: DataFrame) -> DataFrame:
    """Flattened span table: one row per word-leaf (FIXTURES.md §2)."""
    return results.select(
        "url",
        "engine",
        "engine_version",
        F.posexplode_outer("spans").alias("_pos", "s"),
    ).select("url", "engine", "engine_version", "s.*")


def with_elem_path(spans: DataFrame) -> DataFrame:
    """Materialize every span's elem_path: flat TEXT spans store NULL
    (the path is derivably [block_no, para_no]; a per-word array on
    the overwhelmingly-flat web is pure Arrow/shuffle weight at
    10^12 docs) — nested and TABLE spans carry it explicitly. Every
    elem_path consumer (assembly, tree, geometry) normalizes through
    this first."""
    return spans.withColumn(
        "elem_path",
        F.coalesce(F.col("elem_path"), F.array(F.col("block_no"), F.col("para_no"))),
    )
