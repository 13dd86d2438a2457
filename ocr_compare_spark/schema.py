"""Canonical schemas — the Spark mapping of the reference's layout tree.

Reference data model: a rooted ordered tree of dataclasses
(`/root/reference/src/ocrtool/canonical_ocr/ocr_schema.py:23-339`)
with per-level text separators that ARE the byte-identical spec:

    word      = ''.join(symbols)        # ocr_schema.py:85
    line      = ' '.join(words)         # ocr_schema.py:102
    paragraph = ' '.join(lines)         # ocr_schema.py:119
    block     = '\n'.join(elements)     # ocr_schema.py:147
    page      = '\n\n'.join(blocks)     # ocr_schema.py:182
    document  = '\n=====\n'.join(pages) # ocr_schema.py:198
    table row = '\t'.join(cells)        # ocr_schema.py:254

Our workhorse representation is the flattened *span table* (one row
per word-leaf with ordinal columns); the tree is recovered by
groupBy + array_sort + concat_ws (operators/assemble.py).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Per-level separators (must match reference ocr_schema.py exactly).
SEP_LINE = " "
SEP_PARAGRAPH = " "
SEP_BLOCK = "\n"
SEP_PAGE = "\n\n"
SEP_DOCUMENT = "\n=====\n"
# Input corpus table (BASELINE.json input_hint).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# BoundingBox — reference ocr_schema.py:10-15 (frozen dataclass of 4
# optional floats). HTML engines emit null; the PDF engine emits
# synthetic line boxes from the text-matrix positions.
BBOX_TYPE = T.StructType(
    [
        T.StructField("left", T.DoubleType(), True),
        T.StructField("top", T.DoubleType(), True),
        T.StructField("width", T.DoubleType(), True),
        T.StructField("height", T.DoubleType(), True),
    ]
)

# One row per word-leaf (FIXTURES.md section 2). `element_path`
# (reference gdai_convert.py:87-98) is derivable from the ordinals —
# compute with concat_ws('/') when needed, never stored.
#
# Recursion (reference Block.elements: List[Table|Paragraph|Block],
# ocr_schema.py:130-167) is encoded by `elem_path`: the element-
# ordinal path [top_block_no, e1, ..., para_elem] from the page down
# to the word's paragraph, one entry per nesting level. Because the
# block separator is '\n' at EVERY level (ocr_schema.py:147),
# rendering a top-level block is a flat '\n'-join of its paragraphs
# in LEXICOGRAPHIC elem_path order — recursion costs nothing in the
# Spark plan. STORAGE: flat TEXT spans (the overwhelming majority of
# web content) store NULL — their path is derivably
# [block_no, para_no], and a per-word array would be pure
# Arrow/shuffle weight at 10^12 docs; nested and TABLE spans carry
# it explicitly. Normalize with operators.extract.with_elem_path
# before grouping on it. `block_no` stays = elem_path[0] and
# `para_no` = elem_path[-1] (TEXT) for back-compat. (The nesting
# depth is size(elem_path)-1 — derived, never stored.)
SPAN_FIELDS = [
    T.StructField("page_no", T.IntegerType(), False),
    T.StructField("block_no", T.IntegerType(), False),
    T.StructField("block_type", T.StringType(), False),
    T.StructField("elem_path", T.ArrayType(T.IntegerType(), False), True),
    T.StructField("para_no", T.IntegerType(), False),
    T.StructField("line_no", T.IntegerType(), False),
    T.StructField("word_no", T.IntegerType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("char_start", T.LongType(), True),
    T.StructField("char_end", T.LongType(), True),
    T.StructField("bbox", BBOX_TYPE, True),
    T.StructField("confidence", T.DoubleType(), True),
    T.StructField("row_no", T.IntegerType(), True),
    T.StructField("column_no", T.IntegerType(), True),
    T.StructField("table_no", T.IntegerType(), True),
    # HEADER/BODY for table spans (reference HeaderRow/BodyRow,
    # ocr_schema.py:280-339), NULL for text spans
    T.StructField("row_type", T.StringType(), True),
    # In-cell STRUCTURAL path (reference Cell.blocks: a cell holds
    # whole Blocks — including nested tables — ocr_schema.py:215-238):
    # the element-ordinal path from the host cell down to the span's
    # immediate container. NULL for plain cell runs (path derivably
    # [para_no]) and all non-table spans. A paragraph inside an
    # in-cell block: [item, ..., para_ordinal]; a word of an INNER
    # table at grid (ri, ci): [item, ri, ci]. RENDERING never reads
    # this column — para_no stays the flat run ordinal and in-cell
    # structure flattens with ' ' at the markdown/TSV framing layer
    # (a '\n' inside a one-line framed row would be ill-formed), so
    # assembly bytes are invariant; the nested tree (operators/tree)
    # uses it to round-trip Cell.blocks and render Cell.text()'s
    # '\n' join.
    T.StructField("cell_path", T.ArrayType(T.IntegerType(), False), True),
    # `extra` property bag (reference Properties, ocr_schema.py:18,27)
    # — carried on FIRST spans only, never duplicated per word (a
    # per-node bag on every span is pure Arrow/shuffle weight):
    # element extras ('tag', the table's exact 'elem_conf') on the
    # element's first span, each LINE's exact closed-form confidence
    # ('line_conf', repr-round-tripped double) on the line's first
    # span, the in-cell item kind ('cell_item') on a nested run's
    # first span. Recover per-node with max(element_at(extra, key))
    # over the node's group.
    T.StructField("extra", T.MapType(T.StringType(), T.StringType()), True),
]
SPAN_TYPE = T.StructType(SPAN_FIELDS)

# Per-page metadata (reference Page.width/height, ocr_schema.py:
# 170-187): PDF dims parsed from MediaBox; HTML pages have none.
PAGE_META_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("page_no", T.IntegerType(), False),
            T.StructField("width", T.DoubleType(), True),
            T.StructField("height", T.DoubleType(), True),
        ]
    )
)

# Engine output: one struct per document. `doc_text` is the
# assembled text (fast path); `spans` is the canonical flattened
# tree from which assemble.py must rebuild doc_text byte-identically.
# `native_json` keeps the engine-native result (reference
# execute_ocr_original contract, ocr_executor.py:92-106).
EXTRACT_RESULT_TYPE = T.StructType(
    [
        T.StructField("doc_text", T.StringType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("n_blocks", T.IntegerType(), True),
        T.StructField("n_tables", T.IntegerType(), True),
        T.StructField("n_words", T.IntegerType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), True),
        T.StructField("pages_meta", PAGE_META_TYPE, True),
        T.StructField("native_json", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# Pairwise comparison row (FIXTURES.md section 5).
LCS_SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("a_start", T.LongType(), True),
            T.StructField("a_end", T.LongType(), True),
            T.StructField("b_start", T.LongType(), True),
            T.StructField("b_end", T.LongType(), True),
        ]
    )
)

ALIGN_RESULT_TYPE = T.StructType(
    [
        T.StructField("cer", T.DoubleType(), True),
        T.StructField("wer", T.DoubleType(), True),
        T.StructField("lcs_spans", LCS_SPAN_TYPE, True),
        # True when the pair was longer than the caller's max_align_len
        # and the metrics were computed on the capped prefixes instead
        # (SURVEY §7 hard #4: bounded DP, no SILENT truncation)
        T.StructField("capped", T.BooleanType(), False),
    ]
)

# Operational tables (FIXTURES.md section 7).
