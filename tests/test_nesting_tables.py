"""Recursive blocks, cell content and headerless tables (reference
ocr_schema.py:130-167 Block.elements, 215-238 Cell.blocks, 280-339
Optional Table.header)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_compare_spark import synth
from ocr_compare_spark.engines.density import parse_density
from ocr_compare_spark.engines.dom_heuristic import parse_dom
from ocr_compare_spark.operators.extract import doc_to_result, run_engines_fused, spans_table
from ocr_compare_spark.schema import SPAN_FIELDS

SPAN_NAMES = [f.name for f in SPAN_FIELDS]


def span_dicts(r: dict) -> list[dict]:
    """doc_to_result's spans (tuples in SPAN_FIELDS order) keyed by name."""
    return [dict(zip(SPAN_NAMES, s)) for s in r["spans"]]


NESTED_HTML = b"""<html><body>
<p>alpha one</p>
<section><p>beta two</p>
<h2>gamma head</h2>
<blockquote><p>delta three</p></blockquote>
<p>eps four</p></section>
<p>zeta five</p>
</body></html>"""

# section elements: [beta-para(0), h2-block(1), blockquote-block(2),
# eps-para(3)]; every nesting level joins with '\n', so the section
# renders flat-joined in DFS order.
NESTED_EXPECTED = (
    "alpha one\n\nbeta two\ngamma head\ndelta three\neps four\n\nzeta five"
)


def test_nested_sections_render_and_paths():
    r = doc_to_result(parse_dom(NESTED_HTML), 0.9)
    assert r["doc_text"] == NESTED_EXPECTED
    # blocks: p(alpha), section, h2, blockquote, p(zeta) = 5
    assert r["n_blocks"] == 5
    by_word = {s["text"]: s for s in span_dicts(r)}
    # flat (depth-1) TEXT spans store NULL elem_path — derivably
    # [block_no, para_no] (schema.py storage contract); nested spans
    # carry the explicit path
    assert by_word["alpha"]["elem_path"] is None
    assert (by_word["alpha"]["block_no"], by_word["alpha"]["para_no"]) == (0, 0)
    assert by_word["beta"]["elem_path"] is None
    assert (by_word["beta"]["block_no"], by_word["beta"]["para_no"]) == (1, 0)
    assert by_word["gamma"]["elem_path"] == [1, 1, 0]  # depth 2: one container ancestor
    assert by_word["gamma"]["block_type"] == "HEADING"
    assert by_word["delta"]["elem_path"] == [1, 2, 0]
    assert (by_word["eps"]["block_no"], by_word["eps"]["para_no"]) == (1, 3)
    assert (by_word["zeta"]["block_no"], by_word["zeta"]["para_no"]) == (2, 0)
    # char anchors hold through nesting
    for s in span_dicts(r):
        assert r["doc_text"][s["char_start"] : s["char_end"]] == s["text"]


def test_nested_confidence_is_recursive_mean():
    """Block conf = mean over elements, recursively — NOT a flat word
    mean (tesseract_executor.py:210-325)."""
    from ocr_compare_spark.operators.extract import line_confidence

    r = doc_to_result(parse_dom(NESTED_HTML), 0.9)
    # words in order: alpha one | beta two | gamma head | delta three
    # | eps four | zeta five — each para is one 2-word line
    lc = [line_confidence(0.9, i * 2, 2) for i in range(6)]
    h2 = lc[2]          # heading block = its single para
    bq = lc[3]          # blockquote = its single para
    section = sum([lc[1], h2, bq, lc[4]]) / 4  # mean over 4 elements
    page = sum([lc[0], section, lc[5]]) / 3
    assert r["confidence"] == page


def test_density_flattens_nesting():
    r = doc_to_result(parse_density(NESTED_HTML), 0.95)
    # density keeps blocks flat: every kept block is top-level, text
    # joins all with '\n\n' (heading exempt from min-length rule)
    assert r["doc_text"].count("\n\n") == r["n_blocks"] - 1
    assert all(s["elem_path"] is None for s in span_dicts(r))  # flat = depth 1


CELL_HTML = b"""<html><body><table>
<tr><th>h one</th><th>h two</th></tr>
<tr><td><p>first para</p><p>second para</p></td><td>plain</td></tr>
</table></body></html>"""


def test_cell_paragraph_runs():
    """<p> inside <td> = Cell.blocks (ocr_schema.py:215-238): runs
    keep their own para_no in the spans, markdown flattens with ' '."""
    r = doc_to_result(parse_dom(CELL_HTML), 0.9)
    assert r["doc_text"] == (
        "| h one | h two |\n| --- | --- |\n| first para second para | plain |"
    )
    cell = [s for s in span_dicts(r) if s["row_no"] == 1 and s["column_no"] == 0]
    assert [(s["para_no"], s["word_no"], s["text"]) for s in cell] == [
        (0, 0, "first"), (0, 1, "para"), (1, 0, "second"), (1, 1, "para"),
    ]
    assert {s["row_type"] for s in span_dicts(r) if s["row_no"] == 0} == {"HEADER"}
    assert {s["row_type"] for s in span_dicts(r) if s["row_no"] == 1} == {"BODY"}


HEADERLESS_HTML = b"""<html><body><table>
<tr><td>a1</td><td>a2</td></tr>
<tr><td>b1</td><td>b2</td></tr>
</table></body></html>"""


def test_headerless_table_renders_all_body():
    """No <th> in row 0 -> Table.header is None: no '---' separator
    row, every row is BODY."""
    r = doc_to_result(parse_dom(HEADERLESS_HTML), 0.9)
    assert r["doc_text"] == "| a1 | a2 |\n| b1 | b2 |"
    assert {s["row_type"] for s in span_dicts(r)} == {"BODY"}


@pytest.fixture(scope="module")
def nested_pages(spark):
    rows = [
        (synth.url_of(1), None, NESTED_HTML, None, "en"),
        (synth.url_of(3), None, CELL_HTML, None, "en"),
        (synth.url_of(5), None, HEADERLESS_HTML, None, "en"),
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def test_assemble_roundtrip_nested_and_tables(spark, nested_pages):
    """The merged cascade must rebuild nested + table + headerless
    docs byte-identically from spans."""
    from ocr_compare_spark.operators.assemble import assemble_doc_text

    res = run_engines_fused(nested_pages, engines=("dom",))
    asm = assemble_doc_text(spans_table(res))
    joined = asm.join(
        res.select("url", "engine", F.col("doc_text").alias("fast")), ["url", "engine"]
    )
    assert joined.count() == 3
    assert joined.filter(F.col("doc_text") != F.col("fast")).count() == 0


def test_tree_roundtrip_nested_and_tables(spark, nested_pages):
    """The path-indexed adjacency tree must rebuild the same bytes
    and report the recursion depth."""
    from ocr_compare_spark.operators.tree import to_tree, tree_stats
    from tests.mirrors import tree_to_text

    res = run_engines_fused(nested_pages, engines=("dom",))
    tree = to_tree(spans_table(res))
    rebuilt = tree_to_text(tree)
    joined = rebuilt.join(
        res.select("url", "engine", F.col("doc_text").alias("fast")), ["url", "engine"]
    )
    assert joined.filter(F.col("doc_text") != F.col("fast")).count() == 0
    stats = {r.url: r for r in tree_stats(tree).collect()}
    assert stats[synth.url_of(1)].max_depth == 2
    assert stats[synth.url_of(3)].n_tables == 1
    # 'h one'+'h two' (4) + 'first para'+'second para' (4) + 'plain'
    assert stats[synth.url_of(3)].n_words == 9


def test_table_tsv_matches_python_renderer(spark, nested_pages):
    from ocr_compare_spark.operators.assemble import assemble_table_tsv
    from ocr_compare_spark.operators.extract import table_raw_text

    res = run_engines_fused(nested_pages, engines=("dom",))
    got = {r.url: r.raw_text for r in assemble_table_tsv(spans_table(res)).collect()}
    assert got[synth.url_of(3)] == table_raw_text(
        [["h one", "h two"], ["first para\nsecond para", "plain"]]
    )
    assert got[synth.url_of(5)] == table_raw_text([["a1", "a2"], ["b1", "b2"]])


def test_page_dims_parsed_from_mediabox():
    from ocr_compare_spark.engines.pdf_stream import parse_pdf

    pdf = synth.build_pdf(7, " ".join(f"w{i}" for i in range(200)))
    r = parse_pdf(pdf)
    assert r.page_dims and all(d == (612.0, 792.0) for d in r.page_dims)
    out = doc_to_result(r, 0.85)
    assert out["pages_meta"][0] == {"page_no": 1, "width": 612.0, "height": 792.0}
    assert len(out["pages_meta"]) == out["n_pages"]


def test_table_records_as_dataframe_analog(spark, nested_pages):
    """Reference Table.as_dataframe() analog: body rows keyed by
    header names (or positional c0.. for headerless tables)."""
    from ocr_compare_spark.operators.assemble import table_records

    res = run_engines_fused(nested_pages, engines=("dom",))
    recs = table_records(spans_table(res)).collect()
    by_url = {}
    for r in recs:
        by_url.setdefault(r.url, []).append((r.row_no, dict(r.record)))
    hdr = sorted(by_url[synth.url_of(3)])
    assert hdr == [(1, {"h one": "first para second para", "h two": "plain"})]
    hl = sorted(by_url[synth.url_of(5)])
    assert hl == [(0, {"c0": "a1", "c1": "a2"}), (1, {"c0": "b1", "c1": "b2"})]


def test_flat_span_stream_equals_nested(spark, nested_pages):
    """extract_spans_stream (flat mapInPandas, columnar Arrow) must
    produce byte-identical assembly to the nested array<struct>
    path, nesting and tables included."""
    from ocr_compare_spark.operators.assemble import assemble_doc_text
    from ocr_compare_spark.operators.extract import extract_spans_stream

    res = run_engines_fused(nested_pages, engines=("dom",))
    a = assemble_doc_text(spans_table(res))
    b = assemble_doc_text(
        extract_spans_stream(nested_pages, engines=("dom",), fields=tuple(SPAN_NAMES))
    )
    j = a.join(b.select("url", "engine", F.col("doc_text").alias("b")), ["url", "engine"])
    assert j.count() == 3
    assert j.filter(F.col("doc_text") != F.col("b")).count() == 0


def _parity_pages(spark):
    """Error, empty, table, nested and PDF payloads in one frame, plus a
    synth corpus slice covering flat, nested (%10==2), table (%10==4),
    headerless-table (%20==14), cell-nesting (%40==24) and PDF docs."""
    from ocr_compare_spark.schema import PAGES_SCHEMA

    payloads = [
        ("u_ok", b"<html><body><p>hello world</p></body></html>"),
        ("u_null", None),
        ("u_empty", b""),
        ("u_trunc", b"%PDF truncated"),
        ("u_unclosed", b"<html><body><p>unclosed <b>tag"),
        ("u_table", CELL_HTML),
        ("u_nested", NESTED_HTML),
        ("u_pdf", synth.build_pdf(7, " ".join(f"w{i}" for i in range(40)))),
    ]
    text = " ".join(f"w{i}" for i in range(120))
    for doc_id in list(range(0, 50)) + [64, 84, 104, 114, 134]:
        build = synth.build_pdf if synth.is_pdf_doc(doc_id) else synth.build_html
        payloads.append((f"u_synth{doc_id}", build(doc_id, text)))
    rows = [(u, None, h, None, "en") for u, h in payloads]
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)


def _sorted_rows(df, cols):
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def test_span_stream_emits_null_row_for_error_docs(spark):
    """Stream-path parity on error corpora (ADVICE r3) and on every
    synth doc shape: the flat stream emits the nested path's spans
    value for value — for every engine, on the full, the structural
    (no geometry) and a one-column geometry request — including the
    one null-field row the nested path's posexplode_outer gives a doc
    without spans (error or empty), not silently dropping it."""
    from ocr_compare_spark.operators.extract import (
        ASSEMBLY_SPAN_FIELDS,
        extract_spans_stream,
    )

    engines = ("dom", "density", "pdf")
    pages = _parity_pages(spark)
    nested = spans_table(run_engines_fused(pages, engines=engines)).cache()
    for fields in (tuple(SPAN_NAMES), ASSEMBLY_SPAN_FIELDS, ("confidence",)):
        stream = extract_spans_stream(pages, engines=engines, fields=fields)
        cols = stream.columns
        assert _sorted_rows(stream, cols) == _sorted_rows(nested, cols)
    # ... and so holds the null rows the nested path has
    got = {(r.url, r.engine, r.text) for r in nested.select("url", "engine", "text").collect()}
    assert ("u_null", "dom", None) in got
    assert ("u_trunc", "pdf", None) in got
    assert ("u_empty", "density", None) in got
    nested.unpersist()


def test_run_engine_equals_fused_single_engine(spark):
    """run_engine's native route filter selects exactly the rows the
    fused UDF routes to that engine, null payloads included."""
    from ocr_compare_spark.operators.extract import run_engine

    pages = _parity_pages(spark)
    for e in ("dom", "density", "pdf"):
        a = run_engine(pages, e)
        b = run_engines_fused(pages, (e,))
        assert _sorted_rows(a, a.columns) == _sorted_rows(b, a.columns)
    nulls = run_engine(pages, "dom").filter(F.col("url") == "u_null")
    assert [r.error for r in nulls.collect()] == ["null_payload"]


def test_span_stream_field_subset_assembles_identically(spark, nested_pages):
    """The assembly-column subset emission (bench hot path) must
    assemble byte-identically to the full emission — the skipped
    columns (bbox, extra, offsets, confidence) are dead weight for
    the cascade, not inputs."""
    from ocr_compare_spark.operators.assemble import assemble_doc_text
    from ocr_compare_spark.operators.extract import (
        ASSEMBLY_SPAN_FIELDS,
        extract_spans_stream,
    )

    full = assemble_doc_text(
        extract_spans_stream(nested_pages, engines=("dom",), fields=tuple(SPAN_NAMES))
    )
    slim = assemble_doc_text(
        extract_spans_stream(nested_pages, engines=("dom",), fields=ASSEMBLY_SPAN_FIELDS)
    )
    j = full.join(
        slim.select("url", "engine", F.col("doc_text").alias("b")), ["url", "engine"]
    )
    assert j.count() == 3
    assert j.filter(F.col("doc_text") != F.col("b")).count() == 0


CELLNEST_HTML = b"""<html><body><table>
<tr><th>k</th><th>v</th></tr>
<tr><td><blockquote><p>w0</p></blockquote></td>
<td><table><tr><td>w1</td></tr></table></td></tr>
<tr><td>w2</td><td>w3</td></tr>
</table></body></html>"""

CELLNEST_FLAT_HTML = b"""<html><body><table>
<tr><th>k</th><th>v</th></tr>
<tr><td>w0</td><td>w1</td></tr>
<tr><td>w2</td><td>w3</td></tr>
</table></body></html>"""


def test_cell_blocks_full_nesting_byte_invariant():
    """Full Cell.blocks (ocr_schema.py:215-238): a BLOCK inside cell
    (1,0) and an INNER TABLE inside cell (1,1) render byte-identically
    to the flat form (in-cell structure flattens with ' ' at the
    one-line framing), while the spans carry the structural cell_path
    and a kind marker on each nested run's first span."""
    r = doc_to_result(parse_dom(CELLNEST_HTML), 0.9)
    flat = doc_to_result(parse_dom(CELLNEST_FLAT_HTML), 0.9)
    assert r["doc_text"] == flat["doc_text"] == (
        "| k | v |\n| --- | --- |\n| w0 | w1 |\n| w2 | w3 |"
    )
    strip = lambda s: {k: v for k, v in s.items() if k not in ("cell_path", "extra")}  # noqa: E731
    assert [strip(s) for s in span_dicts(r)] == [strip(s) for s in span_dicts(flat)]
    by_word = {s["text"]: s for s in span_dicts(r)}
    # block-in-cell: path [item 0 of the cell, para 0 within it]
    assert by_word["w0"]["cell_path"] == [0, 0]
    assert by_word["w0"]["extra"]["cell_item"] == "block"
    # inner table: path [item 0, inner row 0, inner col 0]
    assert by_word["w1"]["cell_path"] == [0, 0, 0]
    assert by_word["w1"]["extra"]["cell_item"] == "table"
    # plain cells stay path-less
    assert by_word["w2"]["cell_path"] is None and by_word["w3"]["cell_path"] is None
    assert by_word["k"]["cell_path"] is None
    # counts identical: no extra blocks/tables/words from the nesting
    for k in ("n_blocks", "n_tables", "n_words", "confidence"):
        assert r[k] == flat[k]


def test_cell_blocks_synth_bucket_end_to_end(spark):
    """The doc_id%40==24 synth bucket: byte-identical extraction vs
    the closed form, assembly + tree roundtrips, and the tree's
    Cell.blocks stats (n_cell_nested=2, max_cell_depth=3) plus the
    reference Cell.text() '\\n' join (text_nl) in the cell structs."""
    import tempfile

    from ocr_compare_spark.operators.assemble import assemble_doc_text
    from ocr_compare_spark.operators.tree import to_tree, tree_stats
    from tests.mirrors import tree_to_text

    text = " ".join(f"w{i}" for i in range(40))
    d = tempfile.mkdtemp(prefix="cellnest_docs_")
    spark.createDataFrame(
        [(24, text, "en"), (4, text, "en")], "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    pages = synth.pages_from_documents(spark, d)
    res = run_engines_fused(pages, engines=("dom",))
    got = {r.url: r.doc_text for r in res.collect()}
    assert got[synth.url_of(24)] == synth.expected_dom_text(text, doc_id=24)
    # same tokens -> the nested-cell doc renders the same bytes as
    # the flat table doc
    assert got[synth.url_of(24)] == got[synth.url_of(4)]
    sp = spans_table(res)
    asm = {r.url: r.doc_text for r in assemble_doc_text(sp).collect()}
    assert asm == got
    tree = to_tree(sp)
    t2t = {r.url: r.doc_text for r in tree_to_text(tree).collect()}
    assert t2t == got
    stats = {r.url: r for r in tree_stats(tree).collect()}
    assert stats[synth.url_of(24)].n_cell_nested == 2
    assert stats[synth.url_of(24)].max_cell_depth == 3
    assert stats[synth.url_of(4)].n_cell_nested == 0
    assert stats[synth.url_of(4)].max_cell_depth == 0
    doc = tree.filter(F.col("url") == synth.url_of(24)).select("document").first()[0]
    cells = [
        c
        for p in doc["pages"]
        for b in p["blocks"]
        if b["rows"]
        for r in b["rows"]
        for c in r["cells"]
    ]
    assert [c["text"] for c in cells] == ["k", "v", "w0", "w1", "w2", "w3"]
    kinds = [(i["cell_path"], i["kind"]) for c in cells for i in c["items"] if i["nested"]]
    assert kinds == [([0, 0], "block"), ([0, 0, 0], "table")]


def test_cell_text_nl_join_multi_run(spark, nested_pages):
    """Cell.text() semantics in the tree: paragraph runs inside one
    cell join with '\\n' in text_nl while the framing text stays
    ' '-flattened (ocr_schema.py:215-238)."""
    from ocr_compare_spark.operators.tree import to_tree

    res = run_engines_fused(nested_pages, engines=("dom",))
    tree = to_tree(spans_table(res))
    doc = tree.filter(F.col("url") == synth.url_of(3)).select("document").first()[0]
    cells = {
        (b["block_no"], r["row_no"], c["column_no"]): c
        for p in doc["pages"]
        for b in p["blocks"]
        if b["rows"]
        for r in b["rows"]
        for c in r["cells"]
    }
    multi = [c for c in cells.values() if len(c["items"]) > 1][0]
    assert multi["text"] == "first para second para"
    assert multi["text_nl"] == "first para\nsecond para"


def test_tree_structs_carry_confidence_and_bbox(spark):
    """r4: nested tree structs are self-contained — every block/page
    carries its recursive mean-of-means confidence (bit-identical to
    the engines' doc-level fold) and its word-bbox envelope (PDF),
    matching operators.geometry.bbox_envelopes exactly."""
    import tempfile

    from ocr_compare_spark.operators.geometry import bbox_envelopes
    from ocr_compare_spark.operators.tree import to_tree, tree_stats

    text = " ".join(f"w{i}" for i in range(60))
    d = tempfile.mkdtemp(prefix="treeconf_docs_")
    spark.createDataFrame(
        [(7, text, "en"), (2, " ".join(f"n{i}" for i in range(100)), "en"), (24, text, "en")],
        "doc_id long, text string, lang string",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    pages = synth.pages_from_documents(spark, d)
    res = run_engines_fused(pages).cache()
    sp = spans_table(res)
    tree = to_tree(sp)
    # doc confidence from the tree == the engines' (bit-exact, all
    # engines incl. the pdf doc, the nested doc and the cellnest doc)
    j = tree_stats(tree).join(
        res.select("url", "engine", F.col("confidence").alias("want")), ["url", "engine"]
    )
    assert j.count() == 5
    assert j.filter(F.col("doc_confidence") != F.col("want")).count() == 0
    # block bbox envelopes in the tree == geometry.bbox_envelopes
    env = {
        (r.url, r.page_no, r.block_no): (r.left, r.top, r.width, r.height)
        for r in bbox_envelopes(sp.filter(F.col("engine") == "pdf"), "block").collect()
    }
    doc = tree.filter(F.col("engine") == "pdf").select("url", "document").first()
    got = {}
    page_confs = []
    for p in doc.document["pages"]:
        page_confs.append(p["conf"])
        assert p["bbox"] is not None  # page envelope present
        for b in p["blocks"]:
            got[(doc.url, p["page_no"], b["block_no"])] = (
                b["bbox"]["left"], b["bbox"]["top"], b["bbox"]["width"], b["bbox"]["height"],
            )
            assert b["conf"] is not None
    assert got == env
    assert all(c is not None for c in page_confs)
    # HTML docs: no word boxes -> null envelopes, confidences present
    hdoc = tree.filter(F.col("engine") == "dom").select("document").first()[0]
    for p in hdoc["pages"]:
        assert p["bbox"] is None and p["conf"] is not None
        for b in p["blocks"]:
            assert b["bbox"] is None and b["conf"] is not None


def test_multi_page_span_blocks_representable(spark):
    """Reference Block.page_span (ocr_schema.py:136): a block declared
    to span pages carries page_span=(first, last) in the tree."""
    from ocr_compare_spark.engines.base import Block, ParsedDoc
    from ocr_compare_spark.operators.extract import doc_to_result
    from ocr_compare_spark.operators.tree import to_tree

    parsed = ParsedDoc(pages=[
        [Block(paras=[["alpha", "beta"]], page_span=(1, 2))],  # spans 1-2
        [Block(paras=[["gamma"]])],
    ])
    r = doc_to_result(parsed, 0.9)
    by_word = {s["text"]: s for s in span_dicts(r)}
    assert by_word["alpha"]["extra"]["page_span_last"] == "2"
    rows = [("u", "eng", "v1", s) for s in span_dicts(r)]
    from ocr_compare_spark.schema import SPAN_TYPE
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("engine", T.StringType()),
            T.StructField("engine_version", T.StringType()),
            T.StructField("s", SPAN_TYPE),
        ]
    )
    spans = spark.createDataFrame(rows, schema).select(
        "url", "engine", "engine_version", "s.*"
    )
    # tree: the spanning block reports page_span (1, 2)
    doc = to_tree(spans).select("document").first()[0]
    spans_by_page = {
        p["page_no"]: [(b["page_span"]["first"], b["page_span"]["last"]) for b in p["blocks"]]
        for p in doc["pages"]
    }
    assert spans_by_page == {1: [(1, 2)], 2: [(2, 2)]}


def test_block_type_from_minimal_depth_element(spark):
    """ADVICE r4: a container whose DFS-FIRST element is a nested
    HEADING child must NOT label the whole block HEADING — the top
    block's type comes from its own minimal-depth element (min_by on
    (suffix depth, suffix)), else chunk_layout's heading carry-forward
    would treat the entire container text as a heading. Unreachable
    via the synth engines, so pinned with handcrafted spans."""
    from ocr_compare_spark.operators.assemble import assemble_blocks

    schema = (
        "url string, engine string, page_no int, block_no int, "
        "block_type string, elem_path array<int>, para_no int, "
        "word_no int, line_no int, row_no int, column_no int, "
        "row_type string, text string"
    )
    rows = [
        # nested HEADING child block (suffix [0, 0]) — first in doc order
        ("u", "e", 1, 0, "HEADING", [0, 0, 0], 0, 0, 0, None, None, None, "Head"),
        ("u", "e", 1, 0, "HEADING", [0, 0, 0], 0, 1, 0, None, None, None, "Line"),
        # the container's OWN paragraph (suffix [1], depth 1)
        ("u", "e", 1, 0, "TEXT", [0, 1], 1, 0, 0, None, None, None, "body"),
        ("u", "e", 1, 0, "TEXT", [0, 1], 1, 1, 0, None, None, None, "text"),
    ]
    spans = spark.createDataFrame(rows, schema)
    got = assemble_blocks(spans).collect()
    assert len(got) == 1
    assert got[0].block_type == "TEXT"  # NOT the DFS-first child's HEADING
    assert got[0].block_text == "Head Line\nbody text"  # doc order intact
