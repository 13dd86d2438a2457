"""Pure-Python engine tests on the FIXTURES.md §8 snippets —
no SparkSession needed (fast gate)."""

from __future__ import annotations

from ocr_compare_spark import synth
import pytest

from ocr_compare_spark.engines.base import create_engine, is_pdf_bytes
from ocr_compare_spark.engines.density import parse_density
from ocr_compare_spark.engines.dom_heuristic import parse_dom
from ocr_compare_spark.engines.pdf_stream import count_pdf_pages, parse_pdf
from ocr_compare_spark.operators.extract import doc_to_result
from tests.test_nesting_tables import span_dicts

TEXT_120 = " ".join(f"w{i}" for i in range(120))


def test_registry():
    for name in ("dom", "density", "pdf"):
        spec = create_engine(name)
        assert spec.name == name and spec.version
    with pytest.raises(KeyError):
        create_engine("tesseract")


def test_trivial_html():
    r = doc_to_result(parse_dom(b"<html><body><p>hello world</p></body></html>"), 0.9)
    assert r["doc_text"] == "hello world"
    assert r["n_pages"] == 1 and r["n_blocks"] == 1 and r["n_words"] == 2


def test_boilerplate_stripped():
    h = synth.build_html(4, TEXT_120)
    dom = doc_to_result(parse_dom(h), 0.9)
    den = doc_to_result(parse_density(h), 0.95)
    assert dom["doc_text"] == synth.expected_dom_text(TEXT_120, 4)
    assert den["doc_text"] == synth.expected_density_text(TEXT_120, 4)
    # chrome words never leak into either engine's output
    for banned in ("Home", "About", "Copyright", "Related"):
        assert banned not in dom["doc_text"]
        assert banned not in den["doc_text"]
    # promo: kept by dom, dropped by density (link-density rule)
    assert synth.PROMO_TEXT in dom["doc_text"]
    assert synth.PROMO_TEXT not in den["doc_text"]


def test_reference_separators():
    """Lock the ocr_schema.py separator discipline (word '', line ' ',
    para ' ', block '\\n', page '\\n\\n', document '\\n=====\\n')."""
    pdf = synth.build_pdf(7, " ".join(f"t{i}" for i in range(32 * 7)))  # 7 paras -> 3 pages
    r = doc_to_result(parse_pdf(pdf), 0.85)
    assert r["n_pages"] == 3
    assert r["doc_text"].count("\n=====\n") == 2
    pages = r["doc_text"].split("\n=====\n")
    assert pages[0].count("\n\n") == 2  # 3 blocks on page 1


def test_nested_table_header():
    h = (
        b"<html><body><table><tr><th>name</th><th>qty</th></tr>"
        b"<tr><td>apples</td><td>3</td></tr>"
        b"<tr><td>pears</td><td>5</td></tr></table></body></html>"
    )
    r = doc_to_result(parse_dom(h), 0.9)
    assert r["n_tables"] == 1
    assert r["doc_text"] == (
        "| name | qty |\n| --- | --- |\n| apples | 3 |\n| pears | 5 |"
    )
    cell_spans = [s for s in span_dicts(r) if s["block_type"] == "TABLE"]
    assert {(s["row_no"], s["column_no"]) for s in cell_spans} == {(0, 0), (0, 1), (1, 0), (1, 1), (2, 0), (2, 1)}


def test_malformed_html():
    r = doc_to_result(parse_dom(b"<p>alpha <b>beta</i> gamma<p>delta"), 0.9)
    assert "alpha" in r["doc_text"] and "delta" in r["doc_text"]
    assert r["error"] is None


def test_empty_document():
    r = doc_to_result(parse_dom(b""), 0.9)
    assert r["doc_text"] == "" and r["n_pages"] == 0 and r["error"] is None


def test_pdf_roundtrip_and_page_count():
    text = " ".join(f"x{i}" for i in range(32 * 5))
    pdf = synth.build_pdf(17, text)
    assert is_pdf_bytes(pdf)
    assert count_pdf_pages(pdf) == 2
    r = doc_to_result(parse_pdf(pdf), 0.85)
    assert r["doc_text"] == synth.expected_pdf_text(text)
    assert r["n_pages"] == 2


def test_pdf_escaping():
    pdf = synth.build_pdf(7, "paren ( and ) and \\ back")
    r = doc_to_result(parse_pdf(pdf), 0.85)
    assert r["doc_text"] == "paren ( and ) and \\ back"


def test_truncated_pdf_quarantined():
    r = doc_to_result(parse_pdf(b"%PDF-1.4 garbage no streams"), 0.85)
    assert r["error"] == "pdf_truncated"
    assert r["doc_text"] is None


def test_span_offsets_point_into_doc_text():
    for builder, parser in ((synth.build_html, parse_dom), (synth.build_pdf, parse_pdf)):
        payload = builder(1, TEXT_120)
        r = doc_to_result(parser(payload), 0.9)
        for s in span_dicts(r):
            if s["char_start"] is not None:
                assert r["doc_text"][s["char_start"] : s["char_end"]] == s["text"]


def test_word_bboxes_union_to_block():
    """Word bboxes partition the block horizontally: the envelope of
    the word boxes is exactly the engine's block cursor bbox."""
    from ocr_compare_spark.engines.pdf_stream import parse_pdf
    from ocr_compare_spark.operators.extract import doc_to_result
    from ocr_compare_spark import synth

    text = " ".join(f"word{i}" for i in range(40))
    res = doc_to_result(parse_pdf(synth.build_pdf(7, text)), 0.85)
    spans = [s for s in span_dicts(res) if s["bbox"] is not None]
    assert spans, "pdf spans must carry word bboxes"
    by_block = {}
    for s in spans:
        by_block.setdefault((s["page_no"], s["block_no"]), []).append(s)
    for (pg, bi), ss in by_block.items():
        boxes = [s["bbox"] for s in ss]
        left = min(b["left"] for b in boxes)
        right = max(b["left"] + b["width"] for b in boxes)
        assert left == 72.0
        assert all(b["top"] == boxes[0]["top"] and b["height"] == 12.0 for b in boxes)
        # envelope right edge = 72 + 6 * len(paragraph text)
        para_len = sum(len(s["text"]) for s in ss) + len(ss) - 1
        assert right == 72.0 + 6.0 * para_len


def test_density_keeps_short_headings():
    """Headings are exempt from the minimum-length rule (short by
    nature but main content); short non-heading fragments still drop."""
    from ocr_compare_spark.engines.density import parse_density

    html = b"<article><h2>Intro</h2><p>tiny</p><p>long enough paragraph here</p></article>"
    doc = parse_density(html)
    texts = [" ".join(b.paras[0]) for b in doc.pages[0]]
    assert "Intro" in texts            # heading kept despite 1 token
    assert "tiny" not in texts         # short TEXT block dropped
    assert any(t.startswith("long enough") for t in texts)
    types = [b.block_type for b in doc.pages[0]]
    assert "HEADING" in types


def test_parse_page_dims_scoped_and_inherited():
    """MediaBox is read from each page OBJECT (in /Kids order) and
    inherits from the /Type /Pages ancestor when a page omits it —
    not matched positionally against the whole byte stream
    (ADVICE r3: real PDFs often carry the box only on the root)."""
    from ocr_compare_spark.engines.pdf_stream import parse_page_dims

    data = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 "
        b"/MediaBox [0 0 200 400] >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 100 50] >>\nendobj\n"
    )
    assert parse_page_dims(data, 2) == [(200.0, 400.0), (100.0, 50.0)]


def test_parse_page_dims_nested_kids_tree():
    """Multi-level /Kids inheritance (VERDICT r4 #10): root Pages →
    two intermediate Pages nodes → leaf pages. The nearest ancestor's
    MediaBox wins; leaves appear in DFS /Kids document order; a box
    on an intermediate node overrides the root's for its subtree."""
    from ocr_compare_spark.engines.pdf_stream import parse_page_dims

    data = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        # root: box A, kids = two intermediate Pages nodes
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 4 "
        b"/MediaBox [0 0 200 400] >>\nendobj\n"
        # left subtree: no own box -> inherits A
        b"3 0 obj\n<< /Type /Pages /Parent 2 0 R /Kids [4 0 R 5 0 R] /Count 2 >>\nendobj\n"
        b"4 0 obj\n<< /Type /Page /Parent 3 0 R >>\nendobj\n"
        b"5 0 obj\n<< /Type /Page /Parent 3 0 R /MediaBox [0 0 100 50] >>\nendobj\n"
        # right subtree: own box B overrides A for its leaves
        b"6 0 obj\n<< /Type /Pages /Parent 2 0 R /Kids [7 0 R 8 0 R] /Count 2 "
        b"/MediaBox [0 0 300 600] >>\nendobj\n"
        b"7 0 obj\n<< /Type /Page /Parent 6 0 R >>\nendobj\n"
        b"8 0 obj\n<< /Type /Page /Parent 6 0 R /MediaBox [10 10 310 110] >>\nendobj\n"
    )
    assert parse_page_dims(data, 4) == [
        (200.0, 400.0),  # inherits root A through the boxless node 3
        (100.0, 50.0),   # own box
        (300.0, 600.0),  # inherits intermediate B
        (300.0, 100.0),  # own box (x0/y0 offsets subtracted)
    ]
    # a page-tree CYCLE must not hang the walk
    cyc = (
        b"%PDF-1.4\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /MediaBox [0 0 10 10] >>\nendobj\n"
        b"3 0 obj\n<< /Type /Pages /Kids [2 0 R 4 0 R] >>\nendobj\n"
        b"4 0 obj\n<< /Type /Page >>\nendobj\n"
    )
    assert parse_page_dims(cyc, 1) == [(10.0, 10.0)]


# --- fast scanner vs stdlib html.parser (engines/html_scan.py) ------

JUNK_CASES = [
    "<p>hello <b>world</b></p>",
    '<a href="x>y">in quotes</a>',
    "<br/><div/>x",
    "<script>if (a<b) {}</script>after",
    "<script>var s='</scriptx>'</script>tail",
    "<style>p>a{}</style>t",
    "a &amp; b &lt;p&gt; &#65;",
    "a < b", "a<b", "<", "x<", "<3 hearts",
    "</>", "</ p>x", "</p >x", "</p class='x'>y", "</ p class=x>y",
    "<!-- c -->x", "<!-- unterminated", "<!-- x > y",
    "<!DOCTYPE html><p>x</p>", "<!doctype", "<! bogus >x", "<!bogus",
    "<![CDATA[ x > y ]]>t", "<![CDATA[ x ]]", "<![if x]>t",
    "<?php echo '>' ?>t", "<?pi>t", "<?unterminated",
    "<a href=x/>y", "<a href=x/y>z</a>", "<a href='/>'>q</a>",
    "<a href=x />y", "<a href=x//>y", "<a href=x/ >y",
    "<p<q>r", "<div", "<div attr", "</p", "<em>a</em >b",
    "<a =b>x", "<a b=c=d>x", "<a b c>x", "<ab=c>x", '<a "x">y',
    '<a b="x>y', "<a b='c'd>x", '<a b=c"d>x',
    "<script src=x/>notscript", "<SCRIPT>x</SCRIPT>y",
    "<script>a</script foo>b", "<script>a</scriptx>b</script>c",
    "<script>a</script", "<style>x", "</script>solo",
    "<div foo <p>x", '<a b="x"/>y', "<a/ b>x", "<a /b>x",
    "x<!>y", "x<!--->y", "x<!---->y", "<!--a--b-->x",
    "< div>x", "<-div>x", "<0div>x",
]


def test_fast_scanner_matches_stdlib_junk():
    """Tolerance equivalence on malformed/adversarial markup: the
    scanner's RawBlocks equal html.parser's on every junk case."""
    from ocr_compare_spark.engines.html_tree import segment_html
    from tests.mirrors import segment_html_stdlib

    for s in JUNK_CASES:
        b = s.encode()
        assert segment_html(b) == segment_html_stdlib(b), repr(s)


def test_fast_scanner_matches_stdlib_corpus():
    """Full synth corpus (every HTML doc at sf0.001): identical
    candidate blocks from both parse paths — the oracle-bearing
    extraction output cannot shift."""
    import duckdb

    from ocr_compare_spark.engines.html_tree import segment_html
    from tests.mirrors import segment_html_stdlib

    rows = duckdb.sql(
        "select doc_id, text from '/root/testdata/sf0.001/documents.parquet'"
    ).fetchall()
    checked = 0
    for doc_id, text in rows:
        if synth.is_pdf_doc(doc_id):
            continue
        payload = synth.build_html(doc_id, text)
        assert segment_html(payload) == segment_html_stdlib(payload), doc_id
        checked += 1
    assert checked > 0
