"""Property-based tests (hypothesis): the pure-Python kernels hold
for arbitrary inputs, not just fixtures."""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import given, settings

from ocr_compare_spark import synth
from ocr_compare_spark.engines.density import parse_density
from ocr_compare_spark.engines.dom_heuristic import parse_dom
from ocr_compare_spark.engines.html_tree import segment_html
from ocr_compare_spark.engines.pdf_stream import parse_pdf
from ocr_compare_spark.operators.compare import (
    _codes,
    levenshtein_fast,
    levenshtein_tokens,
)
from ocr_compare_spark.operators.extract import doc_to_result

from tests.mirrors import levenshtein_np
from tests.test_metrics import lev_ref
from tests.test_nesting_tables import span_dicts

TOKEN = st.text(alphabet="abcdefghij0123456789", min_size=1, max_size=8)


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=40), st.text(max_size=40))
def test_levenshtein_matches_reference_any_unicode(a, b):
    assert levenshtein_np(_codes(a), _codes(b)) == lev_ref(a, b)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=40), st.text(max_size=40))
def test_levenshtein_bitparallel_matches_reference(a, b):
    # the hot-path Myers/Hyyrö core against BOTH independent
    # implementations (textbook cell DP + numpy row DP)
    assert levenshtein_fast(_codes(a), _codes(b)) == lev_ref(a, b)


@settings(max_examples=60, deadline=None)
@given(
    st.text(alphabet="abcd", min_size=0, max_size=300),
    st.text(alphabet="abcd", min_size=0, max_size=300),
    st.text(alphabet="xy", max_size=40),
)
def test_levenshtein_bitparallel_multiword_affixed(a, b, affix):
    # patterns > 64 elements exercise multiword bigint masks; shared
    # affixes exercise the strip fast path
    a2, b2 = affix + a + affix, affix + b + affix
    assert levenshtein_fast(_codes(a2), _codes(b2)) == levenshtein_np(_codes(a2), _codes(b2))


@settings(max_examples=100, deadline=None)
@given(st.lists(TOKEN, max_size=40), st.lists(TOKEN, max_size=40))
def test_levenshtein_tokens_matches_reference(ta, tb):
    assert levenshtein_tokens(ta, tb) == lev_ref(ta, tb)


@settings(max_examples=60, deadline=None)
@given(st.lists(TOKEN, min_size=0, max_size=200))
def test_html_roundtrip_any_token_text(tokens):
    text = " ".join(tokens)
    h = synth.build_html(12, text)
    r = doc_to_result(parse_dom(h), 0.9)
    assert r["doc_text"] == synth.expected_dom_text(text, 12)
    rd = doc_to_result(parse_density(h), 0.95)
    assert rd["doc_text"] == synth.expected_density_text(text, 12)
    for s in span_dicts(r):
        assert r["doc_text"][s["char_start"] : s["char_end"]] == s["text"]


@settings(max_examples=60, deadline=None)
@given(st.lists(TOKEN, min_size=1, max_size=300))
def test_pdf_roundtrip_any_token_text(tokens):
    text = " ".join(tokens)
    p = synth.build_pdf(7, text)
    r = doc_to_result(parse_pdf(p), 0.85)
    assert r["doc_text"] == synth.expected_pdf_text(text)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=400))
def test_segment_html_never_crashes(data):
    blocks = segment_html(data)
    for b in blocks:
        assert isinstance(b.text, str)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=400))
def test_pdf_parser_never_crashes(data):
    r = parse_pdf(b"%PDF" + data)
    assert r.error is not None or isinstance(r.pages, list)


def test_testdata_whitespace_contract():
    """ADVICE r1 #3: the synth layout contract tokenizes on ' ' while
    the engines tokenize on all whitespace — sound only when
    documents.text has no non-space whitespace. Assert it per SF."""
    import glob

    import duckdb

    for p in sorted(glob.glob("/root/testdata/sf*/documents.parquet")):
        n = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{p}') "
            "WHERE regexp_matches(text, '[\\t\\n\\r\\x0b\\x0c]')"
        ).fetchone()[0]
        assert n == 0, f"{p}: {n} docs with non-space whitespace"


# -- Cell.blocks fuzz (r4): random in-cell structure ------------------

CELL_ITEM = st.one_of(
    # plain paragraph run
    st.lists(TOKEN, min_size=1, max_size=4).map(lambda t: ("p", t)),
    # block-in-cell (blockquote/section wrapping a paragraph)
    st.tuples(
        st.sampled_from(["blockquote", "section"]),
        st.lists(TOKEN, min_size=1, max_size=4),
    ).map(lambda x: ("nest", x)),
    # inner table (1-2 rows x 1-2 cols of single tokens)
    st.lists(
        st.lists(TOKEN, min_size=1, max_size=2), min_size=1, max_size=2
    ).map(lambda rows: ("table", rows)),
)


def _cell_html(items) -> tuple[str, list[str]]:
    """Build a <td> body from items; return (html, expected tokens in
    rendering order)."""
    parts, toks = [], []
    for kind, payload in items:
        if kind == "p":
            parts.append("<p>" + " ".join(payload) + "</p>")
            toks.extend(payload)
        elif kind == "nest":
            tag, words = payload
            parts.append(f"<{tag}><p>" + " ".join(words) + f"</p></{tag}>")
            toks.extend(words)
        else:
            rows = payload
            parts.append(
                "<table>"
                + "".join(
                    "<tr>" + "".join(f"<td>{c}</td>" for c in row) + "</tr>"
                    for row in rows
                )
                + "</table>"
            )
            toks.extend(c for row in rows for c in row)
    return "".join(parts), toks


@settings(max_examples=60, deadline=None)
@given(st.lists(CELL_ITEM, min_size=1, max_size=3), st.lists(TOKEN, min_size=1, max_size=2))
def test_cell_blocks_fuzz_byte_and_structure(items, other_cell):
    """Arbitrary in-cell structure (paragraph runs, nested blocks,
    inner tables, mixed): the rendered cell text is always the
    ' '-flattened token sequence in document order, spans carry every
    token exactly once with monotone run ordinals, and nested runs
    carry structural cell paths."""
    body, toks = _cell_html(items)
    html = (
        "<html><body><table><tr><td>"
        + body
        + "</td><td>"
        + " ".join(other_cell)
        + "</td></tr></table></body></html>"
    ).encode()
    r = doc_to_result(parse_dom(html), 0.9)
    cell_text = " ".join(toks)
    expected = f"| {cell_text} | {' '.join(other_cell)} |"
    assert r["doc_text"] == expected
    cell_spans = [
        s for s in span_dicts(r) if s["row_no"] == 0 and s["column_no"] == 0 and s["text"]
    ]
    assert [s["text"] for s in cell_spans] == toks
    # run ordinals monotone, words numbered within runs
    runs = [(s["para_no"], s["word_no"]) for s in cell_spans]
    assert runs == sorted(runs)
    # nested/table items produce structural paths; plain runs don't
    for s in cell_spans:
        if s["cell_path"] is not None:
            assert len(s["cell_path"]) >= 2
    assert r["n_words"] == len(toks) + len(other_cell)


_MARKUP_FRAG = st.sampled_from([
    "<p>", "</p>", "<div>", "</div>", "<a>", "</a>", "<a href=", "x",
    '"q"', "'q'", " ", "\n", "word", "&amp;", "&lt;", "&#65;", "&bogus;",
    "&", "<", ">", "/", "=", "<br/>", "<!--", "-->", "<!-- c -->",
    "<script>", "</script>", "<style>", "</style>", "<table>", "<tr>",
    "<td>", "</td>", "</tr>", "</table>", "<!doctype html>", "<![CDATA[",
    "]]>", "<?", "?>", "<!", "--", "<section>", "</section>", "<h2>",
    "</h2>", "<nav>", "</nav>", "a=b", "/>", "</", "<em", "class=x",
    "<li>", "</li>", "<SCRIPT>", "</SCRIPT>", "<A HREF=X>", "</A >",
])


@settings(max_examples=200, deadline=None)
@given(st.lists(_MARKUP_FRAG, min_size=1, max_size=12))
def test_fast_scanner_matches_stdlib_fuzz(frags):
    """Composed markup fragments (valid + junk): the fast scanner's
    blocks equal the stdlib html.parser reference path's."""
    from tests.mirrors import segment_html_stdlib

    data = "".join(frags).encode()
    assert segment_html(data) == segment_html_stdlib(data)
