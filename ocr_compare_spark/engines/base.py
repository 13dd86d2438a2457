"""Engine model + registry (≈ reference ocr_factory.py / ocr_executor.py).

A ``ParsedDoc`` is the in-UDF intermediate: an ordered list of pages,
each an ordered list of blocks; a text block holds paragraphs of
word-token lists; a table block holds rows of cell texts. The
flattened span rows and the assembled document text (reference
separators, ocr_schema.py:85-198) are derived by
``operators.extract.doc_to_result``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional


@dataclass
class Block:
    # block_type: TEXT, HEADING or TABLE (≈ ocr_schema.py LayoutElementType)
    block_type: str = "TEXT"
    # paragraphs: list of paragraphs, each a list of word tokens
    paras: list[list[str]] = field(default_factory=list)
    # tables: rows of cell texts; a cell may hold multiple paragraph
    # runs separated by '\n' (Cell.blocks, ocr_schema.py:215-238)
    rows: list[list[str]] = field(default_factory=list)
    # does row 0 render as a header row? (reference Table.header is
    # Optional[HeaderRow], ocr_schema.py:280-339)
    has_header: bool = True
    # synthetic bbox (left, top, width, height) or None
    bbox: Optional[tuple[float, float, float, float]] = None
    # source tag for the `extra` property bag (ocr_schema.py:18,27)
    tag: Optional[str] = None
    # pages this block SPANS (reference Block.page_span,
    # ocr_schema.py:136 — e.g. a GDAI table continuing onto the next
    # page). None = the owning page only. Carried into the span table
    # as the 'page_span_last' extra marker on the block's first span;
    # the combine renumbering CONSUMES it (ocr_executor.py:204-229: a
    # page whose block spans k pages takes k page numbers).
    page_span: Optional[tuple[int, int]] = None
    # ordered child ELEMENTS when the block nests (reference
    # Block.elements: List[Table|Paragraph|Block], ocr_schema.py:
    # 130-167). Entries are ('para', list[tokens]) or ('block',
    # Block); None means the flat fast path: paras (or rows for
    # TABLE) ARE the elements, in order.
    elements: Optional[list[tuple[str, object]]] = None

    def iter_elements(self) -> list[tuple[str, object]]:
        if self.elements is not None:
            return self.elements
        if self.block_type == "TABLE":
            return [("table", (self.rows, self.has_header))]
        return [("para", p) for p in self.paras]


@dataclass
class ParsedDoc:
    pages: list[list[Block]] = field(default_factory=list)
    error: Optional[str] = None
    # per-page (width, height) or None — PDF engines parse MediaBox
    # (ocr_schema.py:170-187 Page.width/height); HTML pages have none
    page_dims: Optional[list[Optional[tuple[float, float]]]] = None
    # engine-native intermediate, JSON-serializable
    # (≈ execute_ocr_original contract, ocr_executor.py:92-106)
    native: Optional[dict] = None


@dataclass(frozen=True)
class EngineSpec:
    name: str
    version: str
    # which payloads the engine accepts: 'html', 'pdf', or 'any'
    handles: str
    parse: Callable[[bytes], ParsedDoc]
    # engine BASE confidence: per-word confidence is
    # word_confidence(base, ordinal) (≈ tesseract conf/100,
    # tesseract_executor.py:183 — ours is synthetic but varies per
    # node and aggregates as mean-of-means up the tree)
    confidence: float


_REGISTRY: dict[str, EngineSpec] = {}


def register_engine(spec: EngineSpec) -> None:
    # ≈ OcrExecutorFactory.register, ocr_factory.py:14-38
    _REGISTRY[spec.name] = spec


def create_engine(name: str) -> EngineSpec:
    # ≈ OcrExecutorFactory.create, ocr_factory.py:40-47
    if name not in _REGISTRY:
        raise KeyError(f"unknown engine {name!r}; available: {sorted(_REGISTRY)}")
    return _REGISTRY[name]


def is_pdf_bytes(data: bytes) -> bool:
    # ≈ is_pdf, page_limit/page_count.py:6-16
    return data[:4] == b"%PDF"
