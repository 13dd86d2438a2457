"""From-scratch HTML block segmenter on stdlib ``html.parser``.

No lxml/bs4 in the environment (SURVEY.md section 7), so the DOM walk
is built on HTMLParser, which tolerates malformed/unclosed tags. The
output is an ordered list of *candidate blocks* with the features the
two HTML engines score on:

- token list (whitespace-normalized words, in document order)
- link_tokens: how many of those tokens sit inside <a> (link density)
- inner_tags: count of inline tags opened inside the block (tag
  density, trafilatura-style)
- skipped_boilerplate flag per block origin (whether any ancestor is
  a chrome tag: nav/header/footer/aside/...)

Tables become TABLE blocks with rows of cell texts (first row =
header, ≈ reference gdai_layout_executor.py:114-120).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser

from ocr_compare_spark.engines import html_scan

# Subtrees whose text is never content.
SKIP_TAGS = {"script", "style", "noscript", "template", "head", "svg"}
# Site chrome: the DOM-heuristic engine drops these subtrees.
CHROME_TAGS = {"nav", "header", "footer", "aside", "form", "button"}
# Tags that start/end a candidate block.
BLOCK_TAGS = {
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "article", "main", "body", "pre", "tr",
    "table", "figure", "figcaption", "dl", "dt", "dd", "hr",
}
# Tags that open a NESTED block level (reference ocr_schema.py:130-167
# Block.elements may contain Blocks). section/blockquote denote
# semantic sub-blocks; article/main/div stay transparent grouping so
# a page's top-level flow is not artificially nested.
NEST_TAGS = {"section", "blockquote"}
VOID_TAGS = {"br", "hr", "img", "meta", "link", "input", "area", "base", "col", "embed", "source", "track", "wbr"}


HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}


def cell_tokens(cell) -> list[str]:
    """Word tokens of a cell in rendering order — handles both the
    plain string form and the structured run-list form (Cell.blocks,
    see RawBlock.rows)."""
    if isinstance(cell, str):
        return cell.split()
    return [t for _path, _kind, txt in cell for t in txt.split()]


@dataclass
class RawBlock:
    tokens: list[str] = field(default_factory=list)
    link_tokens: int = 0
    inner_tags: int = 0
    in_chrome: bool = False
    is_table: bool = False
    # rows of CELLS. A plain cell is a string ('\n' between its
    # paragraph runs — <p> in <td>). A cell holding STRUCTURED
    # content (reference Cell.blocks, ocr_schema.py:215-238: blocks
    # or a whole nested table inside the cell) is a list of runs
    # (cell_path tuple | None, kind 'block'|'table'|None, run_text):
    # cell_path is the in-cell element-ordinal path (a para inside
    # in-cell containers: [item, ..., para]; an INNER table's cell at
    # grid (ri, ci): [item, ri, ci]).
    rows: list[list] = field(default_factory=list)
    # header row present? True iff the first row contains a <th> cell
    # (reference Table.header is Optional, ocr_schema.py:280-339 — the
    # old hard-coded first-row-is-header rule mis-rendered headerless
    # tables)
    has_header: bool = False
    # block tag that opened this block ('p', 'h2', ... or None for
    # untagged text runs) — engines map h1-h6 to block_type HEADING
    tag: str | None = None
    # ids of enclosing NEST_TAGS containers, outermost first — unique
    # per opened container, increasing in document order. Engines
    # rebuild the recursive block tree from these paths.
    containers: tuple[int, ...] = ()

    @property
    def text(self) -> str:
        return " ".join(self.tokens)


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[RawBlock] = []
        self._cur: RawBlock | None = None
        self._pending_tag: str | None = None
        self._skip_depth = 0
        self._chrome_depth = 0
        self._link_depth = 0
        # nesting state (section/blockquote containers)
        self._containers: list[int] = []
        self._container_seq = 0
        # table state
        self._table_depth = 0
        self._table_rows: list[list] = []
        # open-cell state (Cell.blocks): accumulated runs, the open
        # run, the in-cell container ordinal stack and per-level
        # child counters, and the inner-table capture (a <table>
        # inside an open cell)
        self._cell_runs: list[dict] | None = None
        self._run: dict | None = None
        self._cell_stack: list[int] = []
        self._cell_counts: list[int] = []
        self._inner: dict | None = None
        self._table_chrome = False
        self._table_has_header = False
        self._table_containers: tuple[int, ...] = ()

    # -- in-cell run lifecycle (Cell.blocks, ocr_schema.py:215-238) ----
    def _close_run(self) -> None:
        if self._run is not None and self._run["toks"]:
            self._cell_runs.append(self._run)
        self._run = None

    def _open_run(self) -> None:
        # lazily on first data: a block tag with no text consumes no
        # ordinal. Runs nested in in-cell containers carry their
        # structural path; top-level runs stay path-less (derivably
        # [run ordinal]). Every item at a level consumes one ordinal.
        j = self._cell_counts[-1]
        self._cell_counts[-1] += 1
        if self._cell_stack:
            self._run = {"path": tuple(self._cell_stack) + (j,), "kind": "block", "toks": []}
        else:
            self._run = {"path": None, "kind": None, "toks": []}

    # -- block lifecycle -------------------------------------------------
    def _flush(self) -> None:
        if self._cur is not None and self._cur.tokens:
            self.blocks.append(self._cur)
        self._cur = None

    def _ensure(self) -> RawBlock:
        if self._cur is None:
            self._cur = RawBlock(
                in_chrome=self._chrome_depth > 0,
                tag=self._pending_tag,
                containers=tuple(self._containers),
            )
        return self._cur

    # -- handlers ----------------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in VOID_TAGS:
            return
        if tag in SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "table":
            if self._table_depth and self._cell_runs is not None and self._inner is None:
                # INNER table inside an open cell (Cell.blocks holds
                # whole Blocks incl. nested tables) — capture its grid
                # as structured runs of the host cell
                self._close_run()
                j = self._cell_counts[-1]
                self._cell_counts[-1] += 1
                self._inner = {
                    "base": tuple(self._cell_stack) + (j,),
                    "rows": [], "cell": None, "depth": 1,
                }
                self._table_depth += 1
                return
            if self._inner is not None:
                # deeper nesting inside the inner table: flatten
                self._inner["depth"] += 1
                self._table_depth += 1
                return
            self._flush()
            self._table_depth += 1
            if self._table_depth == 1:
                self._table_rows = []
                self._table_chrome = self._chrome_depth > 0
                self._table_has_header = False
                self._table_containers = tuple(self._containers)
            return
        if self._table_depth:
            if self._inner is not None:
                if tag == "tr":
                    self._inner["rows"].append([])
                elif tag in ("td", "th"):
                    self._inner["cell"] = []
                # block/nest tags inside inner cells flatten
                return
            if tag == "tr":
                self._table_rows.append([])
            elif tag in ("td", "th"):
                self._cell_runs = []
                self._run = None
                self._cell_stack = []
                self._cell_counts = [0]
                if tag == "th" and len(self._table_rows) == 1:
                    self._table_has_header = True
            elif self._cell_runs is not None and tag in NEST_TAGS:
                # in-cell container block: opens one nesting level
                self._close_run()
                j = self._cell_counts[-1]
                self._cell_counts[-1] += 1
                self._cell_stack.append(j)
                self._cell_counts.append(0)
            elif self._cell_runs is not None and tag in BLOCK_TAGS:
                # block tag inside an open cell: start a new paragraph
                # run (Cell.blocks, ocr_schema.py:215-238)
                self._close_run()
            return
        if tag in CHROME_TAGS:
            self._flush()
            self._chrome_depth += 1
            return
        if tag in NEST_TAGS:
            self._flush()
            self._container_seq += 1
            self._containers.append(self._container_seq)
            self._pending_tag = None
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._pending_tag = tag
            return
        # inline tag inside the current block
        if tag == "a":
            self._link_depth += 1
        if self._cur is not None:
            self._cur.inner_tags += 1
        else:
            self._ensure().inner_tags += 1

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag == "table":
            if self._inner is not None:
                self._table_depth -= 1
                self._inner["depth"] -= 1
                if self._inner["depth"] == 0:
                    # finalize: one structured run per non-empty inner
                    # grid cell, path = [item, row, col]
                    base = self._inner["base"]
                    for ri, row in enumerate(self._inner["rows"]):
                        for ci, toks in enumerate(row):
                            if toks:
                                self._cell_runs.append(
                                    {"path": base + (ri, ci), "kind": "table", "toks": toks}
                                )
                    self._inner = None
                return
            if self._table_depth:
                self._table_depth -= 1
                if self._table_depth == 0:
                    blk = RawBlock(
                        in_chrome=self._table_chrome,
                        is_table=True,
                        has_header=self._table_has_header,
                        containers=self._table_containers,
                    )
                    blk.rows = [r for r in self._table_rows if r]
                    blk.tokens = [
                        t for row in blk.rows for cell in row for t in cell_tokens(cell)
                    ]
                    if blk.rows:
                        self.blocks.append(blk)
            return
        if self._table_depth:
            if self._inner is not None:
                if tag in ("td", "th") and self._inner["cell"] is not None:
                    if self._inner["rows"]:
                        self._inner["rows"][-1].append(self._inner["cell"])
                    self._inner["cell"] = None
                return
            if tag in ("td", "th") and self._cell_runs is not None:
                self._close_run()
                if self._table_rows:
                    runs = self._cell_runs
                    if all(r["path"] is None for r in runs):
                        # plain cell: legacy string form, runs joined
                        # with '\n' (paragraph runs in a cell)
                        cell = "\n".join(" ".join(r["toks"]) for r in runs)
                    else:
                        cell = [(r["path"], r["kind"], " ".join(r["toks"])) for r in runs]
                    self._table_rows[-1].append(cell)
                self._cell_runs = None
                return
            if tag in NEST_TAGS and self._cell_runs is not None:
                self._close_run()
                if self._cell_stack:
                    self._cell_stack.pop()
                    self._cell_counts.pop()
                return
            if tag in BLOCK_TAGS and self._cell_runs is not None:
                self._close_run()
            return
        if tag in CHROME_TAGS:
            self._flush()
            self._chrome_depth = max(0, self._chrome_depth - 1)
            return
        if tag in NEST_TAGS:
            self._flush()
            if self._containers:
                self._containers.pop()
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._pending_tag = None

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        words = data.split()
        if not words:
            return
        if self._table_depth:
            if self._inner is not None:
                if self._inner["cell"] is not None:
                    self._inner["cell"].extend(words)
                return
            if self._cell_runs is not None:
                if self._run is None:
                    self._open_run()
                self._run["toks"].extend(words)
            return
        blk = self._ensure()
        blk.tokens.extend(words)
        if self._link_depth:
            blk.link_tokens += len(words)

    def close(self) -> None:  # flush trailing text
        super().close()
        self._flush()


def segment_html(data: bytes) -> list[RawBlock]:
    """Parse HTML bytes into ordered candidate blocks.

    Event delivery goes through engines/html_scan.py — a fast scanner
    producing the same event stream as stdlib html.parser (~2x less
    parse CPU; see its docstring). tests/mirrors.py keeps the
    stdlib-driven path (segment_html_stdlib) as the executable
    reference; equivalence over the synth corpus + junk-markup fuzz is
    pinned in tests/test_engines.py."""
    text = data.decode("utf-8", errors="replace")
    p = _BlockParser()
    try:
        html_scan.scan(text, p)
        p._flush()
    except Exception:
        # malformed beyond the scanner's tolerance: keep what we have
        p._flush()
    return p.blocks


def build_block_tree(kept: list) -> list:
    """Rebuild the recursive block structure from kept RawBlocks and
    their container paths (reference Block.elements: List[Table|
    Paragraph|Block], ocr_schema.py:130-167).

    A RawBlock with an empty container path becomes its own top-level
    Block (one paragraph per block — the flat fast path). A RawBlock
    inside containers becomes an ELEMENT of the innermost container
    Block: a bare paragraph for plain text, a nested HEADING Block
    for h1-h6, a nested TABLE Block for tables. Containers whose
    kept children were all dropped never materialize."""
    from ocr_compare_spark.engines.base import Block

    top: list[Block] = []
    stack: list[tuple[int, Block]] = []  # (container id, its Block)
    for rb in kept:
        ids = rb.containers
        # longest common prefix of the open stack with this block's path
        k = 0
        while k < len(stack) and k < len(ids) and stack[k][0] == ids[k]:
            k += 1
        del stack[k:]
        while len(stack) < len(ids):
            cont = Block(block_type="TEXT", elements=[])
            if stack:
                stack[-1][1].elements.append(("block", cont))
            else:
                top.append(cont)
            stack.append((ids[len(stack)], cont))
        btype = "HEADING" if rb.tag in HEADING_TAGS else "TEXT"
        if stack:
            if rb.is_table:
                stack[-1][1].elements.append(
                    ("block", Block(block_type="TABLE", rows=rb.rows, has_header=rb.has_header))
                )
            elif btype == "HEADING":
                stack[-1][1].elements.append(
                    ("block", Block(block_type="HEADING", paras=[rb.tokens], tag=rb.tag))
                )
            else:
                stack[-1][1].elements.append(("para", rb.tokens))
        else:
            if rb.is_table:
                top.append(Block(block_type="TABLE", rows=rb.rows, has_header=rb.has_header))
            else:
                top.append(Block(block_type=btype, paras=[rb.tokens], tag=rb.tag))
    return top
