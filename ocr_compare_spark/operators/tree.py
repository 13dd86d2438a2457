"""Nested canonical tree + element_path derivation (SURVEY §1.3
representation (a)).

The reference's canonical result is a rooted ordered tree of
dataclasses (/root/reference/src/ocrtool/canonical_ocr/
ocr_schema.py:23-339) — RECURSIVE: ``Block.elements`` may contain
Blocks (ocr_schema.py:130-167). Catalyst struct types are finite, so
a literally-recursive struct is unrepresentable; the Spark-idiomatic
encoding is a PATH-INDEXED ADJACENCY LIST: each page holds a flat,
lexicographically-ordered array of block structs keyed by
``block_path`` (the element-ordinal path from the page root), with
``depth`` and ``page_span`` alongside. Parents are prefixes of their
children's paths — O(1) to derive, no recursion in the plan.

Pages keep the reference's width/height slots (Page.width/height,
ocr_schema.py:170-187) as NULL; the PDF MediaBox dims are the rows
of :func:`explode_pages_meta`.

Scale shape: one repartition on (url, engine) up front, then every
groupBy key is a superset prefix — the whole cascade is
exchange-free, identical to the assembly argument.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def element_path() -> Column:
    """Slash path of a word span (gdai_convert.py:87-98 style),
    derived from ``elem_path`` so nested blocks render their full
    ancestry:

      text:  pages/{p}/blocks/{b0}[/blocks/{ei}...]/paragraphs/{pe}/lines/{l}/words/{w}
      table: pages/{p}/blocks/{b0}[...]/tables/{te}/rows/{r}/cells/{c}/paras/{cp}/words/{w}

    (0-based indices, page_no is stored 1-based)."""
    p = F.col("elem_path")
    # '/blocks/e' for every path element except the last (the last is
    # the paragraph/table element ordinal)
    mid = F.aggregate(
        F.slice(p, 1, F.size(p) - 1),
        F.lit(""),
        lambda acc, x: F.concat(acc, F.lit("/blocks/"), x.cast("string")),
    )
    text_tail = F.concat(
        F.lit("/paragraphs/"), F.element_at(p, -1).cast("string"),
        F.lit("/lines/"), F.col("line_no").cast("string"),
        F.lit("/words/"), F.col("word_no").cast("string"),
    )
    table_tail = F.concat(
        F.lit("/tables/"), F.element_at(p, -1).cast("string"),
        F.lit("/rows/"), F.col("row_no").cast("string"),
        F.lit("/cells/"), F.col("column_no").cast("string"),
        F.lit("/paras/"), F.col("para_no").cast("string"),
        F.lit("/words/"), F.col("word_no").cast("string"),
    )
    return F.concat(
        F.lit("pages/"), (F.col("page_no") - 1).cast("string"),
        mid,
        F.when(F.col("row_no").isNotNull(), table_tail).otherwise(text_tail),
    )


def _ordered_mean(arr: Column, get) -> Column:
    """Left-to-right mean over non-null values — the exact float fold
    the engines' ``_mean`` performs (``sum(xs)/len(xs)``), so derived
    confidences are bit-identical; NULL where no values."""
    acc = F.aggregate(
        arr,
        F.struct(F.lit(0.0).alias("s"), F.lit(0).alias("n")),
        lambda a, x: F.when(
            get(x).isNotNull(),
            F.struct((a.s + get(x)).alias("s"), (a.n + 1).alias("n")),
        ).otherwise(a),
    )
    return F.when(acc.n > 0, acc.s / acc.n)


def _nest(df: DataFrame, keys: list[str], ordinal, child: str, out: str) -> DataFrame:
    """Collect child structs into an ordinal-sorted array per key.
    ``ordinal`` may be a column name or a Column (e.g. an array path
    — Spark orders arrays lexicographically, which IS DFS order)."""
    o = F.col(ordinal) if isinstance(ordinal, str) else ordinal
    return df.groupBy(*keys).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(o.alias("o"), F.col(child).alias("c")))
            ),
            lambda x: x.c,
        ).alias(out)
    )


def explode_pages_meta(results: DataFrame) -> DataFrame:
    """(url, engine, page_no, width, height) rows from the engine
    results' pages_meta arrays (MediaBox dims for PDFs)."""
    return results.select(
        "url", "engine", F.explode("pages_meta").alias("m")
    ).select("url", "engine", "m.page_no", "m.width", "m.height")


def to_tree(spans: DataFrame) -> DataFrame:
    """span rows -> (url, engine, document) where document is the
    nested struct  pages: array<struct<page_no, width, height,
    blocks: array<struct<block_path, block_no, depth, block_type,
    page_span, paragraphs: array<struct<para_no, lines: array<
    struct<line_no, words: array<struct<word_no, text,
    confidence>>>>>, rows: array<struct<row_no, row_type, cells:
    array<struct<column_no, text>>>>>>>>.

    Blocks are the PATH-INDEXED ADJACENCY encoding of the recursive
    reference tree (see module docstring): one entry per block with
    direct content, ordered by block_path (lexicographic = DFS).
    TABLE blocks carry their cell grid in ``rows`` (reference
    Table/Row/Cell, ocr_schema.py:215-339; multi-paragraph cells
    flatten with ' ' — word detail stays in the span table); a table
    element always owns its block (build_block_tree wraps tables),
    so block_type is constant per block entry. page_span (reference
    Block.page_span, ocr_schema.py:136) is (owning page, last spanned
    page): blocks that CONTINUE onto later pages (engine-declared,
    e.g. a table running across pages — the 'page_span_last' marker,
    see Block.page_span in engines/base.py) carry last > first;
    everything else is (page, page).

    ONE linear cascade — no TEXT/TABLE branch over the span scan
    (two filtered branches get divergent column pruning below the
    repartition exchange and re-run extraction; the r2 assemble
    lesson). Inapplicable ordinals are constants within each group,
    so the groups are exactly the per-kind groups."""
    from ocr_compare_spark.operators.chunking import with_span_last
    from ocr_compare_spark.operators.extract import with_elem_path

    base = ["url", "engine"]
    s = with_elem_path(with_span_last(spans)).repartition(*base)

    # L1: word -> line (TEXT) / cell-paragraph run (TABLE). cell_path
    # (constant per run — Cell.blocks structure, schema.py) joins the
    # key; the run's in-cell item kind rides the `extra` bag of its
    # first span ('block' | 'table' | absent for plain runs).
    l1 = s.groupBy(
        *base, "page_no", "block_no", "block_type", "elem_path",
        "para_no", "line_no", "row_no", "column_no", "row_type", "cell_path",
    ).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("word_no").alias("o"), F.struct(
                        F.col("word_no"), F.col("text"), F.col("confidence")
                    ).alias("c"))
                )
            ),
            lambda x: x.c,
        ).alias("words"),
        F.max(F.element_at(F.col("extra"), F.lit("cell_item"))).alias("cell_kind"),
        # exact node confidences emitted at extraction time (repr
        # round-trip — bit-identical to the engines' closed form,
        # which a float mean over stored word confs is NOT)
        F.max(F.element_at(F.col("extra"), F.lit("line_conf"))).cast("double").alias("line_conf"),
        F.max(F.element_at(F.col("extra"), F.lit("elem_conf"))).cast("double").alias("elem_conf"),
        # multi-page block marker (reference Block.page_span)
        F.max("page_span_last").alias("span_last"),
        # word-bbox envelope corners (PDF engines; HTML spans null)
        F.min(F.col("bbox.left")).alias("bx0"),
        F.min(F.col("bbox.top")).alias("by0"),
        F.max(F.col("bbox.left") + F.col("bbox.width")).alias("bx1"),
        F.max(F.col("bbox.top") + F.col("bbox.height")).alias("by1"),
    )

    # L2: merge a cell's runs (TABLE) — a no-op regroup for TEXT
    # (para_no is constant per elem_path). The cell keeps THREE
    # renderings of its content: `cell_text` (' '-flattened — the
    # one-line markdown framing form, what tree_to_text renders),
    # `text_nl` (runs joined with '\n' — the reference Cell.text()
    # contract, ocr_schema.py:215-238), and `items` (the ordered
    # Cell.blocks structure: run ordinal, structural cell_path,
    # nested flag, kind). Words flatten across ALL runs (an earlier
    # version kept only the first run's words).
    run = F.struct(F.col("para_no").alias("o"), F.struct(
        F.col("para_no").alias("run_no"),
        F.col("cell_path"),
        F.col("cell_path").isNotNull().alias("nested"),
        F.col("cell_kind").alias("kind"),
        F.concat_ws(" ", F.transform(F.col("words"), lambda w: w.text)).alias("text"),
        F.col("words"),
    ).alias("c"))
    l2 = (
        l1.groupBy(
            *base, "page_no", "block_no", "block_type", "elem_path", "line_no", "row_no", "column_no", "row_type"
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(run)), lambda x: x.c
            ).alias("runs"),
            F.max("line_conf").alias("line_conf"),
            F.max("elem_conf").alias("elem_conf"),
            F.max("span_last").alias("span_last"),
            F.min("bx0").alias("bx0"), F.min("by0").alias("by0"),
            F.max("bx1").alias("bx1"), F.max("by1").alias("by1"),
        )
        .select(
            *base, "page_no", "block_no", "block_type", "elem_path",
            "line_no", "row_no", "column_no", "row_type",
            "line_conf", "elem_conf", "span_last", "bx0", "by0", "bx1", "by1",
            F.array_join(F.transform(F.col("runs"), lambda r: r.text), " ").alias("cell_text"),
            F.array_join(F.transform(F.col("runs"), lambda r: r.text), "\n").alias("text_nl"),
            F.transform(
                F.col("runs"),
                lambda r: F.struct(r.run_no, r.cell_path, r.nested, r.kind, r.text),
            ).alias("items"),
            F.flatten(F.transform(F.col("runs"), lambda r: r.words)).alias("words"),
        )
    )

    # L3: cells -> row (TABLE) / line passthrough (TEXT)
    l3 = l2.groupBy(
        *base, "page_no", "block_no", "block_type", "elem_path", "line_no", "row_no", "row_type"
    ).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.coalesce("column_no", F.lit(0)).alias("o"),
                                        F.struct(F.col("column_no"), F.col("cell_text").alias("text"),
                                                 F.col("text_nl"), F.col("items")).alias("c")))
            ),
            lambda x: x.c,
        ).alias("cells"),
        F.element_at(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.coalesce("column_no", F.lit(0)).alias("o"), F.col("words").alias("c")))),
                lambda x: x.c,
            ),
            1,
        ).alias("words"),
        F.max("line_conf").alias("line_conf"),
        F.max("elem_conf").alias("elem_conf"),
        F.max("span_last").alias("span_last"),
        F.min("bx0").alias("bx0"), F.min("by0").alias("by0"),
        F.max("bx1").alias("bx1"), F.max("by1").alias("by1"),
    )

    # L4: element level — paragraph struct (TEXT) or rows array
    # (TABLE); lines keep their exact confidence, and the paragraph
    # confidence is the ordered mean of line confidences (the same
    # left-to-right float fold the engines' _mean performs).
    is_table = F.col("row_no").isNotNull()
    l4 = l3.groupBy(*base, "page_no", "block_no", "block_type", "elem_path").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(~is_table, F.struct(F.col("line_no").alias("o"),
                                               F.struct(F.col("line_no"), F.col("line_conf").alias("conf"),
                                                        F.col("words")).alias("c")))
                )
            ),
            lambda x: x.c,
        ).alias("lines"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(is_table, F.struct(F.col("row_no").alias("o"),
                                              F.struct(F.col("row_no"), F.col("row_type"), F.col("cells")).alias("c")))
                )
            ),
            lambda x: x.c,
        ).alias("trows"),
        F.max("elem_conf").alias("elem_conf"),
        F.max("span_last").alias("span_last"),
        F.min("bx0").alias("bx0"), F.min("by0").alias("by0"),
        F.max("bx1").alias("bx1"), F.max("by1").alias("by1"),
    ).withColumn("para_conf", _ordered_mean(F.col("lines"), lambda l: l.conf))

    # L5: elements -> block (paragraphs ordered by element ordinal;
    # tables own their blocks, so `rows` is the solo table's grid)
    elem_ord = F.element_at("elem_path", -1)
    block_path = F.slice(F.col("elem_path"), 1, F.size("elem_path") - 1)
    l5 = l4.withColumn("block_path", block_path).groupBy(
        *base, "page_no", "block_no", "block_type", "block_path"
    ).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.size("trows") == 0,
                           F.struct(elem_ord.alias("o"),
                                    F.struct(elem_ord.alias("para_no"),
                                             F.col("para_conf").alias("conf"),
                                             F.col("lines")).alias("c")))
                )
            ),
            lambda x: x.c,
        ).alias("paragraphs"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.when(F.size("trows") > 0, F.struct(elem_ord.alias("o"), F.col("trows").alias("c"))))),
                lambda x: x.c,
            )
        ).alias("rows"),
        F.max("elem_conf").alias("table_conf"),
        F.max("span_last").alias("span_last"),
        F.min("bx0").alias("bx0"), F.min("by0").alias("by0"),
        F.max("bx1").alias("bx1"), F.max("by1").alias("by1"),
    )
    block_bbox = F.when(
        F.col("bx0").isNotNull(),
        F.struct(
            F.col("bx0").alias("left"), F.col("by0").alias("top"),
            (F.col("bx1") - F.col("bx0")).alias("width"),
            (F.col("by1") - F.col("by0")).alias("height"),
        ),
    )
    blocks = l5.withColumn(
        "block",
        F.struct(
            F.col("block_path"),
            F.col("block_no"),
            F.size("block_path").alias("depth"),
            F.col("block_type"),
            F.struct(
                F.col("page_no").alias("first"),
                F.greatest(
                    F.col("page_no"), F.coalesce(F.col("span_last"), F.col("page_no"))
                ).alias("last"),
            ).alias("page_span"),
            F.col("paragraphs"),
            F.col("rows"),
            F.col("table_conf"),
            block_bbox.alias("bbox"),
        ),
    )
    pages = _nest(blocks, base + ["page_no"], F.col("block_path"), "block", "blocks")

    # RECURSIVE block confidence (reference: a node's confidence is
    # the mean over its DIRECT elements — a nested block contributes
    # its own recursive mean, tesseract_executor.py:210-325). Blocks
    # are DFS-ordered adjacency entries, so one fold over the
    # REVERSED array computes every block's confidence bottom-up:
    # children are already in the accumulator when their parent
    # arrives, and a parent merges its own paragraph confidences with
    # its children's (element-ordinal order restored before the mean,
    # matching the engines' summation order exactly). TABLE blocks
    # carry the table element's exact confidence (table_conf).
    acc_t = "array<struct<path:array<int>,conf:double>>"

    def _conf_fold(blocks_col: Column) -> Column:
        def step(acc: Column, b: Column) -> Column:
            kids = F.reverse(
                F.filter(
                    acc,
                    lambda x: (F.size(x.path) == F.size(b.block_path) + 1)
                    & (F.slice(x.path, 1, F.size(b.block_path)) == b.block_path),
                )
            )
            elems = F.array_sort(
                F.concat(
                    F.transform(
                        b.paragraphs,
                        lambda q: F.struct(q.para_no.alias("o"), q.conf.alias("conf")),
                    ),
                    F.transform(
                        kids,
                        lambda x: F.struct(
                            F.element_at(x.path, -1).alias("o"), x.conf.alias("conf")
                        ),
                    ),
                )
            )
            conf_b = F.when(F.size(b.rows) > 0, b.table_conf).otherwise(
                _ordered_mean(elems, lambda e: e.conf)
            )
            return F.concat(
                acc, F.array(F.struct(b.block_path.alias("path"), conf_b.alias("conf")))
            )

        return F.aggregate(F.reverse(blocks_col), F.expr(f"CAST(array() AS {acc_t})"), step)

    pages = pages.withColumn("bconfs", _conf_fold(F.col("blocks")))
    conf_of = lambda b: F.element_at(  # noqa: E731
        F.filter(F.col("bconfs"), lambda x: x.path == b.block_path), 1
    ).conf
    pages = pages.withColumn(
        "blocks",
        F.transform(
            F.col("blocks"),
            lambda b: F.struct(
                b.block_path, b.block_no, b.depth, b.block_type, b.page_span,
                conf_of(b).alias("conf"), b.bbox, b.paragraphs, b.rows,
            ),
        ),
    )
    # page confidence = ordered mean over TOP-LEVEL block confidences
    # (the engines skip confidence-less blocks); page bbox = envelope
    # over block envelopes
    top_confs = F.reverse(F.filter(F.col("bconfs"), lambda x: F.size(x.path) == 1))
    pages = pages.withColumn("page_conf", _ordered_mean(top_confs, lambda x: x.conf))
    env = F.aggregate(
        F.col("blocks"),
        F.struct(
            F.lit(None).cast("double").alias("x0"), F.lit(None).cast("double").alias("y0"),
            F.lit(None).cast("double").alias("x1"), F.lit(None).cast("double").alias("y1"),
        ),
        lambda a, b: F.struct(
            F.least(a.x0, b.bbox.left).alias("x0"),
            F.least(a.y0, b.bbox.top).alias("y0"),
            F.greatest(a.x1, b.bbox.left + b.bbox.width).alias("x1"),
            F.greatest(a.y1, b.bbox.top + b.bbox.height).alias("y1"),
        ),
    )
    page_bbox = F.when(
        env.x0.isNotNull(),
        F.struct(
            env.x0.alias("left"), env.y0.alias("top"),
            (env.x1 - env.x0).alias("width"), (env.y1 - env.y0).alias("height"),
        ),
    )
    pages = pages.withColumn("page_bbox", page_bbox)
    pages = pages.withColumn(
        "page",
        F.struct(
            F.col("page_no"),
            F.lit(None).cast("double").alias("width"),
            F.lit(None).cast("double").alias("height"),
            F.col("page_conf").alias("conf"), F.col("page_bbox").alias("bbox"),
            F.col("blocks"),
        ),
    )
    docs = _nest(pages, base, "page_no", "page", "pages")
    return docs.select(*base, F.struct(F.col("pages")).alias("document"))


def tree_stats(tree: DataFrame) -> DataFrame:
    """Per-document node counts computed FROM the nested struct
    (proving the tree, not the span table): folds over the nested
    arrays, all native. n_blocks counts every block entry including
    nested ones; max_depth proves the recursion survived the
    round-trip. n_paras/n_lines count TEXT structure; n_words also
    counts table cell words (word total matches doc_to_result);
    n_tables counts TABLE blocks."""
    pages = F.col("document.pages")

    def sum_over(arr: Column, f) -> Column:
        return F.aggregate(arr, F.lit(0), lambda acc, x: acc + f(x))

    n_blocks = sum_over(pages, lambda p: F.size(p.blocks))
    n_paras = sum_over(pages, lambda p: sum_over(p.blocks, lambda b: F.size(b.paragraphs)))
    n_lines = sum_over(
        pages,
        lambda p: sum_over(
            p.blocks, lambda b: sum_over(b.paragraphs, lambda q: F.size(q.lines))
        ),
    )

    def cell_words(c: Column) -> Column:
        return F.when(c.text == "", F.lit(0)).otherwise(F.size(F.split(c.text, " ")))

    n_words = sum_over(
        pages,
        lambda p: sum_over(
            p.blocks,
            lambda b: sum_over(
                b.paragraphs, lambda q: sum_over(q.lines, lambda l: F.size(l.words))
            )
            + sum_over(b.rows, lambda r: sum_over(r.cells, cell_words)),
        ),
    )
    n_tables = sum_over(
        pages,
        lambda p: sum_over(p.blocks, lambda b: F.when(F.size(b.rows) > 0, 1).otherwise(0)),
    )
    max_depth = F.aggregate(
        pages,
        F.lit(0),
        lambda acc, p: F.greatest(
            acc, F.aggregate(p.blocks, F.lit(0), lambda a2, b: F.greatest(a2, b.depth))
        ),
    )

    # Cell.blocks structure (ocr_schema.py:215-238), proven FROM the
    # nested struct: count of in-cell nested items (a block or inner
    # table inside a cell) and the deepest structural cell path.
    def over_cells(f) -> Column:
        return sum_over(
            pages,
            lambda p: sum_over(
                p.blocks,
                lambda b: sum_over(b.rows, lambda r: sum_over(r.cells, f)),
            ),
        )

    n_cell_nested = over_cells(lambda c: F.size(F.filter(c.items, lambda i: i.nested)))
    max_cell_depth = F.aggregate(
        pages,
        F.lit(0),
        lambda acc, p: F.greatest(
            acc,
            F.aggregate(
                p.blocks,
                F.lit(0),
                lambda a2, b: F.greatest(
                    a2,
                    F.aggregate(
                        b.rows,
                        F.lit(0),
                        lambda a3, r: F.greatest(
                            a3,
                            F.aggregate(
                                r.cells,
                                F.lit(0),
                                lambda a4, c: F.greatest(
                                    a4,
                                    F.aggregate(
                                        c.items,
                                        F.lit(0),
                                        lambda a5, i: F.greatest(
                                            a5, F.coalesce(F.size(i.cell_path), F.lit(0))
                                        ),
                                    ),
                                ),
                            ),
                        ),
                    ),
                ),
            ),
        ),
    )
    # document confidence FROM the nested struct: ordered mean over
    # page confidences (which are themselves recursive block means
    # computed in the to_tree fold) — bit-identical to the engines'
    # doc_to_result confidence, proving the tree is self-contained
    doc_confidence = _ordered_mean(pages, lambda p: p.conf)

    return tree.select(
        "url",
        "engine",
        F.size(pages).cast("long").alias("n_pages"),
        n_blocks.cast("long").alias("n_blocks"),
        n_paras.cast("long").alias("n_paras"),
        n_lines.cast("long").alias("n_lines"),
        n_words.cast("long").alias("n_words"),
        n_tables.cast("long").alias("n_tables"),
        max_depth.cast("long").alias("max_depth"),
        n_cell_nested.cast("long").alias("n_cell_nested"),
        max_cell_depth.cast("long").alias("max_cell_depth"),
        doc_confidence.alias("doc_confidence"),
    )
