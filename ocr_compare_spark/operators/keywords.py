"""TF-IDF top-k keywords per document — the classic per-doc salient
term extractor every corpus-analysis / search-indexing pipeline runs
(and a common "topic tag" feature for training-data curation mixes).

Determinism contract (ANSI-SQL-reproducible end to end):

- **tokens**: ``[a-z0-9]+`` over ``lower(text)`` — ASCII classes
  only, so Java regex and RE2/DuckDB tokenize identically (same
  convention as operators/dsir.py).
- **idf**: smooth sklearn form ``ln((1+N)/(1+df_t)) + 1``, rounded
  to integer microunits (``idf6 = floor(x*1e6+0.5)``, the repo's
  round6 contract — lm.py precedent: Spark ln and DuckDB ln agree
  under the floor-round at the gate sfs). From there everything is
  exact int64: ``score6 = tf * idf6``, so no float summation or
  comparison anywhere downstream.
- **ranking**: per document by ``(score6 DESC, term ASC)`` — total
  order, rerun- and layout-stable.

Scale shape: two slim shuffles ((id, term) tf counts and the
term-keyed df/idf join — vocabulary-sized, map-side combined) plus
one ObjectHashAggregate for the per-doc top-k (collect_list of
14-byte-ish structs bounded by the doc's distinct-term count; the
array_sort+slice keeps only k on output). No window over the full
term stream, no driver-side vocabulary. ``n_docs=`` hint skips the
corpus-count job when the caller already knows it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: ASCII word regex — identical token streams under Java regex and RE2.
WORD_RE = "[a-z0-9]+"

DEFAULT_K = 5


def _words(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(F.lower(c), F.lit(WORD_RE), 0)


def term_frequencies(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf) — raw in-document term counts."""
    return (
        df.select(F.col(id_col), F.explode(_words(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )


def document_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """(term, df) — number of documents containing each term.
    array_distinct BEFORE the explode so the shuffle carries one row
    per (doc, distinct term), never one per occurrence."""
    return (
        df.select(F.explode(F.array_distinct(_words(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )


def idf6_column(n_docs: int) -> Column:
    """Integer-microunit smooth idf of the ``df`` column:
    floor((ln((1+N)/(1+df)) + 1) * 1e6 + 0.5)."""
    return F.floor(
        (F.log((1.0 + n_docs) / (F.col("df") + 1.0)) + F.lit(1.0)) * 1e6 + F.lit(0.5)
    ).cast("long")


def tfidf_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = DEFAULT_K,
    n_docs: int | None = None,
) -> DataFrame:
    """Top-k keywords per document: (id, rank, term, tf, score6)
    with rank 1..k by (score6 desc, term asc). Documents with no
    tokens produce no rows. score6 = tf * idf6 — exact int64."""
    from ocr_compare_spark.operators.adaptive import spread_small_input

    if n_docs is None:
        n_docs = df.count()
    # the tf and df tokenize passes are byte-light compute-heavy —
    # spread a few-split source first (r6; adaptive no-op otherwise)
    df = spread_small_input(df)
    tf = term_frequencies(df, id_col, text_col)
    idf = document_frequencies(df, text_col).select(
        "term", idf6_column(n_docs).alias("idf6")
    )
    scored = tf.join(idf, "term").select(
        F.col(id_col),
        F.col("term"),
        F.col("tf"),
        (F.col("tf") * F.col("idf6")).alias("score6"),
    )
    # per-doc top-k: sort key (-score6, term) ascending == (score6
    # desc, term asc); slice keeps k structs per group on output
    top = (
        scored.groupBy(id_col)
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("score6")).alias("_neg"), "term", "tf", "score6"))
                ),
                1,
                k,
            ).alias("_top")
        )
        .select(F.col(id_col), F.posexplode("_top").alias("_i", "_kw"))
    )
    return top.select(
        id_col,
        (F.col("_i") + 1).cast("long").alias("rank"),
        F.col("_kw.term").alias("term"),
        F.col("_kw.tf").alias("tf"),
        F.col("_kw.score6").alias("score6"),
    )
