"""Text-analysis operators for large-scale training-data pipelines.

All hot-path math is Catalyst-native (split / filter / transform /
aggregate on arrays — whole-stage codegen, no Python). These extend
the reference's text stats (examples/ocr_comparison.py:130-137) with
the standard corpus-quality signals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Fixed stopword list (deterministic; the synthetic corpus vocabulary
# includes 'the' and 'a').
STOPWORDS = ("the", "a", "of", "and", "to", "in")

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-space
# punctuation — a deterministic stand-in for a real BPE vocab.
BPE_SPLIT_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def tokens(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, r"\s+")


def stats_columns(text_col: str = "text") -> dict[str, Column]:
    t = tokens(text_col)
    n = F.size(t)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, F.lower(x))))
    c = F.col(text_col)
    n_chars = F.length(c)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return {
        "char_count": n_chars.cast("long"),
        "word_count": n.cast("long"),
        "line_count": F.size(F.split(c, r"\n")).cast("long"),
        "stopword_ratio": F.when(n > 0, n_stop / n).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "token_count": F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_PATTERN), 0)).cast("long"),
    }


def repetition_columns(text_col: str = "text") -> dict[str, Column]:
    """Repetition-based quality signals (the Gopher/C4 web-filter
    family), fully Catalyst-native:

    - ``dup_line_frac``: fraction of lines that repeat an earlier
      line (1 - distinct/total). Boilerplate nav/footer blocks that
      survive extraction show up here first.
    - ``top2gram_share``: share of all word 2-grams taken by the most
      frequent one. Computed per row without an explode/groupBy
      shuffle: sort the 2-gram array, then one ``aggregate`` fold
      tracks the longest equal run — O(n log n) per row inside
      whole-stage codegen, no Python.
    """
    c = F.col(text_col)
    lines = F.split(c, r"\n")
    dup_line_frac = F.when(
        F.size(lines) > 0,
        1.0 - F.size(F.array_distinct(lines)) / F.size(lines),
    ).otherwise(F.lit(0.0))
    t = tokens(text_col)
    # adjacent pairs via two shifted slices (NOT sequence(1, n-1) +
    # element_at: sequence(1, 0) is DESCENDING [1, 0] in Spark, so a
    # 1-token doc would index past the array and throw under ANSI)
    n_grams = F.greatest(F.size(t) - 1, F.lit(0))
    grams = F.zip_with(
        F.slice(t, 1, n_grams),
        F.slice(t, 2, n_grams),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    srt = F.array_sort(grams)
    best_run = F.aggregate(
        srt,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best, F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    top2gram_share = F.when(F.size(grams) > 0, best_run / F.size(grams)).otherwise(
        F.lit(0.0)
    )
    return {
        "dup_line_frac": F.round(dup_line_frac, 6),
        "top2gram_share": F.round(top2gram_share, 6),
    }


def gopher_columns(text_col: str = "text") -> dict[str, Column]:
    """The remaining Gopher rule-set signals (Rae et al. 2021 §A1.1)
    beyond the repetition pair — all per-row native folds, zero
    shuffle, ASCII-only regex classes (Java == RE2 parity):

    - ``mean_word_len``: mean characters per whitespace word
      (Gopher keeps docs in [3, 10]);
    - ``symbol_word_ratio``: ('#' occurrences + '...' occurrences)
      per word (keep <= 0.1);
    - ``bullet_line_frac``: lines starting with a bullet marker
      (keep < 0.9);
    - ``ellipsis_line_frac``: lines ending with an ellipsis
      (keep < 0.3);
    - ``alpha_word_frac``: words containing at least one ASCII
      letter (keep >= 0.8).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    t = F.split(c, r"\s+")
    n = F.size(t)
    lines = F.split(c, r"\n")
    n_lines = F.size(lines)
    word_chars = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    n_hash = F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
    n_ellipsis = F.size(F.regexp_extract_all(c, F.lit(r"\.\.\."), 0))
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]")))
    n_ell_end = F.size(
        F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))
    )
    n_alpha = F.size(F.filter(t, lambda x: x.rlike(r"[A-Za-z]")))
    frac = lambda num, den: F.round(
        F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6
    )
    return {
        "mean_word_len": frac(word_chars, n),
        "symbol_word_ratio": frac(n_hash + n_ellipsis, n),
        "bullet_line_frac": frac(n_bullet, n_lines),
        "ellipsis_line_frac": frac(n_ell_end, n_lines),
        "alpha_word_frac": frac(n_alpha, n),
    }


def quality_score() -> Column:
    """Deterministic [0,1] quality score: length saturation +
    stopword presence — the classic cheap web-text filters."""
    wc = F.col("word_count")
    return F.round(
        F.least(wc / F.lit(100.0), F.lit(1.0)) * 0.6 + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.4,
        6,
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    out = df
    for name, col in stats_columns(text_col).items():
        out = out.withColumn(name, col)
    for name, col in repetition_columns(text_col).items():
        out = out.withColumn(name, col)
    # unused columns are pruned by Catalyst in consumers that select
    # a subset (quality_topk reads none of the repetition columns)
    return out.withColumn("quality_score", quality_score())


def fingerprint_minshingle(text_col: str = "text", k: int = 5) -> Column:
    """Document fingerprint: min over md5 of all k-char shingles
    (a 1-perm MinHash / winnowing-lite rolling fingerprint).
    Fully native: sequence -> transform(substring) -> array_min."""
    c = F.col(text_col)
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(1))),
        lambda i: F.md5(c.substr(i, F.lit(k))),
    )
    return F.array_min(shingles)


#: PII surface patterns (the C4/RefinedWeb/Dolma scrubbing family).
#: Deliberately conservative ASCII classes only, identical semantics
#: under Java regex (Spark) and RE2 (DuckDB oracle): no lookaround,
#: no backrefs, \b is the ASCII word boundary in both. Listed in
#: REDACTION ORDER — email first (its local part may embed digits the
#: later numeric patterns would shred), then dotted IPv4, then the
#: dashed numeric shapes.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
)


def pii_columns(text_col: str = "text") -> dict[str, Column]:
    """Per-document PII hit counts (``n_email``/``n_ipv4``/``n_ssn``/
    ``n_phone``), each counted independently on the ORIGINAL text —
    fully native regexp_extract_all, no Python. A page carrying any of
    these is what a training-data pipeline routes to scrubbing
    (``scrub_pii``) or drops outright."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return {
        f"n_{name}": F.size(F.regexp_extract_all(c, F.lit(pat), 0)).cast("long")
        for name, pat, _ in PII_PATTERNS
    }


def scrub_pii(col: str | Column) -> Column:
    """Redact PII in place: sequential native regexp_replace in
    ``PII_PATTERNS`` order, each match replaced by its typed
    placeholder (``<EMAIL>``, ``<IP>``, ``<SSN>``, ``<PHONE>``).
    Whole-stage-codegen string work — the 100 TB-safe shape; the
    equivalent DuckDB twin is the same chain with the 'g' flag."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, placeholder in PII_PATTERNS:
        c = F.regexp_replace(c, pat, placeholder)
    return c


_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
}


def langid_label(text_col: str = "text") -> Column:
    """Argmax of marker-token counts; 'und' when no marker hits.
    N-gram-free heuristic — deterministic and SQL-mirrorable."""
    t = F.transform(tokens(text_col), lambda x: F.lower(x))
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores.append(
            F.struct(
                F.size(F.filter(t, lambda x: F.array_contains(arr, x))).alias("score"),
                F.lit({"en": 3, "es": 2, "de": 1, "fr": 0}[lang]).alias("tiebreak"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    return F.when(best.score > 0, best.lang).otherwise(F.lit("und"))
