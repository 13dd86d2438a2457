"""Cross-engine comparison metrics (reference ocr.py:67-97 +
examples/ocr_comparison.py:124-156, extended per north_star with
CER / WER / LCS alignment).

- Pair generation = one self-equi-join on url with the `engine_a <
  engine_b` dedup predicate (reference pair loop,
  ocr_comparison.py:143-154 → J5). Per-url fan-out is tiny (N engines
  → N(N-1)/2 pairs) and the join key is unique-ish, so AQE handles it;
  no skew possible on url.
- Jaccard + counts are fully Catalyst-native (array_intersect /
  array_union on distinct lowercased whitespace tokens — exactly
  ocr_comparison.py:146-151).
- CER / WER / LCS need dynamic programming → one Arrow-vectorized
  pandas UDF over the paired texts (exact Levenshtein via the
  Myers/Hyyrö bit-parallel core; the numpy min-accumulate row DP is
  kept as the test reference). The DP is exact by default; affix
  stripping makes mostly-agreeing engine pairs ~linear, but two LONG,
  genuinely divergent texts cost a full O(m·n) DP — at web scale pass
  ``max_align_len`` to bound it: pairs longer than the cap have their
  metrics computed on the first ``max_align_len`` characters of each
  text and carry ``capped = true`` (a well-defined prefix metric,
  never a silent truncation — SURVEY §7 hard #4).
"""

from __future__ import annotations

import difflib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ocr_compare_spark.schema import ALIGN_RESULT_TYPE

TOKEN_SPLIT = r"\s+"


def text_stats(results: DataFrame) -> DataFrame:
    """Per-(url, engine) char/word/line counts (ocr_comparison.py:130-137)."""
    return results.select(
        "url",
        "engine",
        F.length("doc_text").alias("char_count"),
        F.size(F.split(F.col("doc_text"), TOKEN_SPLIT)).alias("word_count"),
        F.size(F.split(F.col("doc_text"), r"\n")).alias("line_count"),
        "confidence",
        "doc_text",
    )


def _strip_affixes(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Drop the common prefix and suffix — exact (never changes the
    distance) and turns the near-identical case (engines mostly
    agree) from O(n^2) into O(n) + a tiny DP."""
    k = min(len(a), len(b))
    if k:
        neq = a[:k] != b[:k]
        p = int(neq.argmax()) if neq.any() else k
        a, b = a[p:], b[p:]
    k = min(len(a), len(b))
    if k:
        neq = a[::-1][:k] != b[::-1][:k]
        s = int(neq.argmax()) if neq.any() else k
        if s:
            a, b = a[:-s], b[:-s]
    return a, b


def _myers(a: list, b: list) -> int:
    """Myers/Hyyrö bit-parallel Levenshtein core (Myers 1999, Hyyrö
    2003 "A bit-vector algorithm for computing Levenshtein and Damerau
    edit distances"). Exact — identical distances to the cell DP.

    ``a`` is the pattern (one bit per element, arbitrary length via
    Python bigints); each column of ``b`` costs ~12 integer ops on an
    len(a)-bit int. Why it replaced the numpy row DP on the hot path:
    the row DP pays ~7 numpy-call overheads PER ROW (~10 us/row —
    measured to dominate compare-phase CPU on near-identical engine
    pairs whose stripped middles average ~32 chars), and streams
    O(m*n*8*6) bytes of row arrays through memory, which is exactly
    what saturates shared memory bandwidth at high core counts. The
    bit-parallel core's working set is a few machine words.
    """
    m = len(a)
    peq: dict = {}
    bit = 1
    for c in a:
        peq[c] = peq.get(c, 0) | bit
        bit <<= 1
    mask = bit - 1  # m ones
    hibit = 1 << (m - 1)
    pv, mv, score = mask, 0, m
    get = peq.get
    for c in b:
        eq = get(c, 0)
        xv = eq | mv
        xh = (((eq & pv) + pv) ^ pv) | eq
        ph = mv | (mask & ~(xh | pv))
        mh = pv & xh
        if ph & hibit:
            score += 1
        elif mh & hibit:
            score -= 1
        ph = ((ph << 1) | 1) & mask
        mh = (mh << 1) & mask
        pv = mh | (mask & ~(xv | ph))
        mv = ph & xv
    return score


def levenshtein_fast(a: np.ndarray, b: np.ndarray) -> int:
    """Exact edit distance: affix strip (exact) + bit-parallel core
    over the stripped middle, shorter side as the pattern."""
    a, b = _strip_affixes(a, b)
    m, n = len(a), len(b)
    if m == 0:
        return n
    if n == 0:
        return m
    if m > n:
        a, b = b, a
    return _myers(a.tolist(), b.tolist())


def _strip_common_lists(a: list, b: list) -> tuple[list, list]:
    """Token-list twin of _strip_affixes (exact: never changes the
    distance)."""
    la, lb = len(a), len(b)
    k = min(la, lb)
    p = 0
    while p < k and a[p] == b[p]:
        p += 1
    s = 0
    k -= p
    while s < k and a[la - 1 - s] == b[lb - 1 - s]:
        s += 1
    return a[p : la - s], b[p : lb - s]


def levenshtein_tokens(ta: list, tb: list) -> int:
    """Exact token-level edit distance, bit-parallel, no vocab
    mapping: the pattern bitmask dict is keyed by the token strings
    themselves (hashable), so the per-pair vocab dict + np.fromiter
    of the old path never happen."""
    ta, tb = _strip_common_lists(ta, tb)
    m, n = len(ta), len(tb)
    if m == 0:
        return n
    if n == 0:
        return m
    if m > n:
        ta, tb = tb, ta
    return _myers(ta, tb)


def _codes(s: str) -> np.ndarray:
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)


def align_metrics(text_a: str, text_b: str, max_len: int | None = None) -> dict:
    """CER / WER / LCS spans for one text pair.

    ``max_len``: optional cap on the DP size. None (default) is the
    EXACT path — full quadratic DP, used wherever results feed the
    oracle gate. With a cap, a pair whose either side exceeds
    ``max_len`` characters is truncated to its first ``max_len``
    characters BEFORE any metric (denominators included) and the
    result carries ``capped = True`` — the metric of the capped
    prefix pair is well-defined and deterministic, and the flag makes
    the truncation explicit to every consumer. Cost bound: O(max_len
    ^2) cells per capped pair for the char DP (token DP and difflib
    are bounded by the same prefix)."""
    a = text_a or ""
    b = text_b or ""
    capped = False
    if max_len is not None and (len(a) > max_len or len(b) > max_len):
        a, b = a[:max_len], b[:max_len]
        capped = True
    ca, cb = _codes(a), _codes(b)
    denom_c = max(len(ca), len(cb))
    cer = (levenshtein_fast(ca, cb) / denom_c) if denom_c else 0.0
    ta, tb = a.split(), b.split()
    denom_w = max(len(ta), len(tb))
    wer = (levenshtein_tokens(ta, tb) / denom_w) if denom_w else 0.0
    sm = difflib.SequenceMatcher(None, ta, tb, autojunk=False)
    spans = [
        {"a_start": m.a, "a_end": m.a + m.size, "b_start": m.b, "b_end": m.b + m.size}
        for m in sm.get_matching_blocks()
        if m.size > 0
    ]
    return {"cer": cer, "wer": wer, "lcs_spans": spans, "capped": capped}


def make_align_udf(max_len: int | None = None):
    @F.pandas_udf(ALIGN_RESULT_TYPE)
    def align_udf(text_a: pd.Series, text_b: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [align_metrics(x, y, max_len) for x, y in zip(text_a, text_b)]
        )

    return align_udf


# exact-path UDF (back-compat name; the oracle corpus uses this)
align_udf = make_align_udf(None)


def pairwise_compare(
    results: DataFrame,
    with_alignment: bool = True,
    num_partitions: int | None = None,
    max_align_len: int | None = None,
) -> DataFrame:
    """(url, engine, doc_text, confidence) -> one row per engine pair.

    Output: FIXTURES.md §5 wide metrics row.

    ``num_partitions``: width for the alignment-UDF stage. The DP is
    CPU-bound at ~1 ms/pair but byte-light, so AQE's size-based
    post-shuffle coalescing collapses it onto a handful of tasks
    (measured: 4 tasks / 5.8 s at sf0.1 on 32 cores; repartitioned to
    core count: sub-second). Set it to the executor-core total in
    batch jobs; None keeps the plan exchange-free for tiny inputs.

    Pair generation (J5, the reference's i<j engine loop,
    ocr_comparison.py:143-154) is a groupBy(url) + native i<j
    combination explode — NOT a self-join: a self-join either
    broadcasts the full doc_text column through the driver (measured
    ~1 GB serial at 320k docs) or reshuffles both sides; the groupBy
    needs one shuffle that co-locates with the upstream url
    partitioning, and per-url arrays are tiny (N engines).

    Error rows (doc_text NULL) are excluded from pairing — a failed
    extraction must not report metrics against a successful one
    (the reference only compares successful results,
    ocr_comparison.py:124-129). As a second guard the jaccard is
    NULL (not 1.0) if either text is still NULL.
    """
    if "error" in results.columns:
        results = results.filter(F.col("error").isNull())
    stats = text_stats(results)
    entry = F.struct(
        F.col("engine"),
        F.col("doc_text").alias("text"),
        F.col("char_count"),
        F.col("word_count"),
        F.col("line_count"),
        F.col("confidence"),
    )
    # array_sort on struct is lexicographic by first field (engine),
    # so slice-based combinations automatically give engine_a < engine_b
    grouped = stats.groupBy("url").agg(F.array_sort(F.collect_list(entry)).alias("es"))
    combos = F.flatten(
        F.transform(
            F.col("es"),
            lambda x, i: F.transform(
                F.slice(F.col("es"), i + 2, F.greatest(F.size(F.col("es")) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        grouped.select("url", F.explode(combos).alias("p"))
        .select(
            "url",
            F.col("p.a.engine").alias("engine_a"),
            F.col("p.b.engine").alias("engine_b"),
            F.col("p.a.text").alias("text_a"),
            F.col("p.b.text").alias("text_b"),
            F.col("p.a.char_count").alias("char_count_a"),
            F.col("p.b.char_count").alias("char_count_b"),
            F.col("p.a.word_count").alias("word_count_a"),
            F.col("p.b.word_count").alias("word_count_b"),
            F.col("p.a.line_count").alias("line_count_a"),
            F.col("p.b.line_count").alias("line_count_b"),
            F.col("p.a.confidence").alias("confidence_a"),
            F.col("p.b.confidence").alias("confidence_b"),
        )
    )
    if num_partitions:
        # Re-widen right after the pair explode: everything per-pair
        # (jaccard token arrays AND the alignment DP) lands in the
        # wide stage, not the AQE-coalesced narrow one.
        pairs = pairs.repartition(num_partitions)
    wa = F.array_distinct(F.split(F.lower(F.col("text_a")), TOKEN_SPLIT))
    wb = F.array_distinct(F.split(F.lower(F.col("text_b")), TOKEN_SPLIT))
    union_sz = F.size(F.array_union(wa, wb))
    jaccard = (
        F.when(F.col("text_a").isNull() | F.col("text_b").isNull(), F.lit(None).cast("double"))
        .when(union_sz > 0, F.size(F.array_intersect(wa, wb)) / union_sz)
        .otherwise(F.lit(1.0))
    )
    out = pairs.withColumn("jaccard", jaccard)
    if with_alignment:
        udf = make_align_udf(max_align_len)
        out = out.withColumn("align", udf(F.col("text_a"), F.col("text_b"))).select(
            "url", "engine_a", "engine_b", "jaccard",
            F.col("align.cer").alias("cer"),
            F.col("align.wer").alias("wer"),
            F.col("align.lcs_spans").alias("lcs_spans"),
            F.col("align.capped").alias("capped"),
            "char_count_a", "char_count_b", "word_count_a", "word_count_b",
            "line_count_a", "line_count_b", "confidence_a", "confidence_b",
        )
    else:
        out = out.select(
            "url", "engine_a", "engine_b", "jaccard",
            "char_count_a", "char_count_b", "word_count_a", "word_count_b",
            "line_count_a", "line_count_b", "confidence_a", "confidence_b",
        )
    return out


def summaries(results: DataFrame) -> DataFrame:
    """≈ OcrResultSummary (ocr_schema.py:343-420): per-(url, engine)
    structural counts, computed from the engine result columns."""
    return results.select(
        "url",
        "engine",
        F.col("n_pages").alias("num_pages"),
        F.col("n_blocks").alias("num_blocks"),
        F.col("n_tables").alias("num_tables"),
        F.col("n_words").alias("num_words"),
        F.length("doc_text").cast("long").alias("total_length"),
    )
