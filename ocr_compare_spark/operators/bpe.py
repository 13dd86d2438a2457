"""Distributed BPE tokenizer training + encoding (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units").

A training-data pipeline needs token counts under the REAL tokenizer
that will train the model — whitespace counts (textstats) are only a
proxy, and budgets/shard packing (operators/sampling.py) are stated
in model tokens. This module trains a byte-pair-encoding merge table
over the corpus and encodes documents with it, both Spark-first.

Scale design (the part that matters at 100 TB):

- **Word-type reduction first.** BPE statistics are a function of the
  word-frequency table, not the token stream: ONE map-side-combined
  ``groupBy(word)`` collapses the corpus (10^12 docs) to its distinct
  word types (10^6-10^8 rows). Every training round after that runs
  on the word-type table only.
- **Bounded driver traffic.** Each round ships at most
  ``8 * merges_per_round`` candidate rows to the driver (the global
  top pairs); the merge table itself is ``n_merges`` rows — the model
  is driver-sized by definition, like lm.py's vocab cap.
- **Lineage cut per round.** Each round rewrites the symbol column
  with a native fold; without a cut the plan nests one fold per round
  (the connected_components plan-string trap — CLAUDE.md). The
  word-type table is ``localCheckpoint``-ed every round.
- **Batched rounds.** Exact BPE is one merge per round; at real merge
  counts (32k) the round-trip latency dominates. ``merges_per_round=k``
  selects the top-k SYMBOL-DISJOINT pairs per count pass (no selected
  pair shares a symbol with another selected pair or with a selected
  pair's merged output), which is the standard batched-BPE
  approximation: disjoint merges cannot interact within a pass, so
  each batch is equivalent to applying its members sequentially
  against the same counts. k=1 (default) is exact textbook BPE.

Encoding is a scalar pandas UDF (Arrow-batched) with a per-batch word
cache — encode is inherently per-word sequential, but word types
repeat heavily so the cache amortizes it; the merge table broadcasts
via closure (n_merges rows).

Reference parity: the reference repo has no tokenizer; this is part
of the training-data mandate (token counting beyond the whitespace /
regex proxies in operators/textstats.py).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

#: End-of-word marker appended to each word's symbol sequence
#: (Sennrich's convention) — merged tokens carry it, so detokenizing
#: is ``concat(tokens).replace(EOW, ' ')``.
EOW = "</w>"

#: Pre-tokenizer split, pinned to Spark's ``split(_, '\\s+')``
#: semantics: Java ``\\s`` is ASCII-only ([ \\t\\n\\x0B\\f\\r]), so a
#: U+00A0-joined pair is ONE word type at train time — the encoder
#: must agree or merges learned across the NBSP are dead weight
#: (review r5: str.split() splits all Unicode whitespace).
_WS_RE = re.compile(r"\s+", re.ASCII)


def py_words(text: str) -> list[str]:
    """Non-empty words under the training tokenization — the mirror
    used by the encoder and tests (word_types filters '' the same
    way)."""
    return [w for w in _WS_RE.split(text) if w]


def word_types(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word, n)`` frequency table over whitespace words — the ONE
    corpus-sized pass of BPE training (map-side combine)."""
    from ocr_compare_spark.operators.adaptive import spread_small_input

    df = spread_small_input(df)  # few-split source -> serial tokenize (r6)
    return (
        df.select(
            F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _adjacent_pairs(sym: Column) -> Column:
    return F.zip_with(
        F.slice(sym, 1, F.size(sym) - 1),
        F.slice(sym, 2, F.size(sym) - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )


def _apply_merges(sym: Column, batch: list[tuple[str, str]]) -> Column:
    """Left-to-right greedy application of a symbol-disjoint merge
    batch as ONE native fold: at each element, if (last(acc), cur)
    matches a batch pair, the pair is replaced by its concatenation.
    Greedy-left semantics match the textbook merge (``aaaa`` with
    (a,a) -> ``aa aa``); disjointness makes in-batch order moot."""

    def step(acc: Column, x: Column) -> Column:
        last = F.element_at(acc, -1)
        out = F.concat(acc, F.array(x))  # default: append
        for a, b in batch:
            out = F.when(
                (F.size(acc) > 0) & (last == F.lit(a)) & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(out)
        return out

    return F.aggregate(sym, F.array().cast("array<string>"), step)


def _select_disjoint(rows, k: int) -> list[tuple[str, str]]:
    """Greedy top-k symbol-disjoint pair selection from count-ordered
    candidate rows (count desc, then (a, b) asc — the deterministic
    tie-break, identical in the Python mirror)."""
    chosen: list[tuple[str, str]] = []
    used: set[str] = set()
    for r in rows:
        a, b = r["a"], r["b"]
        if a in used or b in used or a + b in used:
            continue
        chosen.append((a, b))
        used.update((a, b, a + b))
        if len(chosen) == k:
            break
    return chosen


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 100,
    min_count: int = 2,
    merges_per_round: int = 1,
) -> list[tuple[str, str]]:
    """Train a BPE merge table over ``df[text_col]``; returns the
    ordered merge list (the model — ``n_merges`` rows, driver-sized).
    Stops early when no pair reaches ``min_count``."""
    wt = (
        word_types(df, text_col)
        .select(
            F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW))).alias("sym"),
            F.col("n"),
        )
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        k = min(merges_per_round, n_merges - len(merges))
        top = (
            wt.select(F.explode(_adjacent_pairs(F.col("sym"))).alias("p"), "n")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
            .filter(F.col("cnt") >= min_count)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(8 * k)  # disjoint selection may skip candidates
            .collect()
        )
        batch = _select_disjoint(top, k)
        if not batch:
            break
        merges.extend(batch)
        # rewrite only words that contain a batch pair (exists is the
        # cheap pre-test; untouched rows skip the fold entirely), then
        # cut lineage — one fold layer per round otherwise nests into
        # the plan-string blowup
        touched = F.exists(
            _adjacent_pairs(F.col("sym")), lambda p: _any_pair(p, batch)
        )
        wt = wt.select(
            F.when(touched, _apply_merges(F.col("sym"), batch))
            .otherwise(F.col("sym"))
            .alias("sym"),
            "n",
        ).localCheckpoint()
    return merges


def _any_pair(p: Column, batch: list[tuple[str, str]]) -> Column:
    cond = F.lit(False)
    for a, b in batch:
        cond = cond | ((p["a"] == F.lit(a)) & (p["b"] == F.lit(b)))
    return cond


# ---------------------------------------------------------------------------
# Encoding

def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Textbook BPE encode: repeatedly merge the present pair with the
    LOWEST merge rank (all its occurrences, left-to-right) until no
    ranked pair remains. Equivalent to replaying the merge list in
    training order."""
    sym = list(word) + [EOW]
    while len(sym) > 1:
        best = None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best is None or r < best[0]):
                best = (r, sym[i], sym[i + 1])
        if best is None:
            break
        _, a, b = best
        out: list[str] = []
        i = 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Scalar pandas UDF ``text -> array<string>`` of BPE tokens
    (whitespace pre-tokenization, per-word encode, per-batch word
    cache). The merge table rides the closure (n_merges rows)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def encode(text):
            if text is None:
                return None
            toks: list[str] = []
            for w in py_words(text):
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _encode_word(w, ranks)
                toks.extend(got)
            return toks

        return texts.map(encode)

    return enc


def bpe_token_counts(
    df: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """Input plus ``bpe_token_count`` — the real-tokenizer token count
    for budgets/shard packing (vs textstats' whitespace proxy)."""
    from ocr_compare_spark.operators.adaptive import spread_small_input

    # the Arrow encode UDF runs on the input's splits — spread a
    # few-split source or it is nearly serial (r6)
    df = spread_small_input(df)
    enc = bpe_encode_udf(merges)
    return df.withColumn("bpe_token_count", F.size(enc(F.col(text_col))))

