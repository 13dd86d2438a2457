"""Metric-function oracles: numpy DP Levenshtein vs a pure-Python
reference implementation; LCS spans vs difflib (FIXTURES.md §8)."""

from __future__ import annotations

import difflib
import random

import numpy as np

from ocr_compare_spark.operators.compare import _codes, align_metrics
from tests.mirrors import levenshtein_np


def lev_ref(a: str, b: str) -> int:
    m, n = len(a), len(b)
    dp = list(range(n + 1))
    for i in range(1, m + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, n + 1):
            cur = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev, dp[j] = dp[j], cur
    return dp[n]


def test_levenshtein_exact_random():
    rng = random.Random(42)
    alphabet = "abcde"
    for _ in range(200):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
        assert levenshtein_np(_codes(a), _codes(b)) == lev_ref(a, b), (a, b)


def test_levenshtein_known_cases():
    cases = [("", "", 0), ("abc", "", 3), ("", "abc", 3), ("abc", "abc", 0),
             ("kitten", "sitting", 3), ("flaw", "lawn", 2), ("abc", "axc", 1)]
    for a, b, d in cases:
        assert levenshtein_np(_codes(a), _codes(b)) == d


def test_align_metrics_semantics():
    m = align_metrics("the cat sat", "the cat sat")
    assert m["cer"] == 0.0 and m["wer"] == 0.0
    assert m["lcs_spans"] == [{"a_start": 0, "a_end": 3, "b_start": 0, "b_end": 3}]
    m = align_metrics("the cat sat", "the dog sat")
    assert m["wer"] == 1 / 3
    assert m["cer"] == 3 / 11


def test_lcs_matches_difflib():
    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    for _ in range(50):
        a = " ".join(rng.choice(words) for _ in range(rng.randint(0, 12)))
        b = " ".join(rng.choice(words) for _ in range(rng.randint(0, 12)))
        got = align_metrics(a, b)["lcs_spans"]
        sm = difflib.SequenceMatcher(None, a.split(), b.split(), autojunk=False)
        exp = [
            {"a_start": mb.a, "a_end": mb.a + mb.size, "b_start": mb.b, "b_end": mb.b + mb.size}
            for mb in sm.get_matching_blocks() if mb.size > 0
        ]
        assert got == exp


def test_unicode_cer():
    assert levenshtein_np(_codes("naïve"), _codes("naive")) == 1
    assert levenshtein_np(_codes("日本語"), _codes("日本")) == 1


def test_wer_token_ids_not_chars():
    # long distinct tokens must count as single edits
    m = align_metrics("internationalization", "localization")
    assert m["wer"] == 1.0


def test_align_cap_bounds_divergent_pair():
    """SURVEY §7 hard #4: two long, genuinely divergent texts cost a
    full quadratic DP on the exact path; with max_len the runtime is
    bounded and the result carries an EXPLICIT capped flag (metrics
    of the capped prefix pair — never silent truncation)."""
    import time

    rng = random.Random(3)
    # divergent: no shared affixes for the stripper to remove
    a = " ".join(f"a{rng.randrange(10**6)}" for _ in range(12_000))
    b = " ".join(f"b{rng.randrange(10**6)}" for _ in range(12_000))
    t0 = time.time()
    m = align_metrics(a, b, max_len=2_000)
    capped_secs = time.time() - t0
    assert m["capped"] is True
    assert capped_secs < 5.0  # exact path on ~90k chars is minutes
    # prefix metric equals the exact metric of the truncated pair
    exact_prefix = align_metrics(a[:2_000], b[:2_000])
    assert m["cer"] == exact_prefix["cer"]
    assert m["wer"] == exact_prefix["wer"]
    assert m["lcs_spans"] == exact_prefix["lcs_spans"]
    # under-cap pairs are EXACT and unflagged
    m2 = align_metrics("the cat sat", "the dog sat", max_len=2_000)
    assert m2["capped"] is False
    assert m2["wer"] == 1 / 3
    # default path never caps
    assert align_metrics("x" * 10, "y" * 10)["capped"] is False


def test_pairwise_compare_capped_column(spark):
    """max_align_len plumbs through pairwise_compare: the output
    gains a `capped` column flagging exactly the over-cap pairs."""
    from ocr_compare_spark.operators.compare import pairwise_compare

    rows = [
        ("u_long", "dom", "L " + "x y z " * 500, 0.9),
        ("u_long", "density", "R " + "p q r " * 500, 0.95),
        ("u_short", "dom", "hello world", 0.9),
        ("u_short", "density", "hello there", 0.95),
    ]
    df = spark.createDataFrame(rows, "url string, engine string, doc_text string, confidence double")
    out = pairwise_compare(df, with_alignment=True, max_align_len=100)
    got = {r.url: r.capped for r in out.collect()}
    assert got == {"u_long": True, "u_short": False}
