"""PMI phrase mining vs the textbook python mirror (bit-for-bit incl.
the floor-round6'd PMI and the global ranking)."""

from __future__ import annotations

import math
import re
from collections import Counter

from ocr_compare_spark.operators.phrases import pmi_phrases

DOCS = [
    "new york is big and new york is busy",
    "the new deal and the old deal",
    "york minster is in york not in new york",
    "big data new york big data pipelines",
    "",  # no tokens
    "solo",  # single token: no bigrams
    "a1 b2 a1 b2 a1 b2 a1 b2",
]


def py_pmi_phrases(docs, min_count, k):
    uni, big = Counter(), Counter()
    for d in docs:
        toks = re.findall("[a-z0-9]+", d.lower())
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    n = sum(uni.values())
    out = []
    for (w1, w2), c in big.items():
        if c < min_count:
            continue
        pmi6 = math.floor(
            (math.log(float(c)) + math.log(float(n)) - math.log(float(uni[w1]))
             - math.log(float(uni[w2]))) * 1e6 + 0.5
        )
        out.append((pmi6, w1, w2, c))
    out.sort(key=lambda t: (-t[0], t[1], t[2]))
    return [(i + 1, w1, w2, c, p) for i, (p, w1, w2, c) in enumerate(out[:k])]


def test_pmi_matches_mirror(spark):
    df = spark.createDataFrame([(d,) for d in DOCS], ["text"])
    got = [
        (r.rank, r.w1, r.w2, r.c_ab, r.pmi6)
        for r in pmi_phrases(df, "text", min_count=2, k=10).collect()
    ]
    assert got == py_pmi_phrases(DOCS, 2, 10)
    # 'new york' must be present (cross-doc aggregated count >= 2);
    # doc-boundary pairs like ('busy','the') must never appear
    pairs = {(w1, w2) for _, w1, w2, _, _ in got}
    assert ("new", "york") in pairs
    assert ("busy", "the") not in pairs


def test_min_count(spark):
    df = spark.createDataFrame([(d,) for d in DOCS], ["text"])
    rows = lambda r: [(x.rank, x.w1, x.w2, x.c_ab, x.pmi6) for x in r]  # noqa: E731
    got = rows(pmi_phrases(df, "text", min_count=4, k=50).collect())
    assert got == py_pmi_phrases(DOCS, 4, 50)
    # only the pairs seen >= 4 times corpus-wide survive min_count=4:
    # (a1,b2) x4 in the repeat doc, (new,york) x4 across docs 0/2/3
    assert {(w1, w2) for _, w1, w2, _, _ in got} == {("a1", "b2"), ("new", "york")}
    assert all(c >= 4 for _, _, _, c, _ in got)
