"""Text-analysis operators: repetition quality signals.

The rest of the textstats surface (counts, ratios, quality score,
fingerprint, langid) is pinned by the DuckDB oracle gate
(`textstats` / `quality_topk` / `fingerprint` / `langid` queries);
these tests pin the repetition columns against a hand-computed
reference on planted repetitive docs, including the corner cases the
oracle corpus doesn't plant (empty text, single word).
"""

from __future__ import annotations

import re
from collections import Counter

from ocr_compare_spark.operators.textstats import with_text_stats

CASES = [
    (1, "a b a b a b\nx\nx\ny"),
    (2, "single"),
    (3, ""),
    (4, "one two three four"),
    (5, "dup dup dup dup"),
    (6, "line1\nline1\nline1"),
    (7, "nav home | nav home | nav home content here"),
]


def _ref(text: str) -> tuple[float, float]:
    lines = text.split("\n")
    dup_line_frac = round(1.0 - len(set(lines)) / len(lines), 6)
    toks = re.split(r"\s+", text)
    grams = [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]
    if not grams:
        top2 = 0.0
    else:
        top2 = round(max(Counter(grams).values()) / len(grams), 6)
    return dup_line_frac, top2


def test_repetition_columns_match_reference(spark):
    df = spark.createDataFrame(CASES, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["dup_line_frac"], r["top2gram_share"])
        for r in with_text_stats(df, "text")
        .select("doc_id", "dup_line_frac", "top2gram_share")
        .collect()
    }
    for doc_id, text in CASES:
        assert got[doc_id] == _ref(text), (doc_id, got[doc_id], _ref(text))


# The driver corpus is PII-free (the oracle row proves SQL-equivalence
# at zero counts); these cases plant actual PII so the counts and the
# redaction are pinned on non-trivial input, INCLUDING a DuckDB
# cross-check of the exact SQL twins __spark_entry__ emits.
PII_CASES = [
    (1, "contact alice.smith+dev@example.co.uk or bob@x.io today"),
    (2, "server at 10.0.255.3 and 192.168.1.1, port 8080"),
    (3, "ssn 123-45-6789 phone 555-123-4567 alt 555.123.4567"),
    (4, "no pii here, just 1234 numbers and a dot. end"),
    (5, ""),
    (6, "edge 999.999.999.999 is still ipv4-shaped; 12.34.56.78.90 trails"),
]


def test_pii_counts_and_scrub_match_duckdb_twins(spark):
    import duckdb
    from pyspark.sql import functions as F

    from ocr_compare_spark.operators.textstats import PII_PATTERNS, pii_columns, scrub_pii

    df = spark.createDataFrame(PII_CASES, "doc_id int, text string")
    cols = pii_columns("text")
    got = {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id",
            *[c.alias(n) for n, c in cols.items()],
            scrub_pii("text").alias("scrubbed"),
        ).collect()
    }

    # hand-pinned expectations on the planted rows
    assert got[1]["n_email"] == 2 and "<EMAIL>" in got[1]["scrubbed"]
    assert "alice" not in got[1]["scrubbed"] and "bob@x.io" not in got[1]["scrubbed"]
    assert got[2]["n_ipv4"] == 2 and got[2]["scrubbed"].count("<IP>") == 2
    assert "8080" in got[2]["scrubbed"]  # ports survive
    assert got[3]["n_ssn"] == 1 and got[3]["n_phone"] == 2
    assert got[3]["scrubbed"] == "ssn <SSN> phone <PHONE> alt <PHONE>"
    assert got[4] == {
        "doc_id": 4, "n_email": 0, "n_ipv4": 0, "n_ssn": 0, "n_phone": 0,
        "scrubbed": PII_CASES[3][1],
    }
    assert got[5]["scrubbed"] == ""

    # DuckDB twin equivalence (the same SQL the oracle emits)
    con = duckdb.connect()
    count_sql = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    scrub_sql = "text"
    for _, pat, placeholder in PII_PATTERNS:
        scrub_sql = f"regexp_replace({scrub_sql}, '{pat}', '{placeholder}', 'g')"
    for doc_id, text in PII_CASES:
        row = con.execute(
            f"SELECT {count_sql}, {scrub_sql} AS scrubbed FROM (SELECT ? AS text)",
            [text],
        ).fetchone()
        names = [f"n_{n}" for n, _, _ in PII_PATTERNS] + ["scrubbed"]
        duck = dict(zip(names, row))
        for k in names:
            assert duck[k] == got[doc_id][k], (doc_id, k, duck[k], got[doc_id][k])


GOPHER_CASES = [
    (1, "short ok words here\n- bullet one\n- bullet two\nmore..."),
    (2, "#### ## # hash heavy doc #"),
    (3, "trailing lines end badly...\nanother one…\nclean line"),
    (4, "12345 67890 :-) >>> +++"),          # no alphabetic words
    (5, "a bb ccc dddd"),                     # mean_word_len = 2.5
    (6, "perfectly normal english sentence with reasonable words"),
]


def test_gopher_signals_planted(spark):
    """Planted non-zero Gopher signals (the oracle corpus has no
    bullets/ellipses/symbols) + DuckDB twin equivalence."""
    import duckdb
    import math

    from ocr_compare_spark.operators.textstats import gopher_columns

    df = spark.createDataFrame(GOPHER_CASES, "doc_id int, text string")
    cols = gopher_columns("text")
    got = {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id", *[c.alias(n) for n, c in cols.items()]
        ).collect()
    }

    # hand-pinned values
    assert got[1]["bullet_line_frac"] == 0.5  # 2 of 4 lines
    assert got[1]["ellipsis_line_frac"] == 0.25  # 'more...'
    assert got[2]["symbol_word_ratio"] == round(8 / 7, 6)  # 8 '#', 7 words
    assert got[3]["ellipsis_line_frac"] == round(2 / 3, 6)
    assert got[4]["alpha_word_frac"] == 0.0
    assert got[5]["mean_word_len"] == 2.5
    assert got[6]["alpha_word_frac"] == 1.0

    # DuckDB twin (same SQL fragments the textstats oracle emits)
    con = duckdb.connect()
    sql = r"""
      SELECT
        round(CAST(list_sum(list_transform(string_split_regex(text, '\s+'), x -> length(x))) AS DOUBLE)
              / len(string_split_regex(text, '\s+')), 6),
        round(CAST((length(text) - length(replace(text, '#', ''))) + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
              / len(string_split_regex(text, '\s+')), 6),
        round(CAST(len(list_filter(string_split(text, chr(10)), x -> regexp_matches(x, '^\s*[-*•]'))) AS DOUBLE)
              / len(string_split(text, chr(10))), 6),
        round(CAST(len(list_filter(string_split(text, chr(10)), x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS DOUBLE)
              / len(string_split(text, chr(10))), 6),
        round(CAST(len(list_filter(string_split_regex(text, '\s+'), x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
              / len(string_split_regex(text, '\s+')), 6)
      FROM (SELECT ? AS text)
    """
    names = ["mean_word_len", "symbol_word_ratio", "bullet_line_frac",
             "ellipsis_line_frac", "alpha_word_frac"]
    for doc_id, text in GOPHER_CASES:
        row = con.execute(sql, [text]).fetchone()
        for name, v in zip(names, row):
            assert math.isclose(got[doc_id][name], v, abs_tol=0), (doc_id, name)
