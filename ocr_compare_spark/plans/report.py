"""Comparison-report JSON rows (reference fixture shape).

Reference: examples/ocr_comparison.py:244-259 writes one JSON report
per run: ``{comparison: {text_extraction, confidence_scores},
text_analysis: {stats, similarities}, text_samples}`` — FIXTURES.md
§6. Here the report is a per-url row (one JSON document per url,
sink = ``df.write.json`` / JSONL), which is the scale-sane form of
the same shape: a 10^12-doc corpus cannot be one JSON object.

text_samples = first 1000 chars + '...' (ocr_comparison.py:253-257).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def report_rows(results: DataFrame, compare: DataFrame) -> DataFrame:
    """(url, report) — report matches the reference fixture keys."""
    ok = results.filter(F.col("error").isNull())
    per_engine = ok.groupBy("url").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct(F.col("engine"), F.col("doc_text"))))
        ).alias("text_extraction"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct(F.col("engine"), F.col("confidence"))))
        ).alias("confidence_scores"),
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("engine"),
                        F.struct(
                            F.length("doc_text").alias("char_count"),
                            F.size(F.split("doc_text", r"\s+")).alias("word_count"),
                            F.size(F.split("doc_text", r"\n")).alias("line_count"),
                        ),
                    )
                )
            )
        ).alias("stats"),
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("engine"),
                        F.when(
                            F.length("doc_text") > 1000,
                            F.concat(F.substring("doc_text", 1, 1000), F.lit("...")),
                        ).otherwise(F.col("doc_text")),
                    )
                )
            )
        ).alias("text_samples"),
    )
    sims = compare.groupBy("url").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.concat(F.col("engine_a"), F.lit("_vs_"), F.col("engine_b")),
                        F.round("jaccard", 6),
                    )
                )
            )
        ).alias("similarities")
    )
    joined = per_engine.join(sims, "url", "left").withColumn(
        # single-engine docs (PDFs) have no pairs; keep the fixture
        # key present as an empty map (to_json drops null fields)
        "similarities",
        F.coalesce(F.col("similarities"), F.create_map().cast("map<string,double>")),
    )
    report = F.struct(
        F.struct(F.col("text_extraction"), F.col("confidence_scores")).alias("comparison"),
        F.struct(F.col("stats"), F.col("similarities")).alias("text_analysis"),
        F.col("text_samples"),
    )
    return joined.select("url", F.to_json(report).alias("report"))
