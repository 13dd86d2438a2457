def test_paragraph_ppl_filter_matches_standalone_scores(spark, sf_dir):
    """A paragraph must score EXACTLY as it would as a standalone doc
    (same round6 contract), the reassembly must preserve order and
    blanks, and the cutoff must reproduce a driver-side replay."""
    import pyspark.sql.functions as F

    from ocr_compare_spark.operators.lm import (
        paragraph_ppl_filter,
        perplexity_scores,
        train_unigram_lm,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    model = train_unigram_lm(docs, "text", vocab_size=40)

    # standalone per-paragraph scores (the reference)
    paras = docs.select(
        "doc_id", F.posexplode(F.split("text", "\n\n", -1)).alias("pos", "para")
    ).withColumn("pid", F.concat_ws(":", "doc_id", "pos"))
    ref = {
        r["pid"]: r["cross_entropy"]
        for r in perplexity_scores(paras, model, id_col="pid", text_col="para",
                                   method="data").collect()
    }
    cutoff = sorted(ref.values())[len(ref) // 2]

    got = {
        r["id"]: (r["text"], r["n_paras"], r["n_dropped"])
        for r in paragraph_ppl_filter(docs, model, max_cross_entropy=cutoff).collect()
    }
    assert len(got) == 120
    rows = docs.select("doc_id", "text").collect()
    total_dropped = 0
    for r in rows:
        parts = r["text"].split("\n\n")
        kept = [
            p for i, p in enumerate(parts)
            if p.strip() == "" or ref[f"{r['doc_id']}:{i}"] <= cutoff
        ]
        text, n_paras, n_dropped = got[r["doc_id"]]
        assert text == "\n\n".join(kept), r["doc_id"]
        assert n_paras == len(parts)
        assert n_dropped == len(parts) - len(kept)
        total_dropped += n_dropped
    assert total_dropped > 0  # median cutoff drops a real tail


def test_paragraph_ppl_filter_keeps_blanks_and_order(spark):
    """Blank paragraphs survive unconditionally; surviving paragraphs
    keep document order even when interior ones drop."""
    import pyspark.sql.functions as F

    from ocr_compare_spark.operators.lm import paragraph_ppl_filter, train_unigram_lm

    base = spark.createDataFrame(
        [(0, "common words here\n\nzzq zzq zzq\n\n\t\n\ncommon words again")],
        "doc_id int, text string",
    )
    train = spark.createDataFrame(
        [(1, "common words here again " * 5)], "doc_id int, text string"
    )
    model = train_unigram_lm(train, "text")
    # in-vocab paragraphs score ce = -ln(5/20) ~ 1.386; the all-OOV
    # one ce = -ln(0.5/20) ~ 3.689 — cut between them
    r = paragraph_ppl_filter(base, model, max_cross_entropy=2.0).collect()[0]
    # the all-OOV paragraph drops; the tab-only paragraph (whitespace
    # separator artifact — F.trim would have missed it) survives
    assert r["text"] == "common words here\n\n\t\n\ncommon words again"
    assert (r["n_paras"], r["n_dropped"]) == (4, 1)
