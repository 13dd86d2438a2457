"""End-to-end training-data CURATION job: raw crawl pages in,
deduplicated high-quality text corpus out.

This is the composition a 100 TB pretraining pipeline actually runs,
built entirely from the engine's own operators — one declarative DAG,
no driver-side data paths:

  pages ──[--blocked-*]─────▶ URL blocklist (RefinedWeb order: the
                               cheapest gate runs FIRST, pruning the
                               extraction stage's input)
        ──run_engines_fused──▶ per-engine results
        ──pick_winner────────▶ one best text per url
        ──with_text_stats────▶ quality/token features (native exprs)
        ──quality gates──────▶ language + quality + length +
                               repetition (dup-line / top-2-gram) filters
        ──[--max-ce]─────────▶ CCNet-style unigram-LM perplexity gate
                               (model trained on the survivors, data
                               path: broadcast join, no driver vocab)
        ──[--para-dedup]─────▶ cross-doc paragraph-level exact dedup
                               (CCNet/Dolma boilerplate pass) + scrub
        ──[--substring-win]──▶ exact substring dedup (Lee et al.:
                               repeated token windows cut from every
                               occurrence but the global first)
        ──[--decontam-bench]─▶ drop docs sharing word n-grams with a
                               held-out benchmark/eval set
        ──lsh_candidates─────▶ near-dup pairs over SURVIVORS only
        ──dedup_keep_list────▶ connected components -> keep flag
        ──[--sample-rate]────▶ deterministic hash sample (layout-
                               independent; reruns emit the same set)
        ──[--token-budget]───▶ per-language token-budget mix
                               (distributed prefix sum)
        ──write──────────────▶ curated parquet + per-stage metrics
                               (--shard-tokens: deterministic
                               ~N-token training shards, one parquet
                               part per (lang, shard) directory)

Design notes for scale:
- Filters run BEFORE the LSH pass: the quality gates are O(row)
  native expressions while MinHash shuffles shingles — pruning first
  shrinks the expensive stage's input (predicate pushdown thinking at
  the pipeline level).
- Every stage count comes from ONE pass over a persisted stage
  boundary (no recomputation); the output is partitioned by lang so
  downstream per-language sampling prunes partitions.
- The keep-list join is per-doc row-local; the only quadratic-ish
  work (pair expansion) stays inside lsh_candidates' banded path.

CLI: python -m ocr_compare_spark.plans.curate --input <sf_dir>
         [--output DIR] [--min-quality Q] [--min-tokens N]
         [--max-tokens N] [--langs en,de] [--jaccard T]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def curate(
    spark,
    input_dir: str,
    output_dir: str | None = None,
    min_quality: float = 0.3,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    langs: tuple[str, ...] | None = None,
    jaccard_threshold: float = 0.8,
    keep_best: bool = False,
    max_dup_line_frac: float = 0.9,
    max_top2gram_share: float = 0.9,
    para_dedup: bool = False,
    para_min_dup_count: int = 2,
    scrub: bool = False,
    decontam_bench: str | None = None,
    decontam_text_col: str = "text",
    decontam_n: int = 8,
    decontam_min_hits: int = 1,
    sample_rate: float | None = None,
    token_budget: int | None = None,
    blocked_domains: tuple[str, ...] = (),
    blocked_patterns: tuple[str, ...] = (),
    max_cross_entropy: float | None = None,
    lm_vocab_size: int | None = None,
    shard_tokens: int | None = None,
    substring_window: int | None = None,
    gopher_gates: bool = False,
    c4_gates: bool = False,
    bpe_merges: int | None = None,
    normalize_form: str | None = None,
    nb_reference: str | None = None,
    nb_text_col: str = "text",
    nb_min_score: float = 0.0,
    nb_vocab_size: int | None = 50_000,
    max_per_host: int | None = None,
    ppl_paragraphs: bool = False,
    dedup_lines: bool = False,
    mix_alpha: float | None = None,
    dsir_target: str | None = None,
    dsir_text_col: str = "text",
    dsir_k: int = 1 << 30,
    robots_txt: str | None = None,
    robots_agent: str = "ccbot",
    dolma_out: str | None = None,
    sig_store: str | None = None,
    profile: bool = False,
    profile_hh_threshold: int = 1000,
    splits: dict[str, float] | None = None,
) -> dict:
    from pyspark.sql import functions as F

    from ocr_compare_spark import synth
    from ocr_compare_spark.operators import textstats
    from ocr_compare_spark.operators.dedup import dedup_keep_list, lsh_candidates
    from ocr_compare_spark.operators.extract import run_engines_fused
    from ocr_compare_spark.operators.winner import pick_winner

    num_partitions = spark.sparkContext.defaultParallelism

    pages = synth.pages_from_documents(spark, input_dir)
    n_in = pages.count()

    n_robots_blocked = None
    if robots_txt:
        # robots compliance FIRST (it is a crawl-time rule — before
        # even the blocklist): parse per host, decide natively per
        # url, drop disallowed pages before extraction ever runs
        from ocr_compare_spark.operators.robots import robots_gate

        rdf = spark.read.parquet(robots_txt)
        pages = robots_gate(pages, rdf, robots_agent).filter(
            F.col("robots_allowed")
        ).drop("robots_allowed", "crawl_delay")
        n_robots_blocked = n_in - pages.count()

    n_pages_live = n_in - (n_robots_blocked or 0)
    n_blocked = None
    if blocked_domains or blocked_patterns:
        # URL blocklist FIRST (RefinedWeb §3.1 order): a row-local
        # native filter that prunes the extraction UDF's input —
        # blocked pages never decode. Counts stay cheap: Catalyst
        # prunes the payload column out of both counts.
        from ocr_compare_spark.operators.webfilter import url_filter_columns

        wf = url_filter_columns("url", tuple(blocked_domains), tuple(blocked_patterns))
        pages = pages.filter(wf["block_reason"].isNull())
        n_blocked = n_pages_live - pages.count()

    winners = pick_winner(
        run_engines_fused(pages, with_spans=False, num_partitions=num_partitions)
    ).select("url", "engine", "doc_text", "confidence").join(
        pages.select("url", "lang"), "url"
    )

    if normalize_form:
        # Unicode normalization FIRST: every downstream hash-keyed
        # stage (para/substring/minhash dedup, LM vocab, BPE) keys on
        # the normalized bytes, so mixed NFC/NFD encodings of the same
        # page weld instead of splitting the hashes
        winners = winners.withColumn(
            "doc_text", textstats.normalize_unicode("doc_text", normalize_form)
        )

    if dedup_lines:
        # within-page template boilerplate (repeated nav/footer lines)
        # removed BEFORE stats/gates — cross-document repetition is the
        # para-dedup / substring stages below
        from ocr_compare_spark.operators.dedup import dedup_lines_within_doc

        winners = winners.withColumn(
            "doc_text", dedup_lines_within_doc("doc_text")["text"]
        )

    if c4_gates:
        # C4 order (Raffel et al. 2020 §2.2): the LINE filter rewrites
        # the text first (idempotent — surviving lines re-pass the
        # rules), then the page rules gate below. Stats/token counts
        # are computed on the retained text, as in the original.
        winners = winners.withColumn("doc_text", textstats.c4_clean_text("doc_text"))

    scored = textstats.with_text_stats(winners, "doc_text").withColumn(
        "lang_pred", textstats.langid_label("doc_text")
    )
    gates = (
        F.col("doc_text").isNotNull()
        & (F.col("quality_score") >= min_quality)
        & F.col("token_count").between(min_tokens, max_tokens)
        # repetition gates (Gopher/C4 family): boilerplate-dominated
        # or degenerate-repetition docs never reach the LSH stage
        & (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("top2gram_share") <= max_top2gram_share)
    )
    if langs:
        gates = gates & F.col("lang").isin(*langs)
    if gopher_gates:
        # the full Gopher rule set (mean word length, symbol ratio,
        # bullet/ellipsis lines, alphabetic-word fraction) — same
        # row-local native pass as the other gates
        gates = gates & textstats.gopher_pass("doc_text")
    if c4_gates:
        # doc_text was rewritten with c4_clean_text above, so the page
        # signals skip the line filter (already_clean: the fold would
        # otherwise inline once per signal — the array-lambda trap)
        gates = gates & textstats.c4_page_pass("doc_text", already_clean=True)
    kept = scored.filter(gates).persist()
    n_quality = kept.count()
    n_current = n_quality

    # stage-helper persists released together after the final count
    # (review r5: filtered/deduped/cut leaked text-carrying caches
    # through the LSH and mix stages)
    helper_persists = []

    n_high_ppl = None
    paras_dropped_ppl = None
    if max_cross_entropy is not None:
        # CCNet-style LM gate: train the unigram LM on the quality
        # survivors themselves (the in-domain reference), score via
        # the data path (broadcast vocab join — no driver collect,
        # plan O(1) in |vocab|). Runs BEFORE the dedup stages so junk
        # never shingles.
        from ocr_compare_spark.operators import lm as lm_ops

        model = lm_ops.train_unigram_lm(kept, "doc_text", vocab_size=lm_vocab_size)
        if ppl_paragraphs:
            # CCNet's actual granularity: drop high-CE PARAGRAPHS and
            # keep the (possibly shortened) documents — a page is
            # usually good prose wrapped in junk. Doc count unchanged
            # (like para_dedup); the per-paragraph drop is its own
            # metric.
            filtered = lm_ops.paragraph_ppl_filter(
                kept.select(F.col("url"), "doc_text"), model,
                id_col="url", text_col="doc_text",
                max_cross_entropy=max_cross_entropy,
            ).persist()
            helper_persists.append(filtered)
            paras_dropped_ppl = filtered.agg(F.sum("n_dropped")).first()[0] or 0
            old = kept
            kept = (
                kept.drop("doc_text")
                .join(filtered.select(F.col("id").alias("url"), "text"), "url")
                .withColumnRenamed("text", "doc_text")
                .persist()
            )
            old.unpersist()
        else:
            scores = lm_ops.perplexity_scores(
                kept.select("url", "doc_text"), model, "url", "doc_text", method="data"
            )
            good = scores.filter(F.col("cross_entropy") <= max_cross_entropy).select("url")
            old = kept
            kept = kept.join(good, "url", "left_semi").persist()
            n_after_ppl = kept.count()
            n_high_ppl = n_current - n_after_ppl
            n_current = n_after_ppl
            old.unpersist()

    n_low_nb = None
    if nb_reference is not None:
        # CCNet/GPT-3-style reference classifier: train NB on the
        # high-quality reference corpus (positive) vs the survivors
        # themselves (negative = crawl background), keep pages scored
        # reference-like. One counting pass to train, one broadcast-
        # join pass to score — no iterations, plan O(1) in vocab.
        from ocr_compare_spark.operators.classifier import score_nb, train_nb

        ref = spark.read.parquet(nb_reference).select(
            F.col(nb_text_col).alias("doc_text")
        )
        model = train_nb(
            ref, kept.select("doc_text"), "doc_text", vocab_size=nb_vocab_size
        )
        nb_good = score_nb(
            kept.select("url", "doc_text"), model, "url", "doc_text"
        ).filter(F.col("nb_score") > nb_min_score).select("url")
        old = kept
        kept = kept.join(nb_good, "url", "left_semi").persist()
        n_after_nb = kept.count()
        n_low_nb = n_current - n_after_nb
        n_current = n_after_nb
        old.unpersist()

    paras_dropped = None
    if para_dedup:
        # Cross-doc paragraph-level exact dedup (CCNet/Dolma): runs on
        # quality SURVIVORS (smallest input for the hash shuffle) and
        # BEFORE the LSH pass, so removed boilerplate paragraphs no
        # longer pollute the MinHash shingle sets. Replaces doc_text
        # with the deduplicated assembly; the two stage counts come
        # from the returned aggregate, no extra pass.
        from ocr_compare_spark.operators.dedup import paragraph_dedup

        deduped = paragraph_dedup(
            kept.select(F.col("url").alias("id"), F.col("doc_text")),
            "id", "doc_text", min_dup_count=para_min_dup_count,
        ).persist()
        helper_persists.append(deduped)
        paras_dropped = deduped.agg(F.sum("n_dropped")).first()[0] or 0
        old = kept
        kept = (
            kept.drop("doc_text")
            .join(deduped.select(F.col("id").alias("url"), "text"), "url")
            .withColumnRenamed("text", "doc_text")
            .persist()
        )
        old.unpersist()

    substring_tokens_removed = None
    if substring_window:
        # Exact substring dedup AFTER the paragraph pass (whole dup
        # paragraphs are already gone, so this catches sub-paragraph
        # boilerplate runs) and BEFORE the LSH pass (cut boilerplate
        # stays out of the shingle sets).
        from ocr_compare_spark.operators.dedup import substring_dedup

        cut = substring_dedup(
            kept.select(F.col("url").alias("id"), F.col("doc_text")),
            "id", "doc_text", window=substring_window,
            num_partitions=num_partitions,
        ).persist()
        helper_persists.append(cut)
        substring_tokens_removed = (
            cut.agg(F.sum("n_tokens_removed")).first()[0] or 0
        )
        old = kept
        kept = (
            kept.drop("doc_text")
            .join(cut.select(F.col("id").alias("url"), "text"), "url")
            .withColumnRenamed("text", "doc_text")
            .persist()
        )
        old.unpersist()

    if scrub:
        # typed-placeholder PII redaction on the output text (counts
        # are cheap enough to re-derive downstream if needed)
        kept = kept.withColumn("doc_text", textstats.scrub_pii("doc_text"))

    n_contaminated = None
    if decontam_bench:
        # Benchmark decontamination (GPT-3/Llama hygiene pass): DROP
        # any doc sharing >= decontam_min_hits distinct word n-grams
        # with the held-out eval set. The bench side is broadcast
        # (eval suites are MBs), so this costs one map-side probe of
        # the survivor gram stream + a tiny matched-rows shuffle.
        from ocr_compare_spark.operators.dedup import ngram_decontaminate

        bench = spark.read.parquet(decontam_bench)
        flags = ngram_decontaminate(
            kept.select(F.col("url").alias("id"), F.col("doc_text")),
            bench, "id", "doc_text", bench_text_col=decontam_text_col,
            n=decontam_n, min_hits=decontam_min_hits, num_partitions=num_partitions,
        )
        bad = flags.filter(F.col("contaminated")).select(F.col("id").alias("url"))
        kept = kept.join(bad, "url", "left_anti").persist()
        # para-dedup and scrub preserve doc count, so the pre-stage
        # count is still n_current (post-quality, post-ppl)
        n_after_decontam = kept.count()
        n_contaminated = n_current - n_after_decontam
        n_current = n_after_decontam

    # Near-dup pass over survivors only; stable numeric id = the url
    # hash (collision-free at this scale is not assumed — the id only
    # keys the dedup decision, and a collision merges two docs into
    # one cluster, dropping one: acceptable for curation, documented).
    keyed = kept.withColumn("doc_key", F.xxhash64("url"))
    pairs = lsh_candidates(
        keyed, "doc_key", "doc_text",
        verify_threshold=jaccard_threshold, num_partitions=num_partitions,
    )
    if keep_best:
        # quality-aware survivor election: each near-dup cluster
        # keeps its highest-quality_score member (ties to the lowest
        # doc_key) instead of the arbitrary min-id representative —
        # same component labels, same one-keeper-per-cluster
        # invariant, just a better winner (dedup.dedup_keep_best).
        from ocr_compare_spark.operators.dedup import dedup_keep_best

        decided = dedup_keep_best(keyed, pairs, "doc_key", "quality_score")
    else:
        decided = dedup_keep_list(keyed, pairs, "doc_key")
    curated = decided.filter(F.col("keep")).select(
        "url", "lang", "lang_pred", "engine", "doc_text",
        "confidence", "quality_score", "token_count", "component",
    )
    # Persist the dedup-stage boundary and count it HERE: the near-dup
    # drop metric must not also absorb rows removed by --sample-rate /
    # --token-budget (ADVICE r4), and the mix stages below re-read
    # this boundary instead of re-running the LSH DAG.
    curated = dedup_boundary = curated.persist()
    n_after_dedup = curated.count()
    n_boundary = n_after_dedup

    n_cross_crawl = None
    sig_rows = None
    if sig_store is not None:
        # Cross-CRAWL near-dup (the Dolma/RedPajama cross-dump pass):
        # this batch's MinHash signature rows vs the accumulated
        # parquet store of every PRIOR batch's kept docs — prior text
        # is never re-read, the store ships band hashes + shingle
        # hashes only. Hits drop here; this batch's FINAL kept docs
        # append their rows after the output is settled (so sampled-
        # out docs don't shield future crawls). The store's part files
        # are pinned at run start, so the append below cannot move the
        # snapshot the hits were computed against.
        from ocr_compare_spark.operators.dedup import (
            cross_batch_near_dups,
            minhash_tables,
        )
        from ocr_compare_spark.sources.cache import _parquet_files

        skeyed = curated.withColumn("doc_key", F.xxhash64("url"))
        sig_rows = minhash_tables(
            skeyed, "doc_key", "doc_text", num_partitions=num_partitions
        ).persist()
        helper_persists.append(sig_rows)
        store_files = _parquet_files(spark, sig_store)
        n_cross_crawl = 0
        if store_files:
            hits = cross_batch_near_dups(
                sig_rows, spark.read.parquet(*store_files),
                verify_threshold=jaccard_threshold,
            )
            dup_keys = hits.select(F.col("new_id").alias("doc_key")).distinct()
            curated = (
                skeyed.join(dup_keys, "doc_key", "left_anti")
                .drop("doc_key")
                .persist()
            )
            helper_persists.append(curated)
            dedup_boundary = curated
            n_boundary = curated.count()
            n_cross_crawl = n_after_dedup - n_boundary

    n_bpe_merges_learned = None
    if bpe_merges is not None:
        # Train the output tokenizer on the deduplicated corpus itself
        # and restate token_count in MODEL tokens: the budget / shard
        # stages below are specified in the tokens the training loader
        # will actually see, not the whitespace proxy. Training runs
        # on the persisted dedup boundary (word-type reduction makes
        # every round O(|word types|)); counts run on the final text.
        from ocr_compare_spark.operators import bpe as bpe_ops

        merges = bpe_ops.train_bpe(curated, "doc_text", n_merges=bpe_merges)
        n_bpe_merges_learned = len(merges)
        curated = (
            bpe_ops.bpe_token_counts(curated, merges, "doc_text")
            .drop("token_count")
            .withColumnRenamed("bpe_token_count", "token_count")
        )

    n_mix_base = n_boundary
    n_dsir_dropped = None
    if dsir_target is not None:
        # DSIR data selection (Xie et al. 2023): resample the
        # deduplicated corpus toward a target distribution — hashed
        # n-gram importance weights + deterministic Gumbel top-k.
        # Runs on the dedup boundary so junk/dups never count toward
        # the raw bucket model; the selected set is rerun-stable.
        from ocr_compare_spark.operators.dsir import (
            dsir_log_weights,
            dsir_resample,
        )

        tgt = spark.read.parquet(dsir_target).select(
            F.col(dsir_text_col).alias("doc_text")
        )
        w = dsir_log_weights(
            curated.select("url", "doc_text"), tgt, "url", "doc_text",
            checkpoint=bpe_merges is not None,
        )
        sel = dsir_resample(w, "url", dsir_k).select("url")
        curated = curated.join(sel, "url", "left_semi").persist()
        helper_persists.append(curated)
        n_mix_base = curated.count()
        n_dsir_dropped = n_boundary - n_mix_base

    # Mix-construction stages (operators/sampling.py): both are
    # deterministic functions of the url key, so a rerun — or the
    # same job at a different cluster size — emits the same corpus.
    tokens_out_by_lang = None
    if max_per_host is not None:
        # host balancing (RefinedWeb family): cap each host's share of
        # the output so mega-hosts can't dominate the mix. Token-budget
        # semantics at one token per row — deterministic hash-priority
        # prefix per host, layout/cluster-size-invariant.
        from ocr_compare_spark.functions.url import host_of
        from ocr_compare_spark.operators.sampling import cap_per_key

        # checkpoint only when curated is NOT already the persisted
        # dedup boundary (the bpe stage derives a new UDF-backed plan)
        curated = cap_per_key(
            curated.withColumn("_host", host_of(F.col("url"))),
            "_host", max_per_host, "url",
            checkpoint=bpe_merges is not None,
        ).drop("_host")
    if mix_alpha is not None:
        # temperature-balanced language mixing (mC4/XLM-R): head
        # languages are downsampled so lang l contributes tokens
        # proportional to n_l^alpha — deterministic hash filter, the
        # kept set is layout/cluster-size-invariant. Weights use the
        # FINAL text's token counts (model tokens when --bpe-merges
        # already restated them).
        from ocr_compare_spark.operators.sampling import temperature_mix

        if bpe_merges is None:
            curated = curated.withColumn(
                "token_count", textstats.stats_columns("doc_text")["token_count"]
            )
        curated = temperature_mix(
            curated, "lang", "token_count", "url", mix_alpha,
            checkpoint=bpe_merges is not None,
        )
    if sample_rate is not None:
        from ocr_compare_spark.operators.sampling import hash_sample

        curated = hash_sample(curated, "url", sample_rate)
    if token_budget is not None:
        # per-language token budget over the FINAL text (para-dedup /
        # scrub may have changed it since the gate-stage token_count)
        from ocr_compare_spark.operators.sampling import (
            hash_frac,
            token_budget_sample_bucketed,
        )

        if bpe_merges is not None:
            # token_count is already model tokens over the final text
            recounted = curated.withColumn("_prio", hash_frac("url"))
        else:
            recounted = curated.withColumn(
                "token_count", textstats.stats_columns("doc_text")["token_count"]
            ).withColumn("_prio", hash_frac("url"))
        curated = token_budget_sample_bucketed(
            recounted, "lang", "token_count", token_budget, "_prio", "url"
        ).drop("_prio")
        tokens_out_by_lang = {
            r["lang"]: r["t"]
            for r in curated.groupBy("lang").agg(F.sum("token_count").alias("t")).collect()
        }

    if splits:
        # deterministic train/val/test assignment on the FINAL kept
        # set, keyed on url. Near-dups were already removed by the
        # para/LSH stages, so url-keying cannot leak a surviving
        # near-duplicate across splits; callers who skip dedup should
        # split on a cluster representative instead (see
        # sampling.assign_split's docstring). Counts are taken from
        # the MATERIALIZED output below (no extra pass over the plan).
        from ocr_compare_spark.operators.sampling import assign_split

        curated = assign_split(curated, "url", splits)

    n_shards = None
    if output_dir:
        if shard_tokens is not None:
            # final mix-construction step: pack the corpus into
            # deterministic ~shard_tokens-token training shards (one
            # parquet part per (lang, shard) dir — the layout a
            # training loader streams sequentially; rerun-identical
            # membership, so re-emitting a shard after a failure is
            # byte-stable)
            from ocr_compare_spark.operators.sampling import (
                assign_token_shards,
                hash_frac,
                write_token_shards,
            )

            sharded = assign_token_shards(
                curated.withColumn("_prio", hash_frac("url")),
                "lang", "token_count", shard_tokens, "_prio", "url",
            ).drop("_prio")
            write_token_shards(sharded, f"{output_dir}/corpus")
            out = spark.read.parquet(f"{output_dir}/corpus")
            n_out = out.count()
            n_shards = out.select("lang", "shard").distinct().count()
        else:
            curated.write.mode("overwrite").partitionBy("lang").parquet(
                f"{output_dir}/corpus"
            )
            out = spark.read.parquet(f"{output_dir}/corpus")
            n_out = out.count()
    else:
        curated = curated.persist()
        n_out = curated.count()

    if dolma_out:
        # interchange export: Dolma-shaped gzip JSONL documents tree
        # (id = url, metadata carries the curation signals), written
        # from the already-materialized boundary — no recomputation
        from ocr_compare_spark.sources import jsonl

        src = out if output_dir else curated
        meta_cols = [c for c in ("token_count", "quality") if c in src.columns]
        jsonl.write_documents(
            src, dolma_out, id_col="url",
            text_col="doc_text" if "doc_text" in src.columns else "text",
            metadata_cols=meta_cols or None,
            partition_by="lang", shards_per_partition=8,
        )

    if sig_store is not None:
        # append the FINAL kept docs' signature rows (not the dedup
        # boundary's: sampled-out docs are not in the corpus and must
        # not shield future crawls)
        final_keys = (out if output_dir else curated).select(
            F.xxhash64("url").alias("id")
        ).distinct()
        sig_rows.join(final_keys, "id", "left_semi").write.mode(
            "append"
        ).parquet(sig_store)

    corpus_profile = None
    if profile:
        # sketch-based corpus profile over the FINAL output — the
        # 100-TB health check a curation run ships with its metrics:
        # estimated distinct vocabulary per lang (HLL, one slim-row
        # shuffle) + heavy-hitter tokens (CMS, bounded counter
        # table). Driver traffic is registers + the heavy-hitter
        # list, never the token stream.
        from ocr_compare_spark.operators import sketches

        src = out if output_dir else curated
        tcol = "doc_text" if "doc_text" in src.columns else "text"
        toks = src.repartition(num_partitions).select(
            "lang",
            F.explode(F.split(F.lower(F.col(tcol)), r"\s+")).alias("tok"),
        ).filter(
            # split(limit=-1) keeps the empty token a trailing newline
            # produces (CLAUDE.md whitespace-class family) — without
            # this, '' tops the heavy-hitter dict and pads vocabulary
            F.col("tok") != ""
        ).persist()
        vocab = {
            r["lang"]: r["est6"] / 1e6
            for r in sketches.hll_count_distinct(
                toks, "tok", ("lang",), p=12
            ).collect()
        }
        hh = {
            r["tok"]: r["est_cnt"]
            for r in sketches.cms_heavy_hitters(
                toks, "tok", depth=4, width=2048,
                threshold=profile_hh_threshold,
            ).collect()
        }
        toks.unpersist()
        # doc-length distribution per lang via DDSketch (bounded
        # bucket table — the driver sees quantile rows, never the
        # per-doc length stream); same empty-token filter as the
        # token sketches
        lens = src.select(
            "lang",
            F.size(
                F.filter(
                    F.split(F.lower(F.col(tcol)), r"\s+"),
                    lambda x: x != "",
                )
            ).cast("long").alias("v"),
        )
        dd = sketches.dd_build(lens, "v", ("lang",), alpha=0.02,
                               num_partitions=num_partitions)
        qrows = sketches.dd_quantiles(
            dd, (0.5, 0.95, 0.99), ("lang",), alpha=0.02
        ).collect()
        len_quantiles: dict = {}
        for r in qrows:
            len_quantiles.setdefault(r["lang"], {})[
                f"q{int(round(r['q'] * 100))}"
            ] = r["est6"] / 1e6
        corpus_profile = {
            "est_distinct_tokens_by_lang": vocab,
            "heavy_hitter_tokens": hh,
            "hh_threshold": profile_hh_threshold,
            "token_count_quantiles_by_lang": len_quantiles,
        }

    split_counts = None
    if splits:
        # counts come from the materialized output (parquet read or
        # the persisted frame) — one tiny aggregate, no plan re-run
        src = out if output_dir else curated
        split_counts = {
            r["split"]: r["n"]
            for r in src.groupBy("split").agg(F.count("*").alias("n")).collect()
        }

    kept.unpersist()
    dedup_boundary.unpersist()
    for h in helper_persists:
        h.unpersist()
    metrics = {
        "docs_in": n_in,
        "docs_after_quality": n_quality,
        "docs_after_dedup": n_after_dedup,
        "docs_out": n_out,
        "dropped_robots": n_robots_blocked,
        "dropped_blocklist": n_blocked,
        "dropped_quality": (n_pages_live - (n_blocked or 0)) - n_quality,
        "dropped_high_ppl": n_high_ppl,
        "paras_dropped_ppl": paras_dropped_ppl,
        "dropped_low_nb": n_low_nb,
        # n_current here = post-quality/ppl/decontam (para-dedup and
        # scrub preserve doc count), so this is ONLY the LSH drop
        "dropped_near_dup": n_current - n_after_dedup,
        "dropped_cross_crawl": n_cross_crawl,
        "dropped_dsir": n_dsir_dropped,
        "dropped_sampling": n_mix_base - n_out,
        "paras_dropped": paras_dropped,
        "substring_tokens_removed": substring_tokens_removed,
        "dropped_contaminated": n_contaminated,
        "tokens_out_by_lang": tokens_out_by_lang,
        "n_shards": n_shards,
        "params": {
            "min_quality": min_quality,
            "min_tokens": min_tokens,
            "max_tokens": max_tokens,
            "langs": list(langs) if langs else None,
            "jaccard_threshold": jaccard_threshold,
            "keep_best": keep_best,
            "max_dup_line_frac": max_dup_line_frac,
            "max_top2gram_share": max_top2gram_share,
            "para_dedup": para_dedup,
            "para_min_dup_count": para_min_dup_count,
            "scrub": scrub,
            "decontam_bench": decontam_bench,
            "decontam_n": decontam_n,
            "decontam_min_hits": decontam_min_hits,
            "sample_rate": sample_rate,
            "token_budget": token_budget,
            "blocked_domains": list(blocked_domains),
            "blocked_patterns": list(blocked_patterns),
            "max_cross_entropy": max_cross_entropy,
            "lm_vocab_size": lm_vocab_size,
            "shard_tokens": shard_tokens,
            "substring_window": substring_window,
            "gopher_gates": gopher_gates,
            "c4_gates": c4_gates,
            "bpe_merges": bpe_merges,
            "normalize_form": normalize_form,
            "nb_reference": nb_reference,
            "nb_min_score": nb_min_score if nb_reference else None,
            "max_per_host": max_per_host,
            "ppl_paragraphs": ppl_paragraphs,
            "dedup_lines": dedup_lines,
            "mix_alpha": mix_alpha,
            "dsir_target": dsir_target,
            "dsir_k": dsir_k if dsir_target else None,
            "robots_txt": robots_txt,
            "robots_agent": robots_agent if robots_txt else None,
            "sig_store": sig_store,
            "splits": splits,
        },
        "bpe_merges_learned": n_bpe_merges_learned,
        "split_counts": split_counts,
        "profile": corpus_profile,
    }
    if output_dir:
        with open(f"{output_dir}/curation_metrics.json", "w") as f:
            json.dump(metrics, f)
    return metrics


def parse_splits(spec: str | None) -> dict[str, float] | None:
    """'train=0.98,val=0.01,test=0.01' -> ordered weight dict (order
    matters: it fixes the cumulative hash_frac bounds)."""
    if not spec:
        return None
    out: dict[str, float] = {}
    for part in spec.split(","):
        name, _, w = part.partition("=")
        if not name or not w:
            raise ValueError(f"--splits: malformed entry {part!r}")
        out[name.strip()] = float(w)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.01")
    ap.add_argument("--output", default=None)
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--max-tokens", type=int, default=100_000)
    ap.add_argument("--langs", default=None)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--keep-best", action="store_true",
                    help="near-dup clusters keep their highest-quality_score "
                         "member instead of the min-id representative")
    ap.add_argument("--max-dup-line-frac", type=float, default=0.9)
    ap.add_argument("--max-top2gram-share", type=float, default=0.9)
    ap.add_argument("--para-dedup", action="store_true",
                    help="cross-doc paragraph-level exact dedup before the LSH pass")
    ap.add_argument("--para-min-dup-count", type=int, default=2)
    ap.add_argument("--scrub", action="store_true",
                    help="redact PII (email/ip/ssn/phone) in the output text")
    ap.add_argument("--decontam-bench", default=None,
                    help="parquet path of a held-out benchmark/eval set; "
                         "docs sharing word n-grams with it are dropped")
    ap.add_argument("--decontam-text-col", default="text")
    ap.add_argument("--decontam-n", type=int, default=8)
    ap.add_argument("--decontam-min-hits", type=int, default=1)
    ap.add_argument("--sample-rate", type=float, default=None,
                    help="deterministic hash-sample rate on the curated output")
    ap.add_argument("--token-budget", type=int, default=None,
                    help="per-language token budget on the curated output "
                         "(distributed-prefix-sum mix construction)")
    ap.add_argument("--blocked-domain", action="append", default=[],
                    help="drop pages whose host is (a subdomain of) this "
                         "domain, before extraction; repeatable")
    ap.add_argument("--blocked-pattern", action="append", default=[],
                    help="drop pages whose url matches this regex, before "
                         "extraction; repeatable")
    ap.add_argument("--max-ce", type=float, default=None,
                    help="CCNet-style gate: drop docs whose unigram-LM "
                         "cross-entropy exceeds this (model trained on the "
                         "quality survivors)")
    ap.add_argument("--lm-vocab-size", type=int, default=None,
                    help="vocab cap for the --max-ce language model")
    ap.add_argument("--shard-tokens", type=int, default=None,
                    help="pack the output into deterministic training "
                         "shards of ~N tokens each (one parquet part per "
                         "(lang, shard) directory); requires --output")
    ap.add_argument("--substring-window", type=int, default=None,
                    help="exact substring dedup: cut every repeated "
                         "N-token window except its first occurrence")
    ap.add_argument("--gopher", action="store_true",
                    help="apply the full Gopher quality rule set in the "
                         "quality gate stage")
    ap.add_argument("--c4", action="store_true",
                    help="apply the C4 line filter (rewrites the text) and "
                         "page rules in the quality gate stage")
    ap.add_argument("--dedup-lines", action="store_true",
                    help="remove repeated lines WITHIN each page before "
                         "stats/gates (template boilerplate)")
    ap.add_argument("--para-ppl", action="store_true",
                    help="apply --max-ce at PARAGRAPH granularity (drop "
                         "high-CE paragraphs, keep the shortened docs)")
    ap.add_argument("--dsir-target", default=None,
                    help="parquet dir of a TARGET corpus; DSIR-resample "
                         "the deduplicated docs toward its hashed n-gram "
                         "distribution (Gumbel top-k importance sampling)")
    ap.add_argument("--dsir-text-col", default="text")
    ap.add_argument("--dsir-k", type=int, default=1 << 30,
                    help="number of docs DSIR keeps (default: no cap — "
                         "weights only rank, nothing dropped)")
    ap.add_argument("--robots-txt", default=None,
                    help="parquet of (host, robots_txt) captures; drop "
                         "pages the host disallows for --robots-agent "
                         "(RFC 9309) before any other stage")
    ap.add_argument("--robots-agent", default="ccbot")
    ap.add_argument("--profile", action="store_true",
                    help="emit a sketch-based corpus profile with the "
                         "metrics (HLL distinct vocabulary per lang + "
                         "CMS heavy-hitter tokens)")
    ap.add_argument("--profile-hh-threshold", type=int, default=1000)
    ap.add_argument("--splits", default=None,
                    help="deterministic train/val/test assignment on the "
                         "final output, e.g. 'train=0.98,val=0.01,test=0.01' "
                         "(weights must sum to 1; keyed on url)")
    ap.add_argument("--sig-store", default=None,
                    help="cross-crawl MinHash signature store dir: "
                         "drop docs near-duplicating PRIOR crawls' "
                         "kept docs, then append this run's kept "
                         "docs' signatures")
    ap.add_argument("--dolma-out", default=None,
                    help="also export the curated corpus as a Dolma-"
                         "shaped gzip JSONL documents tree (id=url, "
                         "lang-partitioned)")
    ap.add_argument("--mix-alpha", type=float, default=None,
                    help="temperature-balanced language mixing (mC4/"
                         "XLM-R): downsample head languages so lang l "
                         "contributes ~n_l^alpha tokens")
    ap.add_argument("--max-per-host", type=int, default=None,
                    help="cap each host's pages in the output mix "
                         "(deterministic hash-priority prefix per host)")
    ap.add_argument("--nb-reference", default=None,
                    help="parquet dir of a high-quality reference corpus; "
                         "train an NB classifier (reference vs survivors) "
                         "and keep pages scored reference-like")
    ap.add_argument("--nb-min-score", type=float, default=0.0)
    ap.add_argument("--normalize", default=None, choices=["NFC", "NFD", "NFKC", "NFKD"],
                    help="unicode-normalize the winner text before any "
                         "gate or hash-keyed stage")
    ap.add_argument("--bpe-merges", type=int, default=None,
                    help="train an N-merge BPE tokenizer on the deduplicated "
                         "corpus and restate token budgets/shards in model "
                         "tokens")
    args = ap.parse_args()

    from ocr_compare_spark.session import get_spark

    spark = get_spark(app_name="ocr_compare_curate")
    spark.sparkContext.setLogLevel("WARN")
    m = curate(
        spark,
        args.input,
        args.output,
        min_quality=args.min_quality,
        min_tokens=args.min_tokens,
        max_tokens=args.max_tokens,
        langs=tuple(args.langs.split(",")) if args.langs else None,
        jaccard_threshold=args.jaccard,
        keep_best=args.keep_best,
        max_dup_line_frac=args.max_dup_line_frac,
        max_top2gram_share=args.max_top2gram_share,
        para_dedup=args.para_dedup,
        para_min_dup_count=args.para_min_dup_count,
        scrub=args.scrub,
        decontam_bench=args.decontam_bench,
        decontam_text_col=args.decontam_text_col,
        decontam_n=args.decontam_n,
        decontam_min_hits=args.decontam_min_hits,
        sample_rate=args.sample_rate,
        token_budget=args.token_budget,
        blocked_domains=tuple(args.blocked_domain),
        blocked_patterns=tuple(args.blocked_pattern),
        max_cross_entropy=args.max_ce,
        lm_vocab_size=args.lm_vocab_size,
        shard_tokens=args.shard_tokens,
        substring_window=args.substring_window,
        gopher_gates=args.gopher,
        c4_gates=args.c4,
        bpe_merges=args.bpe_merges,
        normalize_form=args.normalize,
        nb_reference=args.nb_reference,
        nb_min_score=args.nb_min_score,
        max_per_host=args.max_per_host,
        ppl_paragraphs=args.para_ppl,
        dedup_lines=args.dedup_lines,
        mix_alpha=args.mix_alpha,
        dsir_target=args.dsir_target,
        dsir_text_col=args.dsir_text_col,
        dsir_k=args.dsir_k,
        robots_txt=args.robots_txt,
        robots_agent=args.robots_agent,
        dolma_out=args.dolma_out,
        sig_store=args.sig_store,
        profile=args.profile,
        profile_hh_threshold=args.profile_hh_threshold,
        splits=parse_splits(args.splits),
    )
    print("CURATE_JSON:" + json.dumps(m))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
