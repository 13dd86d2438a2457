"""Spark end-to-end invariants: byte-identical assembly, determinism
under partitioning, winner/cache/chunking semantics."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ocr_compare_spark import synth
from ocr_compare_spark.operators.assemble import assemble_doc_text
from ocr_compare_spark.operators.chunking import explode_segments, renumber_pages
from ocr_compare_spark.operators.extract import run_engine, run_engines_fused, spans_table
from ocr_compare_spark.operators.winner import pick_winner
from ocr_compare_spark.sources import cache as cache_mod


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return synth.pages_from_documents(spark, sf_dir).limit(120).cache()


@pytest.fixture(scope="module")
def results(spark, pages):
    return run_engines_fused(pages).cache()


def _golden(sf_dir):
    docs = duckdb.sql(
        f"select doc_id, text from read_parquet('{sf_dir}/documents.parquet')"
    ).df()
    return {int(r.doc_id): r.text for r in docs.itertuples()}


def test_byte_identical_extraction(results, sf_dir):
    golden = _golden(sf_dir)
    exp_fn = {
        "dom": synth.expected_dom_text,
        "density": synth.expected_density_text,
        "pdf": synth.expected_pdf_text,
    }
    rows = results.select("url", "engine", "doc_text").collect()
    assert rows
    for r in rows:
        did = int(r.url.rsplit("/", 1)[1])
        assert r.doc_text == exp_fn[r.engine](golden[did], did), (r.url, r.engine)


def test_assembly_equals_fast_path(results):
    asm = assemble_doc_text(spans_table(results))
    joined = asm.join(
        results.select("url", "engine", F.col("doc_text").alias("fast")), ["url", "engine"]
    )
    assert joined.count() == results.filter(F.col("error").isNull()).count()
    assert joined.filter(F.col("doc_text") != F.col("fast")).count() == 0


def test_determinism_across_partitionings(spark, pages):
    """north_rule: byte-identical output independent of parallelism."""
    a = run_engine(pages.repartition(1), "dom").select("url", "doc_text")
    b = run_engine(pages.repartition(13, "url"), "dom").select("url", "doc_text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_winner_rules(results):
    w = pick_winner(results)
    rows = {r.url: r.engine for r in w.collect()}
    for url, eng in rows.items():
        assert eng == ("pdf" if int(url.rsplit("/", 1)[1]) % 10 == synth.PDF_MOD else "density")


def test_cache_roundtrip(spark, pages):
    keyed = cache_mod.with_cache_key(pages, engine="dom")
    empty_cache = spark.createDataFrame([], "engine string, content_hash string, kwargs_hash string")
    hits, misses = cache_mod.split_hits_misses(keyed, empty_cache)
    n = pages.count()
    assert hits.count() == 0 and misses.count() == n
    # seed the cache with everything -> second run all hits
    seeded = keyed.select("engine", "content_hash", "kwargs_hash")
    hits2, misses2 = cache_mod.split_hits_misses(keyed, seeded)
    assert hits2.count() == n and misses2.count() == 0
    # kwargs change invalidates
    rekeyed = cache_mod.with_cache_key(pages, engine="dom", kwargs={"lang": "deu"})
    _, misses3 = cache_mod.split_hits_misses(rekeyed, seeded)
    assert misses3.count() == n


def test_chunking_renumber_roundtrip(spark, pages, sf_dir):
    """Split oversized PDFs, extract per segment, renumber pages,
    reassemble -> byte-identical to whole-document extraction
    (reference combine+renumber, ocr_executor.py:185-339)."""
    # sf0.001 texts are short (1-page PDFs) — synthesize long docs so
    # the limit actually bites. doc_id % 10 == PDF_MOD -> PDF payload.
    limit = 2  # pdf pages per engine call, small so the split bites
    long_docs = spark.createDataFrame(
        [(i * 10 + synth.PDF_MOD, " ".join(f"w{i}_{j}" for j in range(32 * 3 * 5)), "en") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    golden_long = {r.doc_id: r.text for r in long_docs.collect()}
    pages = spark.createDataFrame(
        [
            (synth.url_of(d), None, synth.build_pdf(d, t), t, "en")
            for d, t in golden_long.items()
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    pdfs = pages.filter(F.expr("substring(html, 1, 4) = X'25504446'"))
    segs = explode_segments(pdfs, limit)
    assert segs.count() > pdfs.count()  # something actually split
    assert segs.filter(F.col("seg_pages") > limit).count() == 0
    # run the engine per segment (seg_no carried via a url suffix,
    # since run_engine's contract is url-keyed), then renumber pages
    # globally and reassemble
    tagged = segs.withColumn(
        "url", F.concat("url", F.lit("#"), F.col("seg_no").cast("string"))
    )
    spans = spans_table(run_engine(tagged, "pdf"))
    spans = (
        spans.withColumn("seg_no", F.split("url", "#").getItem(1).cast("int"))
        .withColumn("url", F.split("url", "#").getItem(0))
        .join(segs.select("url", "seg_no", "seg_pages"), ["url", "seg_no"])
    )
    asm = assemble_doc_text(renumber_pages(spans))
    rows = asm.collect()
    assert len(rows) == len(golden_long)
    for r in rows:
        did = int(r.url.rsplit("/", 1)[1])
        assert r.doc_text == synth.expected_pdf_text(golden_long[did]), r.url


def test_error_rows_never_dropped(spark):
    df = spark.createDataFrame(
        [("u1", None), ("u2", b"%PDF-1.4 junk"), ("u3", b"<p>ok fine text</p>")],
        "url string, html binary",
    ).select("url", F.lit(None).cast("timestamp").alias("warc_ts"), "html", F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"))
    res = run_engines_fused(df)
    per_url = {r.url for r in res.select("url").distinct().collect()}
    assert per_url == {"u1", "u2", "u3"}
    assert res.filter((F.col("url") == "u2") & F.col("error").isNotNull()).count() == 1


def _mini_pages(spark, rows):
    """rows: [(url, html_bytes)] -> a minimal pages table."""
    return spark.createDataFrame(
        [(u, None, h, None, "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_empty_cell_table_roundtrip(spark):
    """ADVICE r1 #2: <td></td> must survive the spans->doc_text
    round-trip byte-identically (placeholder spans keep the column
    and the header-derived '---' separator width)."""
    html = (
        b"<table><tr><th>h1</th><th>h2</th><th>h3</th></tr>"
        b"<tr><td>a</td><td></td><td>c d</td></tr>"
        b"<tr><td></td><td>b</td><td></td></tr></table>"
    )
    pages = _mini_pages(spark, [("t1", html)])
    res = run_engine(pages, "dom")
    fast = res.select("url", "doc_text").collect()[0].doc_text
    assert fast == "| h1 | h2 | h3 |\n| --- | --- | --- |\n| a |  | c d |\n|  | b |  |"
    asm = assemble_doc_text(spans_table(res)).collect()[0].doc_text
    assert asm == fast


def test_winner_empty_density_falls_back_to_dom(spark):
    """ADVICE r1 #1: a 2-word document yields empty density text, so
    pick_winner's non-empty-first rank hands the win to dom — and the
    winner_text oracle encodes the same CASE."""
    html = synth.build_html(3, "xx yy")
    pages = _mini_pages(spark, [(synth.url_of(3), html)])
    res = run_engines_fused(pages, engines=("dom", "density"))
    texts = {r.engine: r.doc_text for r in res.collect()}
    assert texts["density"] == ""
    assert texts["dom"] == synth.PROMO_TEXT + "\n\nxx yy"
    w = pick_winner(res).collect()[0]
    assert (w.engine, w.doc_text) == ("dom", texts["dom"])


def test_pairwise_excludes_error_rows(spark):
    """ADVICE r1 #4: error rows must not pair up as jaccard=1.0."""
    from ocr_compare_spark.operators.compare import pairwise_compare

    df = spark.createDataFrame(
        [
            ("u1", "dom", "alpha beta", None),
            ("u1", "density", None, "parse_error:Boom"),
        ],
        "url string, engine string, doc_text string, error string",
    ).withColumn("confidence", F.lit(0.9))
    assert pairwise_compare(df, with_alignment=False).count() == 0


def test_winner_confidence_tiebreak(spark):
    """With preference tied, the varying per-document confidence
    (mean-of-means of word confidences) decides the winner — the
    r1 'dead tiebreak' is now live."""
    text = " ".join(f"w{i}" for i in range(40))
    pages = _mini_pages(spark, [(synth.url_of(2), synth.build_html(2, text))])
    res = run_engines_fused(pages, engines=("dom", "density"))
    confs = {r.engine: r.confidence for r in res.collect()}
    assert confs["density"] != confs["dom"]
    w = pick_winner(res, preference={"dom": 0, "density": 0}).collect()[0]
    assert w.engine == max(confs, key=lambda e: confs[e])


def test_layout_chunks_heading_prefix(spark):
    """Layout chunking (reference ChunkingConfig): blocks pack into
    ~1000-char chunks; each chunk is prefixed with the most recent
    HEADING strictly before it."""
    from ocr_compare_spark.operators.assemble import assemble_blocks
    from ocr_compare_spark.operators.chunking import layout_chunks

    para = " ".join(f"w{i:03d}" for i in range(100))  # 599 chars
    html = (
        "<article><h2>Section One</h2><p>" + para + "</p><p>" + para + "</p>"
        "<h2>Section Two</h2><p>" + para + "</p></article>"
    ).encode()
    pages = _mini_pages(spark, [("c1", html)])
    blocks = assemble_blocks(spans_table(run_engine(pages, "dom")))
    types = {r.block_no: r.block_type for r in blocks.collect()}
    assert types[0] == "HEADING" and types[3] == "HEADING"
    rows = {r.chunk_no: r for r in layout_chunks(blocks, chunk_chars=1000).collect()}
    # chunk 0: [h2, para] (cum 0, 13 -> chunk 0; 2nd para cum 614+601 -> chunk 1)
    assert rows[0].heading is None and rows[0].chunk_text.startswith("Section One")
    # chunk 1 starts mid-section: prefixed with "Section One"
    assert rows[1].heading == "Section One"
    assert rows[1].chunk_text.startswith("Section One\n\n")
    # every block lands in exactly one chunk
    assert sum(r.n_blocks for r in rows.values()) == len(types)


def test_tree_roundtrip_byte_identical(results):
    """The nested document struct must rebuild doc_text byte-exactly
    (tree fidelity, SURVEY §1.3(a))."""
    from ocr_compare_spark.operators.tree import to_tree
    from tests.mirrors import tree_to_text

    r = results.filter(F.col("error").isNull())
    rebuilt = tree_to_text(to_tree(spans_table(r)))
    joined = rebuilt.join(
        r.select("url", "engine", F.col("doc_text").alias("fast")), ["url", "engine"]
    )
    assert joined.count() == r.count()
    assert joined.filter(F.col("doc_text") != F.col("fast")).count() == 0


def _cached_extract_flow(spark, pages, local, cache_dir):
    """CachedOcrExecutor parity (reference cached_ocr_executor.py:
    58-112): run 2 computes nothing fresh (cache row count is
    unchanged), serves identical results; force_refresh recomputes
    despite hits (rows appended) and last-write-wins serving still
    returns identical results. ``cache_dir`` names the local
    directory ``local``, as a plain path or as a URI."""
    import duckdb as _dd

    def cache_rows():
        return _dd.sql(
            f"SELECT count(*) FROM read_parquet('{local}/*.parquet')"
        ).fetchone()[0]

    def snap(df):
        return sorted(
            (r.url, r.engine, r.doc_text, r.confidence) for r in df.collect()
        )

    out1 = snap(cache_mod.cached_extract(spark, pages, cache_dir))
    n1 = cache_rows()
    assert n1 == len(out1) > 0
    # run 2: pure cache serve — nothing appended
    out2 = snap(cache_mod.cached_extract(spark, pages, cache_dir))
    assert out2 == out1
    assert cache_rows() == n1
    # refresh: recompute + append; read-side last-write-wins
    out3 = snap(cache_mod.cached_extract(spark, pages, cache_dir, force_refresh=True))
    assert out3 == out1
    assert cache_rows() == 2 * n1


def test_cached_extract_flow(spark, pages, tmp_path):
    local = tmp_path / "result_cache"
    _cached_extract_flow(spark, pages, local, str(local))


def test_cached_extract_flow_on_uri(spark, pages, tmp_path):
    """The same flow with the cache dir given as a file: URI (the form
    cluster paths take): run 2 must hit the cache, not recompute."""
    local = tmp_path / "result_cache"
    _cached_extract_flow(spark, pages, local, local.as_uri())


def test_table_tsv_raw_text(spark):
    """The TSV raw_text fallback (reference ocr_schema.py:324-334)
    matches the pure-Python rendering, including empty cells."""
    from ocr_compare_spark.operators.assemble import assemble_table_tsv
    from ocr_compare_spark.operators.extract import table_raw_text

    html = (
        b"<table><tr><th>h1</th><th>h2</th></tr>"
        b"<tr><td>a b</td><td></td></tr></table>"
    )
    res = run_engine(_mini_pages(spark, [("t2", html)]), "dom")
    got = assemble_table_tsv(spans_table(res)).collect()[0].raw_text
    assert got == table_raw_text([["h1", "h2"], ["a b", ""]]) == "h1\th2\na b\t"


def test_curate_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """The composed curation job: quality gates then near-dup
    keep-list; metrics are consistent, output has no exact-dup texts,
    and a rerun is deterministic."""
    from ocr_compare_spark.plans.curate import curate

    out = str(tmp_path / "curated")
    m = curate(spark, sf_dir, out, min_quality=0.0, min_tokens=1,
               jaccard_threshold=0.8)
    assert m["docs_in"] >= m["docs_after_quality"] >= m["docs_out"] > 0
    corpus = spark.read.parquet(f"{out}/corpus")
    assert corpus.count() == m["docs_out"]
    # no two kept docs share a text (exact dups collapse via clusters)
    from pyspark.sql import functions as F

    assert corpus.groupBy("doc_text").count().filter(F.col("count") > 1).count() == 0
    # deterministic: rerun produces the same kept url set
    m2 = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
                jaccard_threshold=0.8)
    assert m2["docs_out"] == m["docs_out"]
    # repetition gates bite: an impossible top-2-gram ceiling drops
    # everything at the quality stage, before the LSH pass
    m3 = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
                jaccard_threshold=0.8, max_top2gram_share=-1.0)
    assert m3["docs_after_quality"] == 0 and m3["docs_out"] == 0


def test_curate_paragraph_dedup_stage(spark, sf_dir):
    """--para-dedup: the synth corpus's cycling vocabulary plants
    cross-doc duplicate paragraphs (27 distinct / 58 rows at sf0.001),
    so the stage must drop the non-first copies and report the count;
    scrub composes (the corpus is PII-free, so it is a no-op here)."""
    from ocr_compare_spark.plans.curate import curate

    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               jaccard_threshold=0.8, para_dedup=True, scrub=True)
    assert m["paras_dropped"] is not None and m["paras_dropped"] > 0
    assert m["docs_out"] > 0
    assert m["params"]["para_dedup"] is True and m["params"]["scrub"] is True


def test_curate_decontam_stage(spark, sf_dir, tmp_path):
    """--decontam-bench: a bench parquet built from two corpus docs'
    own text must knock exactly those docs (plus any doc sharing an
    8-gram with them) out of the output."""
    from ocr_compare_spark.plans.curate import curate

    bench_path = str(tmp_path / "bench.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.filter("doc_id IN (3, 17)").select("text").write.parquet(bench_path)

    base = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
                  jaccard_threshold=0.8)
    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               jaccard_threshold=0.8, decontam_bench=bench_path)
    assert m["dropped_contaminated"] >= 2
    assert m["docs_out"] <= base["docs_out"] - 2
    assert m["params"]["decontam_bench"] == bench_path
    assert base["dropped_contaminated"] is None


def test_curate_mix_stages(spark, sf_dir):
    """--sample-rate / --token-budget mix construction: one curate
    run with both stages — the hash sample thins the output
    deterministically and the (bucketed, distributed-prefix-sum)
    token budget caps every language's token sum."""
    from ocr_compare_spark.plans.curate import curate

    budget = 1200
    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               sample_rate=0.8, token_budget=budget)
    assert m["docs_out"] > 0
    assert m["tokens_out_by_lang"], "budget stage must report per-lang sums"
    assert all(t <= budget for t in m["tokens_out_by_lang"].values())
    assert m["params"]["sample_rate"] == 0.8
    assert m["params"]["token_budget"] == budget
    # metrics separation (ADVICE r4): sampling drops must NOT inflate
    # the near-dup count — near_dup is pinned at the dedup boundary
    assert m["docs_after_dedup"] >= m["docs_out"]
    assert m["dropped_near_dup"] == m["docs_after_quality"] - m["docs_after_dedup"]
    assert m["dropped_sampling"] == m["docs_after_dedup"] - m["docs_out"]
    assert m["dropped_sampling"] > 0  # sample_rate 0.8 + budget bite


def test_curate_keep_best_stage(spark, sf_dir, tmp_path):
    """--keep-best: near-dup clusters keep their highest-
    quality_score member instead of the min-id representative. The
    cluster structure is unchanged (same docs_out, one keeper per
    component), and the elected set can only improve the output's
    quality mass — per-cluster argmax >= any other member, so the
    aggregate quality_score sum dominates the default run's."""
    from pyspark.sql import functions as F

    from ocr_compare_spark.plans.curate import curate

    out = str(tmp_path / "kb")
    base = curate(spark, sf_dir, str(tmp_path / "b"), min_quality=0.0,
                  min_tokens=1)
    m = curate(spark, sf_dir, out, min_quality=0.0, min_tokens=1,
               keep_best=True)
    assert m["docs_out"] == base["docs_out"]
    assert m["params"]["keep_best"] is True
    corpus = spark.read.parquet(f"{out}/corpus")
    # exactly one keeper per near-dup component
    assert (
        corpus.groupBy("component").count().filter(F.col("count") > 1).count()
        == 0
    )
    # quality mass dominates the arbitrary-representative election
    kb_q = corpus.agg(F.sum("quality_score")).first()[0]
    base_q = (
        spark.read.parquet(f"{tmp_path}/b/corpus")
        .agg(F.sum("quality_score"))
        .first()[0]
    )
    assert kb_q >= base_q - 1e-9


def test_curate_blocklist_and_ppl_stages(spark, sf_dir):
    """--blocked-domain/--blocked-pattern prune pages BEFORE
    extraction (warm.example.com hosts doc_id%4==1 -> exactly 125 of
    500 pages at this sf); --max-ce trains the survivor LM and drops
    the high-cross-entropy tail. Both report their own drop metric
    without polluting the near-dup count."""
    from pyspark.sql import functions as F

    from ocr_compare_spark.operators import lm as lm_ops
    from ocr_compare_spark.plans.curate import curate

    base = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1)
    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               blocked_domains=("warm.example.com",),
               blocked_patterns=(r"/doc/\d*13$",))
    # 125 warm pages + the ids ending in 13 — but every such id is
    # doc_id%4==1 (…13 is odd, 13%4==1), so the pattern adds nothing:
    # the blocklist total is exactly the warm quarter
    assert m["dropped_blocklist"] == 125
    assert m["docs_after_quality"] <= base["docs_after_quality"] - 125 + 1
    assert base["dropped_blocklist"] is None

    # choose a cutoff = the median survivor cross-entropy, computed
    # out-of-band, so the gate verifiably drops a real tail
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = lm_ops.train_unigram_lm(docs, "text")
    ce = [r["cross_entropy"] for r in
          lm_ops.perplexity_scores(docs, model, method="data").collect()]
    cutoff = sorted(ce)[len(ce) // 2]
    m2 = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
                max_cross_entropy=cutoff)
    assert m2["dropped_high_ppl"] is not None and m2["dropped_high_ppl"] > 0
    assert m2["docs_after_quality"] == base["docs_after_quality"]
    assert (m2["docs_after_quality"] - m2["dropped_high_ppl"]
            - m2["dropped_near_dup"] == m2["docs_after_dedup"])
    assert m2["params"]["max_cross_entropy"] == cutoff


def test_curate_gopher_gates(spark, sf_dir):
    """--gopher composes into the quality stage. On this corpus the
    alpha-word-fraction rule correctly rejects the SHORT markdown-
    table docs (pipe/dash tokens dominate): every dropped doc must be
    a table doc (doc_id%10==4) and the count must match a direct
    gopher_pass evaluation over the same winner texts."""
    from ocr_compare_spark import synth
    from ocr_compare_spark.operators.textstats import gopher_pass
    from ocr_compare_spark.operators.winner import pick_winner
    from ocr_compare_spark.plans.curate import curate

    base = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1)
    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               gopher_gates=True)
    assert m["params"]["gopher_gates"] is True
    dropped = base["docs_after_quality"] - m["docs_after_quality"]
    assert dropped > 0

    w = pick_winner(run_engines_fused(
        synth.pages_from_documents(spark, sf_dir), with_spans=False))
    bad = w.filter(~gopher_pass("doc_text")).select("url").collect()
    assert len(bad) == dropped
    bad_ids = {int(r["url"].rsplit("/", 1)[1]) for r in bad}
    assert all(i % 10 == 4 for i in bad_ids)  # only table docs rejected


def test_curate_substring_dedup_stage(spark, sf_dir):
    """--substring-window: the synth corpus's cycling vocabulary
    plants long cross-doc token runs, so the Lee-et-al pass must cut
    real tokens and report the count; downstream stages still run."""
    from ocr_compare_spark.plans.curate import curate

    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               substring_window=24)
    assert m["substring_tokens_removed"] is not None
    assert m["substring_tokens_removed"] > 0
    assert m["docs_out"] > 0
    assert m["params"]["substring_window"] == 24


def test_curate_shard_output(spark, sf_dir, tmp_path):
    """--shard-tokens: the output materializes as deterministic
    (lang, shard) directories with one parquet part each; metrics
    report the shard count and the round-tripped corpus is intact."""
    import glob

    from ocr_compare_spark.plans.curate import curate

    out = str(tmp_path / "sharded")
    m = curate(spark, sf_dir, out, min_quality=0.0, min_tokens=1,
               shard_tokens=20_000)
    assert m["n_shards"] is not None and m["n_shards"] > 0
    parts = glob.glob(f"{out}/corpus/lang=*/shard=*/part-*.parquet")
    dirs = {p.rsplit("/", 1)[0] for p in parts}
    assert len(dirs) == m["n_shards"]
    assert len(parts) == len(dirs)  # one part per shard
    back = spark.read.parquet(f"{out}/corpus")
    assert back.count() == m["docs_out"]
    assert m["params"]["shard_tokens"] == 20_000


def test_curate_c4_gates_full_drop_is_clean(spark, sf_dir):
    """--c4 composes into the quality stage. The synth corpus has NO
    terminal punctuation anywhere (PROMO is 4 bare words, paragraphs
    are bare token runs), so the C4 line filter rewrites every doc to
    '' and the page rules drop everything — which makes this the
    empty-survivor robustness probe: the whole downstream DAG (LSH,
    clustering, keep-list, counts) must run cleanly on zero rows and
    the metrics must stay consistent."""
    from ocr_compare_spark.plans.curate import curate

    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               c4_gates=True)
    assert m["params"]["c4_gates"] is True
    assert m["docs_after_quality"] == 0
    assert m["docs_after_dedup"] == 0 and m["docs_out"] == 0
    assert m["dropped_quality"] == m["docs_in"]
    assert m["dropped_near_dup"] == 0


def test_curate_c4_gates_keep_punctuated(spark, tmp_path, sf_dir):
    """C4 keeps what it should: graft punctuated sentences onto a
    copy of the corpus and re-curate — exactly the docs whose winner
    text retains >= 3 sentences survive, with the line filter's
    rewrite visible in the output text."""
    import pyspark.sql.functions as F

    from ocr_compare_spark.operators.textstats import c4_page_pass, c4_clean_text
    from ocr_compare_spark.plans.curate import curate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sent = ("This grafted sentence number one is long enough to keep. "
            "Here is grafted sentence number two for the page. "
            "Grafted sentence number three completes the requirement.")
    patched = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit("\n" + sent))).otherwise(F.col("text")),
    )
    for name in ("documents", "embeddings"):
        src = f"{sf_dir}/{name}.parquet"
        (patched if name == "documents" else spark.read.parquet(src)) \
            .write.mode("overwrite").parquet(f"{tmp_path}/{name}.parquet")

    m = curate(spark, str(tmp_path), None, min_quality=0.0, min_tokens=1,
               c4_gates=True)
    # curate's gate must equal a direct c4_page_pass evaluation over
    # the same winner texts (gopher-test pattern), and every survivor
    # must be a grafted doc. Not every grafted doc survives: where the
    # density engine wins (doc_id%10 in {0,5}) its reflow splits the
    # graft mid-sentence, leaving < 3 sentences — correct per-engine
    # behavior, so the expectation is derived, not assumed.
    from ocr_compare_spark.operators.winner import pick_winner
    from ocr_compare_spark import synth

    w = pick_winner(run_engines_fused(
        synth.pages_from_documents(spark, str(tmp_path)), with_spans=False))
    survivors = w.filter(c4_page_pass("doc_text")).withColumn(
        "doc_id", F.regexp_extract("url", r"/(\d+)$", 1).cast("int"))
    ids = [r["doc_id"] for r in survivors.select("doc_id").collect()]
    assert len(ids) > 0 and all(i % 5 == 0 for i in ids)
    assert m["docs_after_quality"] == len(ids)
    # the rewrite leaves every survivor dominated by the same grafted
    # sentence over a tiny vocab — the LSH stage may legitimately
    # collapse near-identical rewrites, but at least one must remain
    assert 1 <= m["docs_out"] <= len(ids)
    assert m["dropped_near_dup"] == m["docs_after_quality"] - m["docs_after_dedup"]


def test_curate_bpe_token_budget(spark, tmp_path, sf_dir):
    """--bpe-merges restates the budget/shard stages in model tokens:
    the output corpus's token_count is the BPE token count of the
    final text (>= the whitespace count — unmerged words split into
    characters), per-lang sums respect the budget, and the whole
    composition is rerun-deterministic."""
    import pyspark.sql.functions as F

    from ocr_compare_spark.plans.curate import curate

    out = str(tmp_path / "out")
    import os
    os.makedirs(out, exist_ok=True)
    m = curate(spark, sf_dir, out, min_quality=0.0, min_tokens=1,
               token_budget=20_000, shard_tokens=5_000, bpe_merges=20)
    assert m["params"]["bpe_merges"] == 20
    assert m["bpe_merges_learned"] == 20
    assert m["docs_out"] > 0 and m["n_shards"] >= 1
    for lang, t in m["tokens_out_by_lang"].items():
        assert t <= 20_000, lang

    corpus = spark.read.parquet(f"{out}/corpus")
    chk = corpus.select(
        "token_count",
        F.size(F.split(F.trim(F.col("doc_text")), r"\s+")).alias("ws"),
    ).collect()
    assert all(r["token_count"] >= r["ws"] for r in chk)
    assert any(r["token_count"] > r["ws"] for r in chk)  # real subword splits

    m2 = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
                token_budget=20_000, bpe_merges=20)
    assert m2["tokens_out_by_lang"] == m["tokens_out_by_lang"]


def test_curate_normalize_is_noop_on_ascii(spark, sf_dir):
    """--normalize NFC on the all-ASCII synth corpus must change
    nothing (idempotence at pipeline level) while exercising the
    Arrow normalization pass through the whole DAG."""
    from ocr_compare_spark.plans.curate import curate

    base = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1)
    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               normalize_form="NFC")
    assert m["params"]["normalize_form"] == "NFC"
    for k in ("docs_after_quality", "docs_after_dedup", "docs_out"):
        assert m[k] == base[k], k


def test_curate_nb_reference_gate(spark, tmp_path, sf_dir):
    """--nb-reference: train reference-vs-survivors NB, keep
    reference-like pages. Expected drop derived by replaying the
    stage inputs directly (gopher-test pattern): with no other gates,
    the survivors ARE the winner texts, so the direct score_nb
    evaluation must reproduce the metric exactly; deterministic."""
    import pyspark.sql.functions as F

    from ocr_compare_spark import synth
    from ocr_compare_spark.operators.classifier import score_nb, train_nb
    from ocr_compare_spark.operators.winner import pick_winner
    from ocr_compare_spark.plans.curate import curate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref_dir = str(tmp_path / "ref")
    docs.filter(F.col("lang") == "en").select("text").write.parquet(ref_dir)

    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               nb_reference=ref_dir, nb_vocab_size=100)
    assert m["params"]["nb_reference"] == ref_dir
    assert m["dropped_low_nb"] is not None
    assert 0 <= m["dropped_low_nb"] < m["docs_after_quality"]

    w = pick_winner(run_engines_fused(
        synth.pages_from_documents(spark, sf_dir), with_spans=False))
    ref = spark.read.parquet(ref_dir).select(F.col("text").alias("doc_text"))
    model = train_nb(ref, w.select("doc_text"), "doc_text", vocab_size=100)
    n_bad = (
        score_nb(w.select("url", "doc_text"), model, "url", "doc_text")
        .filter(~(F.col("nb_score") > 0.0)).count()
    )
    assert m["dropped_low_nb"] == n_bad

    m2 = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
                nb_reference=ref_dir, nb_vocab_size=100)
    assert m2["dropped_low_nb"] == m["dropped_low_nb"]
    assert m2["docs_out"] == m["docs_out"]


def test_curate_max_per_host(spark, tmp_path, sf_dir):
    """--max-per-host caps each host's share of the output mix; the
    drop lands in dropped_sampling (not the near-dup metric) and the
    per-host counts in the written corpus respect the cap."""
    import pyspark.sql.functions as F

    from ocr_compare_spark.functions.url import host_of
    from ocr_compare_spark.plans.curate import curate

    out = str(tmp_path / "out")
    import os
    os.makedirs(out, exist_ok=True)
    base = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1)
    m = curate(spark, sf_dir, out, min_quality=0.0, min_tokens=1,
               max_per_host=5)
    assert m["params"]["max_per_host"] == 5
    assert m["docs_after_dedup"] == base["docs_after_dedup"]
    assert m["dropped_near_dup"] == base["dropped_near_dup"]
    assert m["dropped_sampling"] == m["docs_after_dedup"] - m["docs_out"]
    assert m["docs_out"] < base["docs_out"]

    corpus = spark.read.parquet(f"{out}/corpus")
    per_host = corpus.withColumn("h", host_of(F.col("url"))).groupBy("h").count()
    assert per_host.filter(F.col("count") > 5).count() == 0
    assert per_host.filter(F.col("count") == 5).count() > 0  # cap actually bit


def test_curate_paragraph_ppl_gate(spark, sf_dir):
    """--max-ce --para-ppl drops PARAGRAPHS, not documents: doc count
    survives the stage, real paragraphs are removed at a median-CE
    cutoff, and the doc-level variant at the same cutoff drops whole
    docs instead."""
    from ocr_compare_spark.plans.curate import curate

    base = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1)
    # median PARAGRAPH ce from a quick probe (reuse the lm ops directly)
    import pyspark.sql.functions as F

    from ocr_compare_spark import synth
    from ocr_compare_spark.operators.lm import perplexity_scores, train_unigram_lm
    from ocr_compare_spark.operators.winner import pick_winner

    w = pick_winner(run_engines_fused(
        synth.pages_from_documents(spark, sf_dir), with_spans=False))
    model = train_unigram_lm(w, "doc_text")
    paras = w.select(
        "url", F.posexplode(F.split("doc_text", "\n\n", -1)).alias("pos", "para")
    ).withColumn("pid", F.concat_ws(":", "url", "pos"))
    ce = sorted(
        r["cross_entropy"]
        for r in perplexity_scores(paras, model, id_col="pid", text_col="para",
                                   method="data").collect()
    )
    cutoff = ce[len(ce) // 2]

    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               max_cross_entropy=cutoff, ppl_paragraphs=True)
    assert m["params"]["ppl_paragraphs"] is True
    assert m["dropped_high_ppl"] is None  # doc gate not applied
    assert m["paras_dropped_ppl"] and m["paras_dropped_ppl"] > 0
    assert m["docs_after_quality"] == base["docs_after_quality"]  # no doc drop


def test_curate_dedup_lines_stage(spark, sf_dir):
    """--dedup-lines composes through the whole DAG. This corpus has
    NO intra-doc repeated lines (1-page PDFs, distinct cycling-vocab
    paragraphs) — verified directly — so the stage must be an exact
    no-op on every metric, the dedup-lines twin of the --normalize
    ASCII probe. The biting behavior is pinned by the unit test's
    planted cases."""
    from ocr_compare_spark import synth
    from ocr_compare_spark.operators.dedup import dedup_lines_within_doc
    from ocr_compare_spark.operators.winner import pick_winner
    from ocr_compare_spark.plans.curate import curate

    w = pick_winner(run_engines_fused(
        synth.pages_from_documents(spark, sf_dir), with_spans=False))
    n_changed = w.filter(
        dedup_lines_within_doc("doc_text")["n_dup_lines_removed"] > 0
    ).count()
    assert n_changed == 0  # corpus premise: no intra-doc line repeats

    base = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1)
    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               dedup_lines=True)
    assert m["params"]["dedup_lines"] is True
    for k in ("docs_after_quality", "docs_after_dedup", "docs_out"):
        assert m[k] == base[k], k


def test_curate_temperature_mix_stage(spark, sf_dir):
    """--mix-alpha temperature balancing (mC4/XLM-R): head languages
    are downsampled in the output mix; the drop lands in the sampling
    metric, not the near-dup one."""
    from ocr_compare_spark.plans.curate import curate

    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               mix_alpha=0.3)
    assert m["params"]["mix_alpha"] == 0.3
    # en dominates the synth corpus (~3x any other lang's tokens), so
    # alpha=0.3 must actually thin the output
    assert 0 < m["docs_out"] < m["docs_after_dedup"]
    assert m["dropped_sampling"] == m["docs_after_dedup"] - m["docs_out"]
    assert m["dropped_near_dup"] == m["docs_after_quality"] - m["docs_after_dedup"]


def test_curate_dsir_stage(spark, sf_dir, tmp_path):
    """--dsir-target resamples the deduplicated corpus toward a
    target corpus's hashed n-gram distribution, keeping exactly
    --dsir-k docs; the drop is its own metric and the downstream
    sampling metric stays clean."""
    from pyspark.sql import functions as F

    from ocr_compare_spark.plans.curate import curate

    tgt = str(tmp_path / "target")
    (spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 25 == 3).select("text")
        .write.mode("overwrite").parquet(tgt))
    k = 40
    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               dsir_target=tgt, dsir_k=k)
    assert m["docs_out"] == k
    assert m["dropped_dsir"] == m["docs_after_dedup"] - k
    assert m["dropped_sampling"] == 0
    assert m["params"]["dsir_k"] == k
    # rerun-stability: the selected corpus is deterministic
    m2 = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
                dsir_target=tgt, dsir_k=k)
    assert m2["docs_out"] == k


def test_curate_robots_stage(spark, sf_dir, tmp_path):
    """--robots-txt drops disallowed pages BEFORE any other stage:
    warm.example.com fully disallowed for ccbot (125 of 500 pages)
    plus hot's /doc/*2$ wildcard (ids ending in 2 — 50 even docs);
    tail hosts have no robots row and stay. The drop metric is
    separate from blocklist/quality."""
    from ocr_compare_spark.plans.curate import curate

    path = str(tmp_path / "robots_parquet")
    spark.createDataFrame(
        [
            ("warm.example.com", "User-agent: ccbot\nDisallow: /\n"),
            ("hot.example.com", "User-agent: ccbot\nDisallow: /doc/*2$\n"),
        ],
        "host string, robots_txt string",
    ).write.parquet(path)
    m = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
               robots_txt=path)
    assert m["dropped_robots"] == 125 + 50
    assert m["dropped_blocklist"] is None
    assert m["params"]["robots_agent"] == "ccbot"
    # quality stage starts from the robots survivors
    assert m["docs_after_quality"] + m["dropped_quality"] == 500 - 175


def _curate_sig_store_cross_crawl(spark, sf_dir, store):
    """--sig-store: run 1 seeds the signature store from its kept
    docs; run 2 over the SAME corpus finds every doc already in the
    store and drops them all; the store accumulates only kept docs."""
    from ocr_compare_spark.plans.curate import curate

    m1 = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
                jaccard_threshold=0.8, sig_store=store)
    assert m1["dropped_cross_crawl"] == 0 and m1["docs_out"] > 0
    sigs = spark.read.parquet(store)
    assert sigs.count() == m1["docs_out"]
    assert set(sigs.columns) == {"id", "bands", "sh"}

    m2 = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
                jaccard_threshold=0.8, sig_store=store)
    # identical corpus: everything that would have been kept is a
    # cross-crawl dup of run 1's store
    assert m2["docs_out"] == 0
    assert m2["dropped_cross_crawl"] == m1["docs_out"]
    # nothing kept -> nothing appended
    assert spark.read.parquet(store).count() == m1["docs_out"]


def test_curate_sig_store_cross_crawl(spark, sf_dir, tmp_path):
    _curate_sig_store_cross_crawl(spark, sf_dir, str(tmp_path / "sigstore"))


def test_curate_sig_store_cross_crawl_on_uri(spark, sf_dir, tmp_path):
    """The same cross-crawl drop with the store given as a file: URI."""
    _curate_sig_store_cross_crawl(spark, sf_dir, (tmp_path / "sigstore").as_uri())


# ------------------------------------------------- token windows


def test_chunk_token_windows_reconstruction_and_overlap(spark):
    from ocr_compare_spark.operators.chunking import chunk_token_windows

    text = " ".join(f"w{i}" for i in range(23))
    df = spark.createDataFrame(
        [("a", text), ("b", "x y"), ("c", None), ("d", " \t\n"), ("e", "solo"),
         ("f", "tail newline\n"), ("g", "  lead and tail  ")],
        ["url", "doc_text"],
    )
    # disjoint windows: concatenation reconstructs the token stream,
    # the tail window is the remainder
    got = chunk_token_windows(df, window=10).orderBy("id", "chunk_no").collect()
    a = [r for r in got if r.id == "a"]
    assert [(r.tok_start, r.tok_end) for r in a] == [(0, 10), (10, 20), (20, 23)]
    assert " ".join(r.chunk_text for r in a) == text
    assert [r.chunk_no for r in a] == [0, 1, 2]
    assert sum(r.n_tokens for r in a) == 23
    # short docs -> exactly one chunk; blank/null -> none; edge
    # whitespace -> NO phantom empty tokens or chunks (split limit -1
    # keeps empty edge tokens; the operator filters them)
    assert [(r.id, r.chunk_text, r.n_tokens) for r in got if r.id in "bcdefg"] == [
        ("b", "x y", 2), ("e", "solo", 1),
        ("f", "tail newline", 2), ("g", "lead and tail", 3),
    ]
    # overlapping windows: consecutive chunks share window-stride toks
    ov = [
        r for r in chunk_token_windows(df, window=10, stride=5)
        .orderBy("id", "chunk_no").collect() if r.id == "a"
    ]
    assert [(r.tok_start, r.tok_end) for r in ov] == [
        (0, 10), (5, 15), (10, 20), (15, 23), (20, 23)
    ]
    for prev, nxt in zip(ov, ov[1:]):
        shared_prev = prev.chunk_text.split()[5:]
        assert nxt.chunk_text.split()[: len(shared_prev)] == shared_prev


def test_curate_splits_stage(spark, sf_dir, tmp_path):
    """--splits: deterministic train/val/test assignment rides the
    curated output (keyed on url, applied AFTER dedup so surviving
    docs cannot leak near-dups across splits); counts are exhaustive
    and rerun-stable, and the split column lands in the parquet."""
    from ocr_compare_spark.plans.curate import curate, parse_splits

    w = parse_splits("train=0.8,val=0.1,test=0.1")
    assert list(w) == ["train", "val", "test"]
    out = str(tmp_path / "curated_split")
    m = curate(spark, sf_dir, out, min_quality=0.0, min_tokens=1,
               jaccard_threshold=0.8, splits=w)
    assert m["split_counts"] is not None
    assert sum(m["split_counts"].values()) == m["docs_out"]
    assert m["split_counts"].get("train", 0) > m["split_counts"].get("val", 0)
    corpus = spark.read.parquet(f"{out}/corpus")
    from pyspark.sql import functions as F

    assert corpus.filter(~F.col("split").isin("train", "val", "test")).count() == 0
    # rerun-deterministic per url
    m2 = curate(spark, sf_dir, None, min_quality=0.0, min_tokens=1,
                jaccard_threshold=0.8, splits=w)
    assert m2["split_counts"] == m["split_counts"]
