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


# ------------------------------------------------- curation stages
# The corpus-curation operators, each run directly on the synth
# corpus (sf0.001: 500 pages over hot/warm/tail hosts) or on its
# extracted winner texts.


@pytest.fixture(scope="module")
def winners(spark, sf_dir):
    all_pages = synth.pages_from_documents(spark, sf_dir)
    return (
        pick_winner(run_engines_fused(all_pages, with_spans=False))
        .select("url", "doc_text")
        .join(all_pages.select("url", "lang"), "url")
        .persist()
    )


def test_curate_robots_stage(spark, sf_dir):
    """robots_gate flags disallowed pages before extraction: warm
    fully disallowed for ccbot (125 of 500 pages) plus hot's
    /doc/*2$ wildcard (ids ending in 2 -- 50 even docs); tail hosts
    have no robots row and stay. The gate flags, it never drops, and
    an agent no group names is allowed everywhere."""
    from ocr_compare_spark.operators.robots import robots_gate

    all_pages = synth.pages_from_documents(spark, sf_dir).select("url")
    robots = spark.createDataFrame(
        [
            ("warm.example.com", "User-agent: ccbot\nDisallow: /\n"),
            ("hot.example.com", "User-agent: ccbot\nDisallow: /doc/*2$\n"),
        ],
        "host string, robots_txt string",
    )
    gated = robots_gate(all_pages, robots, "ccbot")
    assert gated.count() == all_pages.count() == 500
    blocked = [r["url"] for r in gated.filter(~F.col("robots_allowed")).collect()]
    assert len(blocked) == 125 + 50
    assert all(("warm." in u) or u.endswith("2") for u in blocked)
    assert not any("tail" in u for u in blocked)
    other = robots_gate(all_pages, robots, "otherbot")
    assert other.filter(~F.col("robots_allowed")).count() == 0


def test_curate_blocklist_and_ppl_stages(spark, sf_dir, winners):
    """The URL blocklist prunes pages before extraction
    (warm.example.com hosts doc_id%4==1 -> exactly 125 of 500 pages;
    every id ending in 13 is also %4==1, so the pattern adds
    nothing), and the unigram-LM cross-entropy gate at the median
    score keeps the lower half and drops a real tail."""
    from ocr_compare_spark.operators import lm as lm_ops
    from ocr_compare_spark.operators.webfilter import url_filter_columns

    all_pages = synth.pages_from_documents(spark, sf_dir).select("url")
    wf = url_filter_columns("url", ("warm.example.com",), (r"/doc/\d*13$",))
    reasons = all_pages.select(wf["block_reason"].alias("r"), wf["blocked"].alias("b"))
    assert reasons.filter(F.col("r").isNotNull()).count() == 125
    assert reasons.filter(F.col("b") == 1).count() == 125
    assert reasons.filter(F.col("r").startswith("pattern:")).count() == 0
    only_pattern = url_filter_columns("url", (), (r"/doc/\d*13$",))
    assert all_pages.filter(only_pattern["block_reason"].isNotNull()).count() > 0

    n = winners.count()
    model = lm_ops.train_unigram_lm(winners, "doc_text")
    scores = lm_ops.perplexity_scores(
        winners.select("url", "doc_text"), model, "url", "doc_text", method="data"
    )
    ce = sorted(r["cross_entropy"] for r in scores.collect())
    assert len(ce) == n
    cutoff = ce[len(ce) // 2]
    kept = winners.join(
        scores.filter(F.col("cross_entropy") <= cutoff).select("url"), "url", "left_semi"
    ).count()
    assert n // 2 < kept < n


def test_curate_paragraph_dedup_stage(winners):
    """paragraph_dedup: the synth corpus's cycling vocabulary plants
    cross-doc duplicate paragraphs, so the pass drops non-first
    copies, keeps one row per doc, and leaves every kept paragraph
    distinct across the corpus. scrub_pii composes as a no-op on the
    PII-free corpus."""
    from ocr_compare_spark.operators.dedup import paragraph_dedup
    from ocr_compare_spark.operators.textstats import scrub_pii

    n = winners.count()
    out = paragraph_dedup(
        winners.select(F.col("url").alias("id"), "doc_text"), "id", "doc_text"
    ).persist()
    assert out.count() == n
    dropped = out.agg(F.sum("n_dropped")).first()[0]
    assert dropped > 0
    paras = out.select(F.explode(F.split("text", "\n\n", -1)).alias("p")).filter(
        F.trim("p") != ""
    )
    assert paras.groupBy("p").count().filter(F.col("count") > 1).count() == 0
    assert out.filter(scrub_pii("text") != F.col("text")).count() == 0
    out.unpersist()


def test_curate_substring_dedup_stage(winners):
    """substring_dedup (Lee et al.): the cycling vocabulary plants
    long cross-doc token runs, so a 24-token window cuts real tokens
    while keeping one row per doc; a window longer than any doc cuts
    nothing."""
    from ocr_compare_spark.operators.dedup import substring_dedup

    docs = winners.select(F.col("url").alias("id"), "doc_text")
    cut = substring_dedup(docs, "id", "doc_text", window=24).persist()
    assert cut.count() == winners.count()
    assert cut.agg(F.sum("n_tokens_removed")).first()[0] > 0
    cut.unpersist()
    none = substring_dedup(docs, "id", "doc_text", window=1_000_000)
    assert none.agg(F.sum("n_tokens_removed")).first()[0] == 0


def test_curate_decontam_stage(spark, sf_dir, winners):
    """ngram_decontaminate: a bench built from docs 3 and 17's own
    text flags at least those two winner pages (and any page sharing
    an 8-gram with them); an empty bench flags nothing."""
    from ocr_compare_spark.operators.dedup import ngram_decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter("doc_id IN (3, 17)").select("text")
    flags = ngram_decontaminate(
        winners.select(F.col("url").alias("id"), "doc_text"), bench, "id", "doc_text",
        bench_text_col="text",
    )
    assert flags.count() == winners.count()
    hit = {r["id"] for r in flags.filter(F.col("contaminated")).collect()}
    assert len(hit) >= 2
    assert any(u.endswith("/3") for u in hit) and any(u.endswith("/17") for u in hit)
    empty = ngram_decontaminate(
        winners.select(F.col("url").alias("id"), "doc_text"), bench.limit(0),
        "id", "doc_text", bench_text_col="text",
    )
    assert empty.filter(F.col("contaminated")).count() == 0


def test_curate_dsir_stage(spark, sf_dir, winners):
    """DSIR resampling toward a target corpus's hashed n-gram
    distribution keeps exactly k docs, and the selection is
    deterministic across reruns."""
    from ocr_compare_spark.operators.dsir import dsir_log_weights, dsir_resample

    tgt = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 25 == 3)
        .select(F.col("text").alias("doc_text"))
    )
    k = 40

    def select():
        w = dsir_log_weights(winners.select("url", "doc_text"), tgt, "url", "doc_text")
        return {r["url"] for r in dsir_resample(w, "url", k).select("url").collect()}

    first = select()
    assert len(first) == k
    assert select() == first


def test_curate_temperature_mix_stage(winners):
    """temperature_mix (mC4/XLM-R) at alpha 0.3 thins the mix and
    shrinks the head language's token share: en dominates the synth
    corpus, so its share must fall."""
    from ocr_compare_spark.operators.sampling import temperature_mix
    from ocr_compare_spark.operators.textstats import stats_columns

    df = winners.withColumn("token_count", stats_columns("doc_text")["token_count"])
    out = temperature_mix(df, "lang", "token_count", "url", 0.3)
    n_in, n_out = df.count(), out.count()
    assert 0 < n_out < n_in

    def en_share(d):
        r = d.agg(
            F.sum(F.when(F.col("lang") == "en", F.col("token_count")).otherwise(0)).alias("en"),
            F.sum("token_count").alias("all"),
        ).first()
        return r["en"] / r["all"]

    assert en_share(out) < en_share(df)


def test_curate_splits_stage(winners):
    """assign_split: deterministic train/val/test assignment keyed on
    url -- counts are exhaustive, follow the weights' order, land
    only in the named splits, and are rerun-stable."""
    from ocr_compare_spark.operators.sampling import assign_split

    w = {"train": 0.8, "val": 0.1, "test": 0.1}

    def counts():
        out = assign_split(winners, "url", w)
        return {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}

    c = counts()
    assert set(c) <= {"train", "val", "test"}
    assert sum(c.values()) == winners.count()
    assert c.get("train", 0) > c.get("val", 0)
    assert counts() == c


# ------------------------------------------------- token windows


def test_chunk_token_windows_reconstruction_and_overlap(spark):
    from ocr_compare_spark.operators.chunking import chunk_token_windows

    text = " ".join(f"w{i}" for i in range(23))
    df = spark.createDataFrame(
        [("a", text), ("b", "x y"), ("c", None), ("d", " \t\n"), ("e", "solo"),
         ("f", "tail newline\n"), ("g", "  lead and tail  "), ("h", "h0 h1 h2 h3 h4 h5 h6")],
        ["url", "doc_text"],
    )
    # disjoint windows: concatenation reconstructs the token stream,
    # the tail window is the remainder
    got = chunk_token_windows(df, window=10, stride=10).orderBy("id", "chunk_no").collect()
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
    ov_all = chunk_token_windows(df, window=10, stride=5).orderBy("id", "chunk_no").collect()
    ov = [r for r in ov_all if r.id == "a"]
    assert [(r.tok_start, r.tok_end) for r in ov] == [
        (0, 10), (5, 15), (10, 20), (15, 23), (20, 23)
    ]
    # stride <= n < window: every start yields a chunk, not just one
    assert [(r.tok_start, r.tok_end) for r in ov_all if r.id == "h"] == [(0, 7), (5, 7)]
    for prev, nxt in zip(ov, ov[1:]):
        shared_prev = prev.chunk_text.split()[5:]
        assert nxt.chunk_text.split()[: len(shared_prev)] == shared_prev
