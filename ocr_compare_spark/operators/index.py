"""Distributed inverted index + BM25 ranked retrieval.

The corpus-side half of every search / retrieval-augmented pipeline:
build a postings table (term -> doc, tf) from the document corpus,
then score a (small) query set against it with BM25 (Robertson &
Walker; the Lucene ``k1``/``b`` form) and return per-query top-k.

Determinism contract (ANSI-SQL-reproducible end to end):

- **tokens**: ``[a-z0-9]+`` over ``lower(text)`` — ASCII classes only
  (Java regex == RE2 == DuckDB), the same convention as keywords.py /
  dsir.py. Query strings tokenize with the SAME regex and duplicate
  query terms count once (standard bag-of-words-query BM25 with
  query-tf clamped to 1).
- **score**: per (query, term, doc) weight

      idf   = ln(1.0 + (N - df + 0.5) / (df + 0.5))
      denom = tf + k1 * (1.0 - b + b * (dl / avgdl))
      w     = idf * ((tf * (k1 + 1.0)) / denom)
      w6    = floor(w * 1e6 + 0.5)                    (int64)

  then ``score6 = sum(w6)`` — the repo's round6-before-sum contract
  (lm.py precedent): each term weight is a pure double expression of
  exact integer inputs evaluated in ONE written-down order on both
  engines, rounded to microunits BEFORE any summation, so the int64
  sums and the (score6 desc, id asc) ranking are bit-exact.
- **avgdl** = sum(dl) / N as one IEEE double division of two exact
  int64 aggregates — identical on both engines.

Scale shape (100 TB story): postings come from one explode+groupBy
(map-side combined, shuffles (id, term) pairs once); document
frequencies ride a second vocabulary-sized aggregate with
array_distinct BEFORE the explode. The query set is the small side —
its distinct (query, term) pairs broadcast into the postings join, so
the corpus-sized stream is filtered to matching terms before the
(query, doc) aggregate. Top-k per query is the collect_list +
array_sort + slice pattern (bounded by matches per query), never a
window over the full score stream. ``n_docs=`` / ``sum_dl=`` hints
skip the corpus-stats job when the caller already knows them.

Reference analog: the reference repo has no retrieval stage; this is
part of the training-data-pipeline family (keyword/TF-IDF sibling in
keywords.py) a corpus engine needs for decontamination-by-retrieval
and eval-set mining.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# the ONE tokenizer this module shares with keywords.py (BM25 scores
# must see the same token stream TF-IDF does)
from ocr_compare_spark.operators.keywords import _words

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75


def doc_lengths(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, dl) — token counts per document (the BM25 length prior)."""
    return df.select(
        F.col(id_col).alias("id"), F.size(_words(text_col)).cast("long").alias("dl")
    )


def query_terms(queries: DataFrame, query_id_col: str, query_text_col: str) -> DataFrame:
    """(query_id, term) — DISTINCT query terms (query-tf clamped to 1)."""
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(_words(query_text_col))).alias("term"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    n_docs: int | None = None,
    sum_dl: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-query BM25 top-k: (query_id, rank, id, score6), rank 1..k
    by (score6 desc, id asc). Queries with no indexed terms produce
    no rows. score6 is the exact int64 sum of per-term microunit
    weights (see module contract). ``num_partitions`` repartitions
    the corpus before the tokenize passes — a small parquet reads as
    1-2 splits and the regex tokenization (byte-light, compute-heavy)
    would otherwise run nearly single-threaded (the dsir trap)."""
    if num_partitions:
        docs = docs.repartition(num_partitions)
    if n_docs is None or sum_dl is None:
        stats = doc_lengths(docs, id_col, text_col).agg(
            F.count("*").alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
        ).collect()[0]
        n_docs, sum_dl = int(stats["n"]), int(stats["s"])
    if n_docs == 0:
        raise ValueError("bm25_topk: empty corpus")
    avgdl = sum_dl / n_docs  # one IEEE double division, same on both engines

    qt = query_terms(queries, query_id_col, query_text_col)
    # Restrict the token stream to QUERY terms before any aggregate:
    # tf/df for a term only ever read that term's postings, so the
    # broadcast semi-join cuts the shuffle from |corpus tokens| to
    # |matching tokens| and the full-vocabulary df aggregate away
    # entirely. The filtered postings are localCheckpoint'ed — df and
    # the score join both read them, and a plain reuse would re-run
    # the corpus explode once per branch (the
    # two-branches-off-one-exchange trap).
    #
    # r6: dl RIDES the token stream — the Generate consumes one
    # materialized word array, so size(_w) costs nothing extra and
    # the former SEPARATE doc_lengths pass (a second full-corpus
    # regex tokenize) plus the corpus-sized sort-merge join of the
    # scored stream on id both disappear (2 Exchange + 1 scan fewer;
    # identical dl values by construction). The checkpointed postings
    # are hash-partitioned by id when num_partitions is given, so the
    # downstream (query_id, id) aggregate needs NO exchange at all
    # (subset-clustering satisfies the distribution) — the per-query
    # fan-out stream never shuffles.
    qterms = qt.select("term").distinct()
    wd = docs.select(F.col(id_col).alias("id"), _words(text_col).alias("_w"))
    tok = wd.select(
        "id", F.size("_w").cast("long").alias("dl"), F.explode("_w").alias("term")
    )
    post = (
        tok.join(F.broadcast(qterms), "term")
        .groupBy("term", "id")
        .agg(F.count("*").alias("tf"), F.min("dl").alias("dl"))
        .localCheckpoint(eager=True)
    )
    return _topk_from_filtered(post, qt, n_docs, avgdl, k, k1, b, num_partitions=num_partitions)


#: GEMM scoring-path guards: the query matrix ships (n_queries x
#: n_terms) doubles to every task, and each task holds one
#: (doc-block x n_terms) postings block — both must stay broadcast-
#: sized. Above either bound the relational path runs instead.
GEMM_MAX_QUERIES = 65536
GEMM_MAX_TERMS = 512
_GEMM_DOC_BLOCK = 8192


def _gemm_scored_topk(postw, qt, k: int):
    """Vectorized per-partition BM25 scoring + exact top-k cut — the
    bounded-query-set fast path of _topk_from_filtered (the repo's
    hashed_topk broadcast-GEMM shape).

    Input: ``postw`` = (term, id, w6) hash-partitioned by id (ALL of
    a doc's matched terms in one partition — required, the caller
    guarantees it via repartition), ``qt`` = the (query_id, term)
    pairs. Per partition: one 0/1 query matrix GEMM gives every
    (query, doc) score6 = sum of matched w6 — an order-free int64 sum
    (w6 < 2^53 so float64 GEMM is exact) — plus a presence GEMM that
    masks (query, doc) pairs with NO matched term (the relational
    join emits no row for those; score6 == 0 real matches must not be
    confused with them). Docs are processed in id-sorted blocks and
    each block keeps its per-query top k ((score6 desc, id asc) —
    stable argsort over id-ordered rows), so the emitted stream is
    bounded by blocks x queries x k and the final per-query aggregate
    merges exactly (selection commutes with partition/block unions).

    Returns the cut (query_id, id, score6) stream, or None when the
    query set exceeds the broadcast guards."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    rows = qt.limit(GEMM_MAX_QUERIES * 8 + 1).collect()
    if len(rows) > GEMM_MAX_QUERIES * 8:
        return None
    terms = sorted({r["term"] for r in rows})
    qids = sorted({r["query_id"] for r in rows})
    if len(terms) > GEMM_MAX_TERMS or len(qids) > GEMM_MAX_QUERIES:
        return None
    term_idx = {t: i for i, t in enumerate(terms)}
    q_idx = {q: i for i, q in enumerate(qids)}
    qm = np.zeros((len(qids), len(terms)), dtype=np.float64)
    for r in rows:
        qm[q_idx[r["query_id"]], term_idx[r["term"]]] = 1.0
    spark = postw.sparkSession
    bc = spark.sparkContext.broadcast((np.array(qids), qm))
    out_schema = StructType(
        [
            StructField("query_id", qt.schema["query_id"].dataType),
            StructField("id", postw.schema["id"].dataType),
            StructField("score6", LongType()),
        ]
    )

    def part(batches):
        import pandas as pd

        frames = [p for p in batches if len(p)]
        if not frames:
            return
        qids_arr, qmat = bc.value
        df = pd.concat(frames, ignore_index=True).sort_values("id", kind="stable")
        codes, uniq = pd.factorize(df["id"])  # uniq ascends (sorted input)
        tidx = df["term"].map(term_idx).to_numpy(dtype=np.int64)
        w6v = df["w6"].to_numpy(dtype=np.float64)
        ids_arr = np.asarray(uniq)
        nd = len(ids_arr)
        n_terms = qmat.shape[1]
        cq, ci, cs = [], [], []
        for c0 in range(0, nd, _GEMM_DOC_BLOCK):
            c1 = min(c0 + _GEMM_DOC_BLOCK, nd)
            sel = (codes >= c0) & (codes < c1)
            w = np.zeros((c1 - c0, n_terms), dtype=np.float64)
            p = np.zeros((c1 - c0, n_terms), dtype=np.float64)
            rr, cc = codes[sel] - c0, tidx[sel]
            w[rr, cc] = w6v[sel]
            p[rr, cc] = 1.0
            s = w @ qmat.T  # (docs, queries) — exact integer sums
            m = p @ qmat.T
            s = np.where(m > 0, s, -1.0)  # scores are >= 0; -1 = no match
            kk = min(k, c1 - c0)
            top = np.argsort(-s, axis=0, kind="stable")[:kk]  # id-asc ties
            taken = np.take_along_axis(s, top, axis=0)
            qj, ki = np.nonzero(taken.T >= 0)
            if len(qj):
                cq.append(qids_arr[qj])
                ci.append(ids_arr[c0:c1][top.T[qj, ki]])
                cs.append(taken.T[qj, ki].astype(np.int64))
        if not cq:
            return
        out = pd.DataFrame(
            {
                "query_id": np.concatenate(cq),
                "id": np.concatenate(ci),
                "score6": np.concatenate(cs),
            }
        )
        out = out.sort_values(["score6", "id"], ascending=[False, True], kind="stable")
        yield out.groupby("query_id", sort=False).head(k)

    return postw.mapInPandas(part, out_schema)


def _partial_topk_cut(k: int):
    """Partition-local exact top-k per query over (query_id, id,
    score6) rows — the pre-shuffle cut _topk_from_filtered applies
    (see the call-site comment for the exactness argument)."""
    import pandas as pd

    def cut(batches):
        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        df = pd.concat(frames, ignore_index=True)
        df = df.sort_values(["score6", "id"], ascending=[False, True], kind="stable")
        yield df.groupby("query_id", sort=False).head(k)

    return cut


def _topk_from_filtered(post, qt, n_docs, avgdl, k, k1, b, num_partitions=None) -> DataFrame:
    """Score + rank from ALREADY query-term-filtered (and
    checkpointed) postings ``(term, id, tf, dl)``."""
    dfreq = post.groupBy("term").agg(F.count("*").alias("df"))

    idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl") / F.lit(avgdl))
    )
    w = idf * ((F.col("tf") * F.lit(k1 + 1.0)) / denom)
    # w6 is a pure function of (tf, df, dl) — computing it per
    # (term, id) row BEFORE the query fan-out (instead of per
    # (query, term, id) row after, as the pre-r6 shape did) evaluates
    # the ln/divide chain |postings| times instead of |fan-out| times
    # and ships one slim long through the fan-out. The per-row double
    # expression tree is unchanged, so every w6 — and therefore every
    # int64 score6 sum — is bit-identical. dfreq and qt broadcast
    # (both are query-set-sized); without the hints Catalyst
    # estimates them from the corpus-sized parents and picks
    # sort-merge joins that shuffle the fan-out stream.
    base = post
    if num_partitions:
        # a localCheckpoint'd LogicalRDD reports UnknownPartitioning,
        # so without this the (query_id, id) aggregate would shuffle
        # the whole partial-agged fan-out (plan-verified: Exchange
        # hashpartitioning(query_id, id) over ~13M rows at sf1.0).
        # Re-keying the postings-sized stream by id (2M slim rows)
        # makes HashPartitioning(id) satisfy the aggregate's
        # clustering (subset rule) — the fan-out never shuffles.
        base = base.repartition(num_partitions, "id")
    postw = base.join(F.broadcast(dfreq), "term").select(
        "term",
        "id",
        F.floor(w * F.lit(1e6) + F.lit(0.5)).cast("long").alias("w6"),
    )
    scored = None
    if num_partitions:
        # bounded query set + id-clustered postings (the repartition
        # above): score every (query, doc) with one GEMM per postings
        # block and cut to per-block top-k — replaces the (query,
        # term, doc) fan-out join (75M rows at sf1.0), its 25M-group
        # hash aggregate AND the 25M-struct top-k shuffle with one
        # Arrow pass over the postings (exactness: docstring of
        # _gemm_scored_topk)
        scored = _gemm_scored_topk(postw, qt, k)
    if scored is None:
        scored = (
            postw.join(F.broadcast(qt), "term")
            .select("query_id", "id", "w6")
            .groupBy("query_id", "id")
            .agg(F.sum("w6").alias("score6"))
        )
        # Per-partition top-k pre-cut (r6): the final per-query cut
        # only needs k of the ~|matches per query| scored rows
        # (49k/query at sf1.0 — 25M struct rows through the last
        # exchange and 49k-entry sorted arrays per query). Selection
        # under the total order (score6 desc, id asc) commutes with
        # partition unions and (q,id) rows are unique, so keeping
        # each partition's per-query top k BEFORE the shuffle is
        # exact for ANY partitioning; the final aggregate then merges
        # <= partitions x k rows per query.
        scored = scored.mapInPandas(_partial_topk_cut(k), scored.schema)
    top = (
        scored.groupBy("query_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("score6")).alias("_neg"), "id", "score6"))
                ),
                1,
                k,
            ).alias("_top")
        )
        .select("query_id", F.posexplode("_top").alias("_i", "_hit"))
    )
    return top.select(
        "query_id",
        (F.col("_i") + 1).cast("long").alias("rank"),
        F.col("_hit.id").alias("id"),
        F.col("_hit.score6").alias("score6"),
    )


def rrf_fuse(
    rankings: "list[DataFrame]",
    k: int = 10,
    k0: int = 60,
    query_col: str = "query_id",
    id_col: str = "id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR
    2009): fuse N per-query rankings — e.g. BM25 (bm25_topk) and
    embedding cosine (embedding.hashed_topk / similarity.*_topk) —
    into one hybrid ranking. The canonical retrieval ensemble: RRF
    "outperforms Condorcet and individual rank learning methods"
    with a single constant, and it is what production hybrid-search
    engines (Elasticsearch/OpenSearch/Vespa) ship.

    score6(q, d) = SUM over rankings of floor(1e6 / (k0 + rank) + .5)

    Each term is one IEEE double division of exact integers rounded
    to microunits BEFORE the int64 sum (the repo's round6-before-sum
    contract, lm.py/index.py precedent), so the fused scores and the
    (rrf6 desc, id asc) ranking are bit-exact against an ANSI-SQL
    twin on any engine. A document absent from one ranking simply
    contributes no term (the standard RRF-over-truncated-lists form).

    Inputs must share ``query_col``/``id_col``/``rank_col`` names
    (callers alias; rank is 1-based as every *_topk here emits).
    Returns (query_id, rank, id, rrf6, n_rankers).

    Scale shape: each input is projected to three slim columns before
    a unionAll + one map-side-combined groupBy; the final per-query
    cut is a window over the fused (query, id, rrf6) stream — bounded
    by sum of the input list lengths per query (inputs are already
    top-k-truncated), never by the corpus."""
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    w6 = F.floor(
        F.lit(1e6) / (F.lit(float(k0)) + F.col(rank_col).cast("double")) + F.lit(0.5)
    ).cast("long")
    slim = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("id"),
            w6.alias("w6"),
        )
        for r in rankings
    ]
    u = slim[0]
    for s in slim[1:]:
        u = u.unionByName(s)
    agg = u.groupBy("query_id", "id").agg(
        F.sum("w6").alias("rrf6"), F.count(F.lit(1)).alias("n_rankers")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf6").desc(), F.col("id").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "id", "rrf6", "n_rankers")
    )
