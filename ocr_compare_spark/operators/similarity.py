"""Similarity search over embedding columns (array<float>).

Exact and approximate top-k, all ending in one ranked
(query_id, rank, neighbor_id, sim) window (``_rank_topk``):

- brute force: broadcast the (small) query set and score each Arrow
  batch with one numpy GEMM inside mapInPandas. The corpus is never
  shuffled; wall-clock scales linearly with corpus partitions.
- LSH (random hyperplane signs) and IVF (inverted-file cells):
  candidates come from a bucket or cell equi-join, then exact cosine.
  These keep two spellings: per-coefficient literal folds that a
  DuckDB twin reproduces, and a broadcast + GEMM body whose summation
  order differs from those folds.
- PQ and IVF-PQ: corpus encoded to small code ids, queries scored by
  per-query lookup tables (ADC) in a broadcast scan.
- Evaluation: recall@k and rank-biased overlap over rank tables.

The broadcast scans (brute force, PQ, IVF-PQ and
embedding.hashed_topk) cut each batch with ``_topk_cut`` under the
final window's (score desc, id asc) order, so a tie that straddles
the cut keeps its lowest ids and the result does not depend on the
partition layout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ocr_compare_spark.operators.adaptive import collect_bounded


def _normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


_TOPK_SCHEMA = "query_id long, neighbor_id long, sim double"


def _topk_cut(q_ids, c_ids: np.ndarray, scores: np.ndarray, kk: int) -> pd.DataFrame:
    """Each query's top ``kk`` corpus rows of one (Q, C) score block,
    as (query_id, neighbor_id, sim) rows under (score desc, id asc) —
    _rank_topk's window order, so a tie straddling the cut keeps its
    lowest ids and the merged top-k is partition-layout-independent.
    The batch is sorted by id first; the stable argsort on -score
    then keeps equal scores in id order."""
    by_id = np.argsort(c_ids, kind="stable")
    c_ids, scores = c_ids[by_id], scores[:, by_id]
    top = np.argsort(-scores, axis=1, kind="stable")[:, :kk]
    return pd.DataFrame(
        {
            "query_id": np.repeat(q_ids, top.shape[1]),
            "neighbor_id": c_ids[top].ravel(),
            "sim": np.take_along_axis(scores, top, axis=1).ravel(),
        }
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared (query_id, neighbor_id, sim) -> ranked top-k tail."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("sim", 6).alias("sim"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, neighbor_id, sim).

    queries: driver-side list (small — broadcast inside the UDF
    closure as a dense float64 matrix). Self-matches excluded.
    """
    spark = corpus.sparkSession
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = _normalize(np.array([q[1] for q in queries], dtype=np.float64))
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def partial_topk(batches):
        ids_q, mat_q = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids_c = pdf[id_col].to_numpy(dtype=np.int64)
            mat_c = _normalize(np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]))
            # (Q, C) GEMM — the hot loop; k + 1 survives self-match removal
            yield _topk_cut(ids_q, ids_c, mat_q @ mat_c.T, k + 1)

    partial = corpus.select(id_col, vec_col).mapInPandas(partial_topk, _TOPK_SCHEMA)
    return _rank_topk(partial.filter(F.col("neighbor_id") != F.col("query_id")), k)


MAX_DRIVER_QUERIES = 65536


def brute_force_topk_df(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DataFrame-first overload of brute_force_topk (r1 advice: the
    list API invites misuse). The query set is still broadcast — the
    exact-GEMM design requires every partition to see all queries —
    but the collect is guarded: above MAX_DRIVER_QUERIES rows the
    right tool is lsh_topk, and this raises instead of silently
    OOMing the driver."""
    rows = collect_bounded(
        queries.select(id_col, vec_col),
        MAX_DRIVER_QUERIES,
        f"brute_force_topk_df: query set exceeds {MAX_DRIVER_QUERIES} rows; "
        "use lsh_topk for large query sets (bucketed join, no broadcast)",
    )
    qs = [(r[id_col], list(r[vec_col])) for r in rows]
    return brute_force_topk(corpus, qs, k=k, id_col=id_col, vec_col=vec_col)


def cosine_native(a: F.Column, b: F.Column) -> F.Column:
    """Native cosine between two array<double> columns (zip_with +
    aggregate — for joins where a UDF isn't warranted)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def hyperplane_buckets(vec_col: str, n_planes: int = 8, seed: int = 42, dim: int = 64) -> F.Column:
    """Random-hyperplane LSH bucket id (int) — sign pattern of
    n_planes fixed projections. Deterministic planes from a seeded
    RNG materialized as literals (native dot products)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    bucket = F.lit(0)
    for p in range(n_planes):
        coeffs = F.array(*[F.lit(float(c)) for c in planes[p]])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), coeffs, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def seeded_centroids(n_centroids: int = 16, dim: int = 64, seed: int = 7) -> np.ndarray:
    """Deterministic unit-norm centroids from a seeded RNG — the
    data-independent quantizer variant, chosen as the DEFAULT so the
    DuckDB oracle can embed the centroids as literals (same trick as
    the LSH hyperplanes). For data-trained cells use train_centroids
    and pass the result in."""
    rng = np.random.default_rng(seed)
    return _normalize(rng.standard_normal((n_centroids, dim)))


def lloyd_kmeans(mat: np.ndarray, n_centroids: int = 16, iters: int = 5) -> np.ndarray:
    """Core deterministic Lloyd loop (init = first n_centroids rows,
    argmax-dot assignment, mean + renormalize). Shared by
    train_centroids (Spark sample) and the driver-oracle generator
    (duckdb sample of the SAME rows), so both sides produce
    bit-identical centroids by construction."""
    mat = _normalize(np.asarray(mat, dtype=np.float64))
    if len(mat) < n_centroids:
        # an implicit short return would make a later ivf_topk probe
        # fewer cells than the caller asked for — fail loudly instead
        raise ValueError(
            f"lloyd_kmeans: sample has {len(mat)} rows < n_centroids={n_centroids}; "
            "lower n_centroids or raise sample"
        )
    cents = mat[:n_centroids].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(n_centroids):
            sel = mat[assign == c]
            if len(sel):
                cents[c] = sel.mean(axis=0)
        cents = _normalize(cents)
    return cents


def train_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic Lloyd's k-means on a bounded, id-ordered sample
    (init = first n_centroids sample rows). Driver-side numpy on at
    most ``sample`` vectors — the standard IVF training shape; the
    partition/assignment step stays fully distributed."""
    rows = df.orderBy(id_col).limit(sample).select(vec_col).collect()
    mat = np.array([list(r[0]) for r in rows], dtype=np.float64)
    return lloyd_kmeans(mat, n_centroids, iters)


def _centroid_scores(vec_col: str, centroids: np.ndarray) -> list[F.Column]:
    """dot(vec, centroid_c) per centroid, as the same left-to-right
    zip_with/aggregate fold the oracle mirrors."""
    out = []
    for c in centroids:
        coeffs = F.array(*[F.lit(float(x)) for x in c])
        out.append(
            F.aggregate(
                F.zip_with(F.col(vec_col), coeffs, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return out


def _ivf_cells_literal(
    df: DataFrame,
    cents: np.ndarray,
    id_col: str,
    vec_col: str,
    out_id: str,
    out_vec: str,
    nprobe: int | None = None,
) -> DataFrame:
    """Literal-path IVF cell assignment, same modes and columns as
    _ivf_cells_data: centroid dots as the _centroid_scores folds a
    DuckDB twin reproduces, ranked as array<struct(-dot, cid)> so
    array_min / array_sort break ties to the lowest cell id. The plan
    is O(dim x n_centroids) — oracle-checked small configs only."""
    scores = _centroid_scores(vec_col, cents)
    cells = [F.struct((-s).alias("nd"), F.lit(i).alias("cid")) for i, s in enumerate(scores)]
    staged = df.select(
        F.col(id_col).alias(out_id),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(out_vec),
        F.array(*cells).alias("_cells"),
    )
    if nprobe is None:
        best = F.array_min("_cells")
        return staged.select(out_id, out_vec, best.cid.alias("cid"), (-best.nd).alias("centsim"))
    probed = F.transform(F.slice(F.array_sort("_cells"), 1, nprobe), lambda x: x.cid)
    return staged.select(out_id, out_vec, F.explode(probed).alias("cid"))


def _ivf_cells_data(
    df: DataFrame,
    cents: np.ndarray,
    id_col: str,
    vec_col: str,
    out_id: str,
    out_vec: str,
    nprobe: int | None = None,
) -> DataFrame:
    """Data-path IVF cell assignment: centroids ride a Spark broadcast
    and the per-batch assignment is ONE numpy GEMM inside mapInPandas,
    so the Catalyst plan stays O(1) in (dim x n_centroids) — the shape
    the literal path blows up on at real embedding dims. Tie-breaks
    match the literal path: np.argmax / stable argsort both prefer the
    LOWEST cell id.

    nprobe=None -> corpus mode (one argmax cell per row, plus its
                   score as ``centsim``);
    nprobe=n    -> query mode (n best cells per row, exploded)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(cents, dtype=np.float64))
    schema = f"{out_id} long, {out_vec} array<double>, cid int"
    schema += ", centsim double" if nprobe is None else ""

    def assign(batches):
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            scores = mat @ c.T  # (B, n_centroids) GEMM — the hot loop
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            vecs = [list(row) for row in mat]
            if nprobe is None:
                yield pd.DataFrame(
                    {
                        out_id: ids,
                        out_vec: vecs,
                        "cid": np.argmax(scores, axis=1).astype(np.int32),
                        "centsim": np.max(scores, axis=1),
                    }
                )
            else:
                nn = min(nprobe, scores.shape[1])
                # stable sort on -score keeps ties in ascending-cid order,
                # matching the literal path's array_sort(struct(nd, cid))
                order = np.argsort(-scores, axis=1, kind="stable")[:, :nn]
                yield pd.DataFrame(
                    {
                        out_id: np.repeat(ids, nn),
                        out_vec: [v for v in vecs for _ in range(nn)],
                        "cid": order.ravel().astype(np.int32),
                    }
                )

    return df.select(id_col, vec_col).mapInPandas(assign, schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    method: str = "literal",
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) cells.

    Corpus vectors are assigned to their max-dot centroid (one cell
    each); queries probe their ``nprobe`` best cells; candidates =
    cell equi-join (never a cross join); exact cosine + window top-k
    within candidates. At warehouse scale the cell id is the natural
    partition/cluster key, so the join co-locates with the stored
    layout. Ties break to the lowest cell id on both sides.

    method="literal": centroid dots as native zip_with/aggregate folds
    over per-component literals — bit-reproducible in the DuckDB
    oracle, but the expression tree is O(dim x n_centroids); keep it
    for oracle-checked small configs (dim 64 / 16 cells).
    method="data": centroids as a Spark broadcast + one numpy GEMM per
    Arrow batch (mapInPandas) — plan size O(1) in shape; the path for
    real embeddings (dim 768+, 1k-64k cells).

    ``dim`` hint skips the sizing first() (which on a DERIVED corpus
    recomputes the whole upstream plan — same fix as
    dedup.embed_near_dups n/dim hints)."""
    cents = seeded_centroids() if centroids is None else centroids
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    assert cents.shape[1] == dim, "centroid dim mismatch"

    if method == "data":
        corpus_cells = _ivf_cells_data(corpus, cents, id_col, vec_col, "neighbor_id", "c_vec")
        probe = _ivf_cells_data(queries, cents, id_col, vec_col, "query_id", "q_vec", nprobe=nprobe)
    elif method == "literal":
        corpus_cells = _ivf_cells_literal(corpus, cents, id_col, vec_col, "neighbor_id", "c_vec")
        probe = _ivf_cells_literal(
            queries, cents, id_col, vec_col, "query_id", "q_vec", nprobe=nprobe
        )
    else:
        raise ValueError(f"ivf_topk: unknown method {method!r} (literal|data)")

    cand = probe.join(corpus_cells, "cid").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id", "neighbor_id", cosine_native(F.col("q_vec"), F.col("c_vec")).alias("sim")
    )
    return _rank_topk(scored, k)


def lsh_planes(n_planes: int, dim: int, n_tables: int) -> np.ndarray:
    """The (n_tables, n_planes, dim) hyperplane tensor both lsh_topk
    paths share — seeds 42+t per table, identical to the literal
    hyperplane_buckets(seed=42+t) draws."""
    return np.stack(
        [np.random.default_rng(42 + t).standard_normal((n_planes, dim)) for t in range(n_tables)]
    )


def _lsh_buckets_data(
    df: DataFrame,
    planes: np.ndarray,
    id_col: str,
    vec_col: str,
    out_id: str,
    out_vec: str,
) -> DataFrame:
    """Data-path LSH bucket assignment: the full plane tensor rides a
    Spark broadcast; per Arrow batch, ONE GEMM against all tables'
    planes at once, then a bit-pack — plan size O(1) in
    (dim x planes x tables) vs the literal path's per-coefficient
    expression tree. Emits the same exploded (id, vec, table_id,
    bucket) shape the bucket equi-join consumes."""
    spark = df.sparkSession
    n_tables, n_planes, dim = planes.shape
    flat = np.ascontiguousarray(planes.reshape(n_tables * n_planes, dim), dtype=np.float64)
    bc = spark.sparkContext.broadcast(flat)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    schema = f"{out_id} long, {out_vec} array<double>, table_id int, bucket int"

    def assign(batches):
        pl = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            signs = (mat @ pl.T) > 0  # (B, T*P) GEMM — the hot loop
            buckets = (signs.reshape(len(mat), n_tables, n_planes) * weights).sum(axis=2)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            vecs = [list(row) for row in mat]
            yield pd.DataFrame(
                {
                    out_id: np.repeat(ids, n_tables),
                    out_vec: [v for v in vecs for _ in range(n_tables)],
                    "table_id": np.tile(np.arange(n_tables, dtype=np.int32), len(mat)),
                    "bucket": buckets.ravel().astype(np.int32),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(assign, schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    method: str = "literal",
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    Each of ``n_tables`` independent tables assigns a 2^n_planes
    bucket; candidates = union over tables of bucket-equi-joined
    pairs (the standard recall amplifier: miss probability decays as
    (1 - p^planes)^tables), then exact cosine within candidates. The
    join key is (table_id, bucket) — never a cross join.

    method="literal": per-coefficient literal folds (DuckDB-oracle
    bit-exact; plan is O(dim x planes x tables) — small configs only).
    method="data": broadcast plane tensor + one GEMM per Arrow batch
    in mapInPandas — plan O(1) in shape, the real-embedding path.
    ``dim`` hint skips the sizing first() on derived inputs."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])

    if method == "data":
        planes = lsh_planes(n_planes, dim, n_tables)
        cb = _lsh_buckets_data(corpus, planes, id_col, vec_col, "neighbor_id", "c_vec")
        qb = _lsh_buckets_data(queries, planes, id_col, vec_col, "query_id", "q_vec")
    elif method == "literal":
        def with_buckets(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
            buckets = F.array(
                *[
                    hyperplane_buckets(vec_col, n_planes, seed=42 + t, dim=dim)
                    for t in range(n_tables)
                ]
            )
            return df.select(
                F.col(id_col).alias(out_id),
                F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(out_vec),
                F.posexplode(buckets).alias("table_id", "bucket"),
            )

        cb = with_buckets(corpus, "neighbor_id", "c_vec")
        qb = with_buckets(queries, "query_id", "q_vec")
    else:
        raise ValueError(f"lsh_topk: unknown method {method!r} (literal|data)")

    cand = (
        qb.join(cb, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "q_vec", "neighbor_id", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id", "neighbor_id", cosine_native(F.col("q_vec"), F.col("c_vec")).alias("sim")
    )
    return _rank_topk(scored, k)


# ----------------------------------------------------- product quantization


def seeded_pq_codebooks(
    n_sub: int = 4, n_codes: int = 16, sub_dim: int = 16, seed: int = 11
) -> np.ndarray:
    """Deterministic (n_sub, n_codes, sub_dim) PQ codebooks from a
    seeded RNG, scaled by 1/sqrt(n_sub*sub_dim) so code components
    sit at the scale of unit-norm embedding components — the
    data-independent variant, chosen as the DEFAULT so the DuckDB
    oracle can embed the codebooks as literals (the seeded_centroids
    trick). For real recall train them with train_ivfpq."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_sub, n_codes, sub_dim)) / np.sqrt(n_sub * sub_dim)


def _lloyd_kmeans_l2(mat: np.ndarray, n_codes: int, iters: int = 5) -> np.ndarray:
    """Euclidean Lloyd loop for PQ sub-quantizers (init = first
    n_codes rows, argmin-L2 assignment, plain mean update — NO
    renormalization, codes live in the data space). Deterministic,
    shared by train_ivfpq and any oracle generator."""
    mat = np.asarray(mat, dtype=np.float64)
    if len(mat) < n_codes:
        raise ValueError(
            f"_lloyd_kmeans_l2: sample has {len(mat)} rows < n_codes={n_codes}"
        )
    cents = mat[:n_codes].copy()
    for _ in range(iters):
        d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d, axis=1)
        for c in range(n_codes):
            sel = mat[assign == c]
            if len(sel):
                cents[c] = sel.mean(axis=0)
    return cents


def _pq_codes_data(
    df: DataFrame, cb: np.ndarray, id_col: str, vec_col: str, out_id: str
) -> DataFrame:
    """PQ encode (out_id, c0..c{m-1}): codebooks ride a Spark
    broadcast; per Arrow batch the squared-L2 distance accumulates
    with an EXPLICIT left-to-right loop over sub_dim (16-96 vectorized
    (B, n_codes) ops — still numpy-fast), so every float add happens
    in the order of the literal fold
    0.0 + (v[p]-c[0])^2 + (v[p+1]-c[1])^2 + ... that the DuckDB twin
    writes out; np.argmin breaks ties to the lowest code, as the
    twin's CASE chain does. Plan size O(1) in
    (n_sub x n_codes x sub_dim)."""
    spark = df.sparkSession
    n_sub, n_codes, sub_dim = cb.shape
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(cb, dtype=np.float64))
    schema = f"{out_id} long, " + ", ".join(f"c{j} int" for j in range(n_sub))

    def encode(batches):
        cbv = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            out = {out_id: pdf[id_col].to_numpy(dtype=np.int64)}
            for j in range(n_sub):
                sub = mat[:, j * sub_dim : (j + 1) * sub_dim]
                d = np.zeros((len(mat), n_codes))  # the fold's lit(0.0) seed
                for i in range(sub_dim):
                    t = sub[:, None, i] - cbv[j][None, :, i]
                    d = d + t * t
                out[f"c{j}"] = np.argmin(d, axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(encode, schema)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_sub: int = 4,
    n_codes: int = 16,
    codebooks: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    method: str = "literal",
) -> DataFrame:
    """Approximate top-k via product quantization (Jégou et al. 2011)
    — the compressed-scan ANN tier: corpus vectors are encoded once
    to n_sub small code ids (uint8-sized; at 100 TB the codes table
    is ~dim*4/n_sub times smaller than the raw embeddings and is
    what the scan reads), queries score candidates with asymmetric
    distance computation (ADC): per query a tiny n_sub x n_codes
    lookup table of subspace dots, score = sum of LUT entries for
    the row's codes. Composable with IVF cells (encode within cells)
    exactly like a FAISS IVF-PQ index.

    The score is the asymmetric inner product dot(q, reconstruction)
    — ranking approximates exact dot/cosine for unit-norm corpora.

    One body serves both ``method`` spellings ("literal", "data"):
    broadcast codebooks + ordered-loop numpy encode (_pq_codes_data),
    queries collected (guarded) into ordered-loop LUTs, one
    mapInPandas scan cut by _topk_cut. Every float op runs in the
    left-to-right order of the literal folds the DuckDB twin writes
    out, and the cut keeps (score desc, id asc), so the rows equal
    the literal join-and-window's. Plan size is O(1) in
    (n_sub x n_codes x sub_dim).

    ``dim`` hint skips the sizing first() on derived inputs."""
    if method not in ("literal", "data"):
        raise ValueError(f"pq_topk: unknown method {method!r} (literal|data)")
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    assert dim % n_sub == 0, f"dim {dim} not divisible by n_sub {n_sub}"
    sub_dim = dim // n_sub
    cb = seeded_pq_codebooks(n_sub, n_codes, sub_dim) if codebooks is None else codebooks
    assert cb.shape == (n_sub, n_codes, sub_dim), f"codebook shape {cb.shape} mismatch"

    rows = collect_bounded(
        queries.select(id_col, vec_col),
        MAX_DRIVER_QUERIES,
        f"pq_topk: query set exceeds {MAX_DRIVER_QUERIES} rows; "
        "bucket queries through IVF cells first (IVF-PQ) instead of one flat scan",
    )
    q_ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    q_vecs = np.array([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    q_sub = q_vecs.reshape(len(rows), n_sub, sub_dim)
    # (Q, n_sub, n_codes) LUTs in the literal fold's exact order, one
    # elementwise add per component: 0.0 + q[p]*c0 + q[p+1]*c1 + ...
    luts = np.zeros((len(rows), n_sub, n_codes))
    for i in range(sub_dim):
        luts = luts + q_sub[:, :, i, None] * cb[None, :, :, i]
    bc_luts = corpus.sparkSession.sparkContext.broadcast((q_ids, luts))
    codes = _pq_codes_data(corpus, cb, id_col, vec_col, "neighbor_id")

    def scan(batches):
        ids_q, lv = bc_luts.value
        for pdf in batches:
            ids_c = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            code_cols = [pdf[f"c{j}"].to_numpy(dtype=np.int64) for j in range(n_sub)]
            frames = []
            for qid, lut in zip(ids_q, lv):  # per query: no block grows past one batch
                s = lut[0][code_cols[0]]
                for j in range(1, n_sub):
                    s = s + lut[j][code_cols[j]]
                # k + 1 survives self-match removal
                frames.append(_topk_cut([qid], ids_c, s[None, :], k + 1))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    partial = codes.mapInPandas(scan, _TOPK_SCHEMA)
    return _rank_topk(partial.filter(F.col("neighbor_id") != F.col("query_id")), k)


# ------------------------------------------------------------------ IVF-PQ


def train_ivfpq(
    df: DataFrame,
    n_centroids: int = 16,
    n_sub: int = 4,
    n_codes: int = 16,
    iters: int = 5,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Train the FAISS-style IVF-PQ index parameters on one bounded,
    id-ordered sample: coarse centroids via the shared spherical
    Lloyd loop, then per-subspace Euclidean codebooks on the RESIDUALS
    (x - centroid[cell(x)]) — residual encoding is what makes PQ
    codes sharp inside a cell. Returns (centroids, codebooks)."""
    rows = df.orderBy(id_col).limit(sample).select(vec_col).collect()
    mat = np.array([list(r[0]) for r in rows], dtype=np.float64)
    dim = mat.shape[1]
    assert dim % n_sub == 0, f"dim {dim} not divisible by n_sub {n_sub}"
    cents = lloyd_kmeans(mat, n_centroids, iters)
    assign = np.argmax(mat @ cents.T, axis=1)
    resid = mat - cents[assign]
    sd = dim // n_sub
    cb = np.stack(
        [_lloyd_kmeans_l2(resid[:, j * sd : (j + 1) * sd], n_codes, iters) for j in range(n_sub)]
    )
    return cents, cb


def _ivfpq_encode_data(
    df: DataFrame,
    cents: np.ndarray,
    cb: np.ndarray,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """One fused mapInPandas pass: argmax-dot cell assignment (the
    ivf_topk convention — ties to the lowest cell id) + per-subspace
    argmin-L2 residual encode. Emits (neighbor_id, cid, c0..c{m-1})
    — the compressed index rows; at warehouse scale this table is
    written bucketed/clustered by cid so the probe scan prunes."""
    spark = df.sparkSession
    n_sub, n_codes, sub_dim = cb.shape
    bc = spark.sparkContext.broadcast(
        (np.ascontiguousarray(cents, dtype=np.float64), np.ascontiguousarray(cb, dtype=np.float64))
    )
    schema = f"{id_col} long, cid int, " + ", ".join(f"c{j} int" for j in range(n_sub))

    def encode(batches):
        cv, cbv = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cid = np.argmax(mat @ cv.T, axis=1)
            resid = mat - cv[cid]
            out = {id_col: pdf[id_col].to_numpy(dtype=np.int64), "cid": cid.astype(np.int32)}
            for j in range(n_sub):
                sub = resid[:, j * sub_dim : (j + 1) * sub_dim]
                d = ((sub[:, None, :] - cbv[j][None, :, :]) ** 2).sum(axis=2)
                out[f"c{j}"] = np.argmin(d, axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(encode, schema)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    *,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    n_sub: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composition the other tiers
    build toward and the standard billion-scale index shape (FAISS
    IVFx,PQy): the coarse quantizer routes, the PQ codes score.

    score(q, x) = dot(q, centroid[cell(x)])           (per probed cell)
               + sum_j LUT_q[j][code_j(x)]            (residual ADC)

    which is exactly dot(q, centroid + reconstruction(residual)).

    Plan shape: ONE mapInPandas over the compressed codes table —
    each batch scores only rows whose cell is probed by some query
    (at warehouse scale the codes table is clustered by cid, so
    non-probed cells are pruned at the scan) — then one window over
    the per-batch partial top-k. The corpus is never shuffled and
    never decompressed; queries are driver-collected (guarded) into
    python-float LUTs.

    Data path only: the composition is pytest-pinned against a plain
    numpy mirror; its components (cell routing, PQ encode/ADC) carry
    the bit-exact oracles in ann_suite."""
    assert dim % n_sub == 0, f"dim {dim} not divisible by n_sub {n_sub}"
    sub_dim = dim // n_sub
    assert codebooks.shape == (n_sub, n_codes, sub_dim), (
        f"codebook shape {codebooks.shape} mismatch"
    )

    rows = collect_bounded(
        queries.select(id_col, vec_col),
        MAX_DRIVER_QUERIES,
        f"ivfpq_topk: query set exceeds {MAX_DRIVER_QUERIES} rows; "
        "route the query set through the cell join instead of a broadcast scan",
    )
    # per query: probed cells (stable argsort — ties to the lowest
    # cell id, the ivf convention), the per-cell dot, and the
    # residual-ADC LUT
    probes: list[tuple[int, dict[int, float], np.ndarray]] = []
    for r in rows:
        q = np.asarray(list(r[vec_col]), dtype=np.float64)
        cell_dots = centroids @ q
        order = np.argsort(-cell_dots, kind="stable")[:nprobe]
        lut = np.empty((n_sub, n_codes), dtype=np.float64)
        for j in range(n_sub):
            lut[j] = codebooks[j] @ q[j * sub_dim : (j + 1) * sub_dim]
        probes.append((int(r[id_col]), {int(c): float(cell_dots[c]) for c in order}, lut))
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(probes)
    codes = _ivfpq_encode_data(corpus, centroids, codebooks, id_col, vec_col)

    def scan(batches):
        pv = bc.value
        for pdf in batches:
            ids_c = pdf[id_col].to_numpy(dtype=np.int64)
            cid = pdf["cid"].to_numpy(dtype=np.int64)
            code_cols = [pdf[f"c{j}"].to_numpy(dtype=np.int64) for j in range(n_sub)]
            frames = []
            for qid, cells, lut in pv:  # per query: only its probed rows
                mask = np.isin(cid, np.fromiter(cells, dtype=np.int64))
                adc = lut[0][code_cols[0][mask]]
                for j in range(1, n_sub):
                    adc = adc + lut[j][code_cols[j][mask]]
                cdot = np.array([cells[int(c)] for c in cid[mask]], dtype=np.float64)
                frames.append(_topk_cut([qid], ids_c[mask], (cdot + adc)[None, :], k + 1))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    partial = codes.mapInPandas(scan, _TOPK_SCHEMA)
    return _rank_topk(partial.filter(F.col("neighbor_id") != F.col("query_id")), k)


def mine_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    positives: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for embedding/retriever training (the
    DPR / ANCE recipe: the best negatives are the nearest non-
    relevant neighbors, not random ones): per query, the exact top-k
    most-similar corpus vectors AFTER removing the query itself and
    its known positives. Output (query_id, rank, neighbor_id, sim),
    rank 1..k over the surviving negatives.

    ``positives``: (query_id, pos_id) pairs to exclude. Exactness
    under exclusion: fetch k + max(positives per query) candidates
    (one bounded aggregate decides the buffer), anti-join the
    positives, re-rank — every excluded pair frees exactly one slot,
    so the kept k are the true top-k negatives. Same scale shape as
    brute_force_topk (broadcast queries, partition GEMM, corpus never
    shuffled); swap in lsh/ivf candidates upstream for query sets
    beyond the driver guard."""
    row = (
        positives.groupBy("query_id")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n"))
        .first()
    )
    max_pos = int(row[0] or 0)
    top = brute_force_topk_df(
        corpus, queries, k=k + max_pos, id_col=id_col, vec_col=vec_col
    ).join(
        positives.select("query_id", F.col("pos_id").alias("neighbor_id")),
        ["query_id", "neighbor_id"],
        "left_anti",
    )
    # re-rank by the ORIGINAL brute-force rank, not by the rounded sim
    # column: the candidate buffer was cut on RAW sims, so ordering
    # survivors by round6 sims could disagree with the cut near
    # round6 ties — rank asc preserves the raw (sim desc, id asc)
    # order exactly and keeps Spark consistent with the raw-ranked
    # oracle twin (the bf-arm convention)
    w = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def recall_at_k(
    approx: DataFrame,
    truth: DataFrame,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
) -> DataFrame:
    """In-engine ANN quality evaluation: per-query recall@k of an
    approximate ranking against an exact one (the number every IVF/
    LSH/PQ deployment is tuned on — FAISS's own benchmark metric).

    Inputs are two rankings shaped (query_col, rank, id_col) (the
    repo's ANN contract), taken as-is: they are already top-k,
    and the truth side may be shorter than k when the corpus is
    small — recall divides by the TRUTH size, so an approximate
    ranking that returns everything the exact one returns scores 1.0
    regardless.

    Output: (query_col, n_hits, n_truth, recall6) — recall6 =
    floor(n_hits / n_truth * 1e6 + 0.5) as int64 microunits: the
    division of two small exact integers is the same IEEE double on
    every engine, so the metric is bit-exact cross-engine (queries
    with an empty truth set produce no row — 0/0 has no recall).

    Scale shape: both inputs are SLIM rank tables (3 columns), never
    the vectors — one equi-join + two map-side-combined groupBys;
    at 100 TB the eval query set is the small side by construction
    (rankings are k rows per query)."""
    a = approx.select(query_col, id_col)
    t = truth.select(query_col, id_col)
    n_truth = t.groupBy(query_col).agg(F.count("*").alias("n_truth"))
    hits = (
        a.join(t, [query_col, id_col], "inner")
        .groupBy(query_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        n_truth.join(hits, [query_col], "left")
        .select(
            query_col,
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.floor(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_truth").cast("double")
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("recall6"),
        )
    )


def rbo_weights(p: float, k: int) -> list[float]:
    """Per-depth RBO weights w_d = (1-p) * p^(d-1) / d for d=1..k —
    ONE shared implementation consumed by both the Spark operator and
    the DuckDB oracle generator (the lloyd_kmeans convention), so the
    embedded literals are bit-identical on both sides. At p=0.5 every
    p^(d-1) is an exact power of two, so w_d is a correctly-rounded
    single division — the same double everywhere."""
    if not (0.0 < p < 1.0):
        raise ValueError(f"rbo: p must be in (0,1), got {p!r}")
    if k <= 0:
        raise ValueError(f"rbo: k must be positive, got {k!r}")
    return [(1.0 - p) * p ** (d - 1) / d for d in range(1, int(k) + 1)]


def rbo(
    a: DataFrame,
    b: DataFrame,
    p: float = 0.5,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) — the
    top-weighted ranking-similarity metric search teams use to compare
    two rankers (here: an ANN variant vs the exact ranking, or two
    retrieval configurations). Truncated prefix form:

        RBO@k = sum_{d=1..k} w_d * X_d,   w_d = (1-p) p^(d-1) / d

    where X_d = |A[:d] ∩ B[:d]|. A pair common to both rankings enters
    the intersection at depth d0 = max(rank_a, rank_b), so X_d is the
    count of pairs with d0 <= d — computed by exploding each common
    pair to depths d0..k (fan-out <= k per pair, k^2 rows per query at
    worst) and counting per (query, d). Per-depth terms are
    floor-round6'd to int64 BEFORE the per-query sum (the house
    round6-before-sum contract), so the result is layout-invariant
    and bit-exact cross-engine. Queries present in either ranking but
    sharing no ids emit rbo6 = 0 (unlike recall there is no 0/0).

    Output: (query_col, n_common, rbo6). Identical rankings score
    round6-sum ~= 1e6 * (1 - p^k).

    Scale shape: slim 3-column rank tables only (vectors never move);
    one equi-join on (query, id), a bounded explode, two map-side
    groupBys, and a distinct-query universe left-joined back."""
    wts = rbo_weights(p, k)
    aa = a.select(query_col, id_col, F.col(rank_col).alias("_ra")).filter(
        F.col(rank_col) <= k
    )
    bb = b.select(query_col, id_col, F.col(rank_col).alias("_rb")).filter(
        F.col(rank_col) <= k
    )
    # TWO aggregate consumers (xd and n_common) — checkpoint or the
    # rank-table join runs twice (the hll_overlap rule)
    pairs = (
        aa.join(bb, [query_col, id_col])
        .select(query_col, F.greatest("_ra", "_rb").cast("int").alias("_d0"))
        .localCheckpoint()
    )
    xd = (
        pairs.select(query_col, F.explode(F.sequence(F.col("_d0"), F.lit(int(k)))).alias("_d"))
        .groupBy(query_col, "_d")
        .agg(F.count("*").alias("_x"))
    )
    warr = F.array(*[F.lit(w) for w in wts])
    term6 = F.floor(
        F.get(warr, F.col("_d").cast("int") - 1) * F.col("_x") * 1e6 + F.lit(0.5)
    ).cast("long")
    per_q = xd.select(query_col, term6.alias("_t6")).groupBy(query_col).agg(
        F.sum("_t6").alias("rbo6")
    )
    n_common = pairs.groupBy(query_col).agg(F.count("*").alias("n_common"))
    universe = a.select(query_col).unionByName(b.select(query_col)).distinct()
    return (
        universe.join(n_common, [query_col], "left")
        .join(per_q, [query_col], "left")
        .select(
            query_col,
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
            F.coalesce(F.col("rbo6"), F.lit(0)).cast("long").alias("rbo6"),
        )
    )
