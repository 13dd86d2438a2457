"""Feature-hashed text embeddings (the hashing trick: Weinberger et
al. 2009, "Feature Hashing for Large Scale Multitask Learning"; the
Vowpal Wabbit / scikit-learn HashingVectorizer construction).

Why this exists in a webtext engine: every similarity operator in the
stack (brute-force/LSH/IVF/PQ ANN, SemDeDup, embedding near-dups)
consumes an embedding column — but at 100 TB a neural encoder over
every document is often the single most expensive stage in the whole
pipeline, and it needs a model artifact. Feature hashing gives a
vocabulary-free, training-free, model-free text vector: token ->
md5 -> bucket j = h % dim, sign s = ±1 from an independent hash bit,
vector[j] += s. Signed hashing makes collisions cancel in
expectation (the inner product is an unbiased estimate of the full
TF inner product — the paper's Lemma 2), so cosine over hashed
vectors approximates token-level cosine well enough for clustering,
near-dup blocking and cheap retrieval triage.

Scale shape: one explode + two map-side-combined groupBys, all
Catalyst-native (md5/conv/explode/sum) — no Python, no vocabulary
broadcast, no model. Output vectors plug directly into
operators/similarity.py and operators/dedup.semdedup.

Determinism contract (and why this module earns a bit-exact SQL
twin where float-embedding ANN needed round6 care): every vector
component is an exact small INTEGER (a sum of ±1s). Dot products and
squared norms are therefore sums of exact integers < 2^53 — every
partial sum is exact, so ANY evaluation order (numpy GEMM blocking,
SQL left-to-right, Spark fold) produces the identical double; norms
are IEEE-exact sqrt of those; cosines divide identical doubles.
Nothing here depends on libm parity or summation order.

Reference analog: none (the reference has no text-vectorization);
SURVEY §2.7's scalar-function family is the seam, and the ANN
operators are the consumers.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ocr_compare_spark.operators.adaptive import collect_bounded

#: driver guard for hashed_topk's query collect — THE constant from
#: similarity.py (one knob, not two), and the shared top-k tail
from ocr_compare_spark.operators.similarity import (
    _TOPK_SCHEMA,
    MAX_DRIVER_QUERIES,
    _rank_topk,
    _topk_cut,
)


def hashed_tf(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 64,
    signed: bool = True,
    num_partitions: int | None = None,
    vec_col: str = "vector",
) -> DataFrame:
    """(id, vector array<double>) — signed hashed term frequencies.

    bucket = first-8-hex(md5(tok)) % dim; sign = parity of the 9th
    hex digit (an independent bit of the same digest — the two draws
    never share bits). Components are exact integers in double.

    Docs whose token stream is empty (blank/whitespace-only text)
    emit NO row — there is no meaningful direction for them, and a
    zero vector would only ever cosine to 0 (the cosine_native
    contract); callers needing them left-join back.

    ``num_partitions`` spreads the input BEFORE the md5 explode —
    the byte-light compute-heavy repartition trap (dsir/decontam/
    sketches precedent)."""
    import re as _re

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    if num_partitions:
        df = df.repartition(num_partitions)
    else:
        from ocr_compare_spark.operators.adaptive import spread_small_input

        df = spread_small_input(df)
    # lowercasing stays JVM-side: the Arrow pass below then hashes
    # byte-identical strings to the old relational path (Python
    # str.lower and UTF8String.toLowerCase differ on locale edge
    # cases; tokenization does not — Java regex \s and Python
    # re.ASCII \s are the same ASCII class, the py_hashed_tf
    # mirror-parity rule)
    src = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("_t"))
    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField(vec_col, ArrayType(DoubleType())),
        ]
    )

    # r6: one zero-shuffle Arrow pass replaces the explode + two
    # map-side groupBys + dense-map build — at 10^12 docs the
    # exploded (id, bucket, sign) stream was the dominant shuffle of
    # every hashed-vector consumer, and per-doc accumulation needs no
    # cross-row state at all. Components stay exact small integers
    # (md5-prefix bucket, 9th-hex-digit sign — the same bytes the
    # relational path hashed), so outputs are bit-identical
    # (mirror-pinned; the ann_suite 'hashedtf' arm gates the SQL twin
    # end to end).
    def gen(batches):
        split = _re.compile(r"\s+", _re.ASCII).split
        _md5 = hashlib.md5
        memo: dict = {}  # per-batch token -> (bucket, sign)
        for pdf in batches:
            memo.clear()
            ids_out, vecs = [], []
            for i, t in zip(pdf[id_col], pdf["_t"]):
                toks = [x for x in split(t)] if t else []
                v = None
                for tok in toks:
                    if not tok:
                        continue  # separator artifact, not a feature
                    e = memo.get(tok)
                    if e is None:
                        d = _md5(tok.encode("utf-8")).hexdigest()
                        e = (
                            int(d[:8], 16) % dim,
                            1 if (not signed or int(d[8], 16) % 2 == 0) else -1,
                        )
                        memo[tok] = e
                    if v is None:
                        v = [0.0] * dim
                    v[e[0]] += e[1]
                if v is not None:
                    ids_out.append(i)
                    vecs.append(v)
            if ids_out:
                yield pd.DataFrame({id_col: ids_out, vec_col: vecs})

    return src.mapInPandas(gen, out_schema)


def py_hashed_tf(text: str, dim: int, signed: bool = True):
    """Pure-python mirror of hashed_tf for one document (pytest
    ground truth). Returns None for an empty token stream (the
    no-row contract)."""
    text = text.lower()
    # re.ASCII: Java \s is ASCII-only (the CLAUDE.md mirror-parity
    # rule — bpe py_words precedent); a unicode \s here would split
    # NBSP-joined words the engine keeps whole
    toks = [t for t in re.split(r"\s+", text, flags=re.ASCII) if t != ""]
    if not toks:
        return None
    v = [0] * dim
    for t in toks:
        d = hashlib.md5(t.encode()).hexdigest()
        j = int(d[:8], 16) % dim
        s = 1 if (not signed or int(d[8], 16) % 2 == 0) else -1
        v[j] += s
    return [float(x) for x in v]


def hashed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    vec_col: str = "vector",
) -> DataFrame:
    """Exact cosine top-k over integer-valued hashed vectors:
    (query_id, rank, neighbor_id). Self-matches excluded; ties break
    to the lowest neighbor id.

    Same broadcast-queries + partition-GEMM shape as
    similarity.brute_force_topk (corpus never shuffled), and the same
    tie-stable per-batch cut (similarity._topk_cut) and ranked window.
    What differs is the score: the GEMM runs on the RAW
    integer-valued matrices (exact in any order; brute_force_topk
    normalizes first, which trades exactness for one multiply) with
    norms from exact squared sums and an elementwise divide, so the
    result is bit-identical to a relational SQL twin. Exact cosine
    ties are real here (duplicate token multisets give identical
    vectors), which is why the cut keeps the final window's order.
    Zero-norm rows cosine to 0.0 (the cosine_native convention)."""
    spark = corpus.sparkSession
    rows = collect_bounded(
        queries.select(id_col, vec_col),
        MAX_DRIVER_QUERIES,
        f"hashed_topk: query set exceeds {MAX_DRIVER_QUERIES} rows; "
        "bucket with similarity.lsh_topk instead",
    )
    q_ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    q_mat = np.array([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))

    def partial_topk(batches):
        ids_q, mat_q, nq = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids_c = pdf[id_col].to_numpy(dtype=np.int64)
            mat_c = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            nc = np.sqrt((mat_c * mat_c).sum(axis=1))
            dots = mat_q @ mat_c.T  # exact: integer-valued operands
            denom = np.outer(nq, nc)
            sims = np.where(denom > 0, dots / np.where(denom > 0, denom, 1.0), 0.0)
            yield _topk_cut(ids_q, ids_c, sims, k + 1)  # +1 survives self-removal

    partial = corpus.select(id_col, vec_col).mapInPandas(partial_topk, _TOPK_SCHEMA)
    return _rank_topk(partial.filter(F.col("neighbor_id") != F.col("query_id")), k).drop("sim")
