"""Linear quality classifier — the "quality filter" stage of GPT-3 /
CCNet / RefinedWeb-style pipelines: train on a high-quality reference
corpus (positive) vs random crawl (negative), then keep pages the
model scores positive.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F


# ---------------------------------------------------------------------------
# Logistic regression over hashed text features (the GPT-3 recipe)
#
# GPT-3's Common Crawl filter was literally "a logistic regression
# classifier" over text features, reference corpus = positive, raw
# crawl = negative (Brown et al. 2020, App. A); this is that discriminative
# model, trained fully inside the engine.
#
# Shape per GD iteration (full-batch, deterministic):
# - features x = unsigned hashed-TF vector (embedding.hashed_tf,
#   signed=False) — vocabulary-free, fixed dim; scaled by the doc's
#   token count ONCE, after the dot (z = b + dot(w, v)/n), so the
#   per-element lambda never references an expression-backed scalar
#   (the CLAUDE.md lambda-inline trap).
# - per-doc gradient components round6'd to INT64 MICROUNITS before
#   the cross-doc sum (the lm.py round-before-sum contract), so the
#   aggregated gradient — and therefore every subsequent weight
#   vector — is partition/layout/cluster-size invariant and the
#   pure-python mirror reproduces training BIT-FOR-BIT.
# - the gradient aggregation is a posexplode + ONE map-side-combined
#   groupBy(slot): (dim+1) slim (slot, g6) rows per doc, no lambda
#   over expression-backed columns, no driver-side data beyond the
#   (dim+1)-row sums. The bias rides slot 0 with v = n, so its
#   "scaled" component (e*n)/n IS the error term under the shared
#   formula (one code path for all slots).
# - weight update runs on the driver through ONE shared function
#   (_logreg_update) that the mirror calls too — the lloyd_kmeans
#   shared-loop convention.


def _logreg_z(vec_col: str, wb: list[float]) -> Column:
    """z = b + dot(w, v)/n with the dot folded in INDEX order and n =
    sum(v) (exact integers) — one division AFTER the fold, so the
    mirror's float op sequence matches exactly."""
    warr = F.array(*[F.lit(float(x)) for x in wb[1:]])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), warr, lambda v, w: w * v),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x)
    return F.lit(float(wb[0])) + dot / n


def _logreg_update(
    wb: list[float], sums6: list[int], n_docs: int, lr: float
) -> list[float]:
    """Shared driver-side GD step (Spark trainer AND mirror): wb −=
    lr · (Σg6/1e6)/n_docs per slot."""
    return [w - lr * (s / 1e6) / n_docs for w, s in zip(wb, sums6)]


def train_logreg(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    dim: int = 64,
    iters: int = 30,
    lr: float = 2.0,
    num_partitions: int | None = None,
) -> dict:
    """Train the LR quality classifier: reference corpus (positive)
    vs raw crawl sample (negative). Returns {'wb': [bias, w_0..],
    'dim': dim} — ``wb`` is bit-deterministic (see module notes).

    Blank/whitespace-only docs contribute nothing (hashed_tf's
    no-row contract). iters jobs run, each collecting (dim+1) int64
    sums — the only driver traffic."""
    from ocr_compare_spark.operators.embedding import hashed_tf

    labeled = (
        pos.select(F.col(text_col).alias("text")).withColumn("y", F.lit(1.0))
        .unionByName(
            neg.select(F.col(text_col).alias("text")).withColumn("y", F.lit(0.0))
        )
        .withColumn("_id", F.monotonically_increasing_id())
        .localCheckpoint()  # freeze ids: hashed_tf AND the y join read them
    )
    feats = (
        hashed_tf(labeled, "_id", "text", dim=dim, signed=False,
                  num_partitions=num_partitions)
        .join(labeled.select("_id", "y"), "_id")
        .select(
            "y",
            "vector",
            # loop-invariant token count hoisted ONCE into the
            # checkpointed frame (the loop used to re-fold it three
            # times per row per iteration — review finding); exact
            # integer sum, so the value is bit-identical to the fold
            F.aggregate(
                F.col("vector"), F.lit(0.0), lambda acc, x: acc + x
            ).alias("_n"),
        )
        .localCheckpoint()  # reused by EVERY iteration
    )
    n_docs = feats.count()
    if n_docs == 0:
        raise ValueError("train_logreg: no non-empty documents")
    wb = [0.0] * (dim + 1)
    for _ in range(iters):
        # r6 optimization: the former per-iteration Spark job built
        # an interpreted zip_with/aggregate fold per row plus a
        # posexplode of (dim+1) slim rows per doc — ~3 s/iteration at
        # sf1.0. This Arrow pass computes the SAME float ops in the
        # SAME order (z fold per dimension index, err via math.exp —
        # the libm exp the JVM shares on this box, the recrawl
        # precedent the mirror already relies on; g6 floor-round6 per
        # slot) and emits one (dim+1)-row int64 partial sum per
        # partition; int64 sums are order-free, so the aggregated
        # gradient — and every weight vector — stays bit-identical to
        # the mirror (pytest-pinned).
        rows = (
            feats.mapInPandas(
                _grad_partials(wb, dim), "slot int, s6 long"
            )
            .groupBy("slot")
            .agg(F.sum("s6").alias("s6"))
            .collect()
        )
        sums = [0] * (dim + 1)
        for r in rows:
            sums[r["slot"]] = r["s6"]
        wb = _logreg_update(wb, sums, n_docs, lr)
    return {"wb": wb, "dim": dim}


def _grad_partials(wb: list[float], dim: int):
    """Per-partition gradient partial sums for train_logreg — a pure
    function factory so the closure ships only (wb, dim). Replicates
    the former Spark expression chain bit-for-bit:

        z  = b + (fold_j w_j * v_j) / n      (index-ordered fold)
        e  = 1.0 / (1.0 + exp(-z)) - y       (scalar libm exp)
        g6 = floor(((e * v) / n) * 1e6 + 0.5)  per slot (slot 0: v=n)

    and yields (slot, partial int64 sum) rows."""
    import numpy as np
    import pandas as pd

    b0 = float(wb[0])
    warr = [float(x) for x in wb[1:]]

    def _exp(v: float) -> float:
        # JVM exp saturates to +Infinity; math.exp raises instead
        try:
            return math.exp(v)
        except OverflowError:
            return float("inf")

    def part(batches):
        acc = np.zeros(dim + 1, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["vector"]],
                dtype=np.float64,
            )
            n = pdf["_n"].to_numpy(dtype=np.float64)
            y = pdf["y"].to_numpy(dtype=np.float64)
            dot = np.zeros(len(V), dtype=np.float64)
            for j in range(dim):
                dot = dot + warr[j] * V[:, j]
            z = b0 + dot / n
            e = np.array(
                [1.0 / (1.0 + _exp(-zi)) for zi in z], dtype=np.float64
            ) - y
            acc[0] += np.floor((e * n) / n * 1e6 + 0.5).astype(np.int64).sum()
            for j in range(dim):
                acc[j + 1] += (
                    np.floor((e * V[:, j]) / n * 1e6 + 0.5).astype(np.int64).sum()
                )
        yield pd.DataFrame({"slot": np.arange(dim + 1, dtype=np.int32), "s6": acc})

    return part


def logreg_scores(
    df: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_partitions: int | None = None,
) -> DataFrame:
    """Score docs with a trained model -> (id_col, p6, keep): p6 =
    round6(sigmoid(z)) (microunit long), keep = raw p >= threshold.
    Fully native — the model ships as plan literals (dim is small by
    construction; for dim beyond a few hundred, broadcast-join the
    weights instead). Blank docs emit no row (hashed_tf contract)."""
    from ocr_compare_spark.operators.embedding import hashed_tf

    feats = hashed_tf(
        df, id_col, text_col, dim=model["dim"], signed=False,
        num_partitions=num_partitions,
    )
    z = _logreg_z("vector", model["wb"])
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        F.col(id_col),
        F.floor(p * 1e6 + F.lit(0.5)).cast("long").alias("p6"),
        (p >= F.lit(float(threshold))).alias("keep"),
    )


def train_logreg_py(
    pos_texts: list[str],
    neg_texts: list[str],
    dim: int = 64,
    iters: int = 30,
    lr: float = 2.0,
) -> dict:
    """Pure-python mirror of train_logreg — same feature hash
    (py_hashed_tf unsigned), same index-order dot fold, same
    divide-after-fold z, same per-doc round6-to-int64 gradient slots
    (bias slot 0 with v = n), same shared _logreg_update. Pytest pins
    wb == Spark's bit-for-bit."""
    from ocr_compare_spark.operators.embedding import py_hashed_tf

    docs = []
    for y, texts in ((1.0, pos_texts), (0.0, neg_texts)):
        for t in texts:
            v = py_hashed_tf(t, dim, signed=False)
            if v is not None:
                docs.append((y, v))
    if not docs:
        raise ValueError("train_logreg_py: no non-empty documents")
    wb = [0.0] * (dim + 1)
    for _ in range(iters):
        sums = [0] * (dim + 1)
        for y, v in docs:
            n = 0.0
            for x in v:
                n = n + x
            dot = 0.0
            for w, x in zip(wb[1:], v):
                dot = dot + w * x
            z = wb[0] + dot / n
            e = 1.0 / (1.0 + math.exp(-z)) - y
            for slot, x in enumerate([n] + v):
                sums[slot] += int(math.floor(e * x / n * 1e6 + 0.5))
        wb = _logreg_update(wb, sums, len(docs), lr)
    return {"wb": wb, "dim": dim}
