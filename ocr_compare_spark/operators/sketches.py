"""Bounded-size sketches for 100-TB-scale analytics: HyperLogLog
distinct counting, Count-Min frequency estimation / heavy hitters,
and DDSketch relative-error quantiles.

Why these exist in a webtext engine: at crawl scale the questions
"how many distinct urls/tokens per host/shard?" and "which keys are
frequent?" cannot afford a full-key-space shuffle — an exact
count(distinct) or groupBy over 100 TB of tokens shuffles the entire
key stream, while a sketch shuffles O(sketch_size) per group (the
registers / counters are the only thing that crosses the wire, and
partial sketches merge associatively, i.e. map-side combine works).
Spark's own approx_count_distinct is the same idea; this module
re-derives it from first principles so the arithmetic is
deterministic and ANSI-SQL-twinnable (the gate requirement the
built-in can't meet — its HLL++ bias tables aren't reproducible in
DuckDB).

Determinism contract (the bloom.py / lm.py playbook):

- **hashing**: md5 hex slices, int64-exact everywhere. HLL: register
  index = first-8-hex % m, rho = leading-zeros-of-32-bit(next 8 hex)
  + 1 computed via BINARY-STRING LENGTH (``bin()`` / DuckDB
  ``format('{:b}', ...)``) — integer string ops, no float log2 at
  bit boundaries. CMS: Kirsch-Mitzenmacher double hashing, row i
  position = (h1 + i*h2) mod width (same scheme as bloom.py).
- **HLL estimate**: every 2^-M[j] term is an exact dyadic double
  (1.0 / (1 << M[j]), never pow()), summed in REGISTER-INDEX ORDER
  on both engines (Spark aggregate() fold over the idx-sorted array
  == DuckDB list_sum over an idx-ordered list — the confidences-
  oracle precedent), zero registers folded in as an exact integer
  tail. alpha_m * m^2 ships as ONE precomputed literal so there is
  no cross-engine association ambiguity; the small-range correction
  m*ln(m/V) uses the shared ln contract (lm.py/recrawl.py); the
  final estimate is floor-round6'd to int64.
- **CMS**: pure int64 end to end — bit-exact by construction.

Reference analog: the reference has no sketches (its corpora fit one
node); SURVEY §2.4's aggregation family is the seam. Algorithms are
the published ones: Flajolet/Fusy/Gandouet/Meunier 2007 (HyperLogLog)
and Cormode/Muthukrishnan 2005 (Count-Min).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ocr_compare_spark.operators.bloom import _h1h2

# ------------------------------------------------------------- HLL


def hll_alpha_m2(p: int) -> float:
    """alpha_m * m^2 as one literal (FFGM07 §4; the standard small-m
    constants). Computed once in Python so Spark and the SQL twin
    share the exact double."""
    m = 1 << p
    if m == 16:
        alpha = 0.673
    elif m == 32:
        alpha = 0.697
    elif m == 64:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m


def _h32(key: Column, skip: int) -> Column:
    """int64 in [0, 2^32) from md5 hex digits [skip+1, skip+8]."""
    return F.conv(F.substring(F.md5(key.cast("string")), skip + 1, 8), 16, 10).cast(
        "long"
    )


def hll_register_cols(key: str | Column, p: int) -> tuple[Column, Column]:
    """(idx, rho) columns for one key. idx = low p bits of the first
    32 hash bits; rho = 33 - bit_length(w) over the next 32 bits
    (w == 0 -> 33, the all-zero tail)."""
    c = F.col(key) if isinstance(key, str) else key
    idx = _h32(c, 0) % (1 << p)
    w = _h32(c, 8)
    rho = F.when(w == 0, F.lit(33)).otherwise(F.lit(33) - F.length(F.bin(w)))
    return idx, rho


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    p: int = 12,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group register table (group_cols..., idx, m_j): ONE
    groupBy with map-side-combined max — the only shuffle, and it
    moves at most m slim rows per group regardless of input size.

    ``num_partitions`` spreads the input BEFORE the md5 pass — the
    byte-light compute-heavy stage serializes on the source's parquet
    splits otherwise (the dsir/decontam/simhash repartition trap;
    measured 5x on a 1-split source)."""
    if num_partitions:
        df = df.repartition(num_partitions)
    # NULL keys are IGNORED (approx_count_distinct semantics). Without
    # this, md5(NULL) row-poisons the whole group: the NULL _term
    # turns the aggregate() fold's acc+term into NULL, so est6 for
    # every group containing one null key silently becomes NULL.
    df = df.filter(F.col(key_col).isNotNull())
    idx, rho = hll_register_cols(key_col, p)
    staged = df.select(*group_cols, idx.alias("idx"), rho.alias("rho"))
    return staged.groupBy(*group_cols, "idx").agg(F.max("rho").alias("m_j"))


def hll_merge(*register_tables: DataFrame) -> DataFrame:
    """Sketch of a union = per-register max over the sketches — the
    associativity that makes HLL shard-parallel (build per crawl
    batch, merge at read time; no rescan)."""
    out = register_tables[0]
    for t in register_tables[1:]:
        out = out.unionByName(t)
    keys = [c for c in out.columns if c != "m_j"]
    return out.groupBy(*keys).agg(F.max("m_j").alias("m_j"))


def hll_estimate(
    registers: DataFrame, group_cols: Sequence[str] = (), p: int = 12
) -> DataFrame:
    """Registers -> (group_cols..., n_present, v_zero, est6).
    est6 = floor(estimate * 1e6 + 0.5): raw = alpha_m2 / S with
    S = sum_{idx asc} 2^-m_j + v_zero (exact dyadic terms, shared
    fold order), small-range correction m * ln(m / v_zero) when
    raw <= 2.5m and v_zero > 0 (FFGM07 Fig. 3)."""
    m = 1 << p
    a_m2 = hll_alpha_m2(p)
    # 2^-m_j as an exact dyadic double BEFORE the collect: rho
    # reaches 33, so the shifted 1 MUST be a long (an int literal
    # wraps at 1<<31 and the term silently corrupts); the python
    # shiftleft() API only takes literal shift counts, hence expr()
    terms = registers.withColumn(
        "_term",
        F.expr("1.0 / cast(shiftleft(cast(1 as bigint), m_j) as double)"),
    )
    agg = terms.groupBy(*group_cols).agg(
        F.count("*").alias("n_present"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("idx", "_term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_term"],
        ).alias("_sum_terms"),
    )
    v = (F.lit(m) - F.col("n_present")).alias("v_zero")
    s = F.col("_sum_terms") + (F.lit(m) - F.col("n_present")).cast("double")
    raw = F.lit(a_m2) / s
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("n_present") < m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - F.col("n_present")).cast("double")),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        "n_present",
        v,
        F.floor(est * 1e6 + F.lit(0.5)).cast("long").alias("est6"),
    )


def hll_count_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    p: int = 12,
    num_partitions: int | None = None,
) -> DataFrame:
    """End-to-end distinct-count estimate per group."""
    return hll_estimate(
        hll_registers(df, key_col, group_cols, p, num_partitions), group_cols, p
    )


def hll_overlap(
    reg_a: DataFrame,
    reg_b: DataFrame,
    group_cols: Sequence[str] = (),
    p: int = 12,
) -> DataFrame:
    """Set-overlap estimation from two HLL sketches ALONE — the
    corpus-overlap question ("how much of crawl B is already in
    crawl A?", "how many distinct shingles do these corpora share?")
    answered without re-reading a single key: by inclusion-exclusion
    |A∩B| ≈ |A| + |B| − |A∪B|, where |A∪B| comes free from
    hll_merge's register max (the sketch of the union IS the merged
    sketch — the HLL property that makes this sound).

    Per group, returns (group_cols..., a_est6, b_est6, union_est6,
    inter6, jacc6, contain_a6, contain_b6):

    - inter6 = greatest(a_est6 + b_est6 − union_est6, 0) — int64
      arithmetic on the already-round6'd estimates, clamped (the
      estimator can go slightly negative on near-disjoint sets).
    - jacc6 = floor(inter6/union_est6 · 1e6 + 0.5) (NULL when the
      union estimate is 0), contain_a6/contain_b6 likewise over the
      side estimates ("what fraction of A is shared").

    A group absent from one side is an empty set on that side
    (estimate 0 → intersection 0). Error: each est6 carries HLL's
    ~1.04/sqrt(m) relative error and the subtraction COMPOUNDS them —
    the intersection estimate is only meaningful when |A∩B| is not
    tiny relative to the set sizes (the standard HLL
    inclusion-exclusion caveat; for tiny overlaps use the exact
    decontaminate/cross-batch joins instead).

    Scale: three bounded estimates + one join keyed by group — no
    key stream is ever touched."""
    gc = list(group_cols)
    # each register table feeds TWO consumers (its own estimate and
    # the merge) — cut the lineage so the upstream register build
    # (md5 pass over the full key stream) runs once, not twice; the
    # tables are slim by construction (<= 2^p rows per group)
    reg_a = reg_a.localCheckpoint()
    reg_b = reg_b.localCheckpoint()
    # JOIN-FREE pivot: tag each side's estimate rows, union, and fold
    # with one map-side-combined groupBy (max-of-singleton per tag) —
    # an outer join here would be a nested-loop on the global (no
    # group) path once Catalyst folds a literal join key, and absent
    # groups fall out of the union for free
    tag = lambda d, t: hll_estimate(d, gc, p).select(
        *gc, F.lit(t).alias("_t"), "est6"
    )
    u = (
        tag(reg_a, "a")
        .unionByName(tag(reg_b, "b"))
        .unionByName(tag(hll_merge(reg_a, reg_b), "u"))
    )
    pick = lambda t: F.max(F.when(F.col("_t") == t, F.col("est6")))
    j = u.groupBy(*gc).agg(
        pick("a").alias("a_est6"),
        pick("b").alias("b_est6"),
        pick("u").alias("union_est6"),
    )
    a6 = F.coalesce(F.col("a_est6"), F.lit(0).cast("long"))
    b6 = F.coalesce(F.col("b_est6"), F.lit(0).cast("long"))
    u6 = F.coalesce(F.col("union_est6"), F.lit(0).cast("long"))
    inter6 = F.greatest(a6 + b6 - u6, F.lit(0).cast("long"))

    def ratio6(num: Column, den: Column) -> Column:
        return F.when(
            den > 0,
            F.floor(num.cast("double") / den.cast("double") * 1e6 + F.lit(0.5)).cast(
                "long"
            ),
        )

    return j.select(
        *gc,
        a6.alias("a_est6"),
        b6.alias("b_est6"),
        u6.alias("union_est6"),
        inter6.alias("inter6"),
        ratio6(inter6, u6).alias("jacc6"),
        ratio6(inter6, a6).alias("contain_a6"),
        ratio6(inter6, b6).alias("contain_b6"),
    )


# ------------------------------------------------------- Count-Min


def cms_position_cols(key: str | Column, depth: int, width: int) -> Column:
    """array<struct<row,pos>> of the depth counter positions for a
    key — Kirsch-Mitzenmacher (h1 + i*h2) mod width, i in 0..d-1
    (bloom.py's h1, h2; both < 2^33 so every product is int64-
    exact)."""
    h1, h2 = _h1h2(key)
    return F.transform(
        F.sequence(F.lit(0), F.lit(depth - 1)),
        lambda i: F.struct(i.alias("row"), ((h1 + i * h2) % width).alias("pos")),
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Counter table (row, pos, cnt): explode the depth positions per
    input row, ONE groupBy count (map-side combine). Output is at most
    depth*width rows no matter the input size — the whole point.
    NULL keys are ignored (they would otherwise vanish via the
    NULL-position explode anyway — made explicit so the contract is
    visible)."""
    staged = df.filter(F.col(key_col).isNotNull()).select(
        F.explode(cms_position_cols(key_col, depth, width)).alias("rp")
    )
    return (
        staged.select(F.col("rp.row").alias("row"), F.col("rp.pos").alias("pos"))
        .groupBy("row", "pos")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    keys: DataFrame,
    counters: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    out_col: str = "est_cnt",
) -> DataFrame:
    """Per-key estimates (the oracle formulation): explode each
    key's depth positions, broadcast-join the (tiny, bounded)
    counter table, min over rows. Never-hit positions count as 0.
    Estimates are >= the true count (CM's one-sided error); pure
    int64, so the DuckDB twin is bit-exact by construction. NULL
    keys are omitted from the output (their md5 positions are NULL,
    which would otherwise min() to a meaningless 0)."""
    probes = keys.filter(F.col(key_col).isNotNull()).select(
        key_col, F.explode(cms_position_cols(key_col, depth, width)).alias("rp")
    ).select(key_col, F.col("rp.row").alias("row"), F.col("rp.pos").alias("pos"))
    joined = probes.join(F.broadcast(counters), ["row", "pos"], "left").select(
        key_col, F.coalesce(F.col("cnt"), F.lit(0)).alias("_c")
    )
    return joined.groupBy(key_col).agg(F.min("_c").alias(out_col))


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    threshold: int = 100,
) -> DataFrame:
    """Keys whose CM estimate >= threshold, with the estimate. The
    candidate set is the stream's distinct keys (batch setting —
    no heap needed); the REPORTED count comes from the sketch.
    One-sided: no true heavy hitter is missed (est >= true);
    collision overestimates can admit extras, bounded by the
    depth/width sizing."""
    counters = cms_build(df, key_col, depth, width)
    cand = df.select(key_col).distinct()
    est = cms_estimate(cand, counters, key_col, depth, width)
    return est.filter(F.col("est_cnt") >= threshold)


# -------------------------------------------------------- DDSketch


#: Sentinel bucket for the zero store (values <= 0). Any real bucket
#: index is ceil(ln(x)/ln(gamma)) which for representable doubles is
#: > -2^40, so the sentinel sorts strictly first and the quantile
#: walk naturally places zero mass before all positive buckets.
DD_ZERO_BKT = -(1 << 40)


def dd_gamma(alpha: float) -> float:
    """gamma = (1+alpha)/(1-alpha) — the DDSketch bucket base (Masson/
    Lee/Rigollet, VLDB 2019 §2.1). Computed once in Python so Spark
    and the SQL twin share the exact double."""
    return (1.0 + alpha) / (1.0 - alpha)


def dd_ln_gamma(alpha: float) -> float:
    """ln(gamma) as ONE shared literal (the alpha_m2 convention):
    bucket index = ceil(ln(x) / ln_gamma) with both transcendentals
    on the shared ln-parity contract (lm.py/dsir/recrawl precedent)."""
    return math.log(dd_gamma(alpha))


def dd_bucket_col(value: str | Column, alpha: float) -> Column:
    """DDSketch bucket index for one value: ceil(round6(ln(x)/
    ln_gamma)) for x > 0, the zero-store sentinel otherwise. The
    division is by the precomputed ln_gamma literal (never
    ln(x)/ln(gamma) re-derived per engine), and the ratio is
    floor-round6'd BEFORE the ceil — the house transcendental
    contract (lm/dsir/recrawl): without it, a value whose ratio
    lands within 1 ulp of an integer would flip the bucket on a
    JVM-vs-libm ln disagreement and move the estimate by a whole
    gamma factor. The rounding perturbs the bucket boundary by a
    factor gamma^5e-7 ~ 1+1e-8 — absorbed by the alpha guarantee."""
    c = F.col(value) if isinstance(value, str) else value
    v = c.cast("double")
    lng = dd_ln_gamma(alpha)
    ratio6 = F.floor((F.log(v) / F.lit(lng)) * 1e6 + F.lit(0.5)) / 1e6
    return (
        F.when(v <= 0, F.lit(DD_ZERO_BKT).cast("long"))
        .otherwise(F.ceil(ratio6).cast("long"))
    )


def dd_build(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    alpha: float = 0.01,
) -> DataFrame:
    """Per-group DDSketch bucket table (group_cols..., bkt, cnt):
    ONE map-side-combined groupBy — the only shuffle, moving at most
    O(log_gamma(max/min)) slim rows per group regardless of input
    size (a few hundred buckets covers 15 orders of magnitude at
    alpha=0.01). This is the quantile member of the bounded-sketch
    family (HLL = distinct counts, CMS = frequencies, DD = quantiles):
    exact percentiles over 100 TB would sort/shuffle the full value
    stream, the sketch ships only bucket counters.

    Unlike KLL/t-digest, the bucket mapping is a pure function of the
    value — no RNG, no compaction order — so the sketch is
    PARTITION-INVARIANT and merge == build-on-union EXACTLY (the
    hll_merge property, here with no estimator error either).
    NULL values are ignored (approx-aggregate semantics)."""
    df = df.filter(F.col(value_col).isNotNull())
    b = dd_bucket_col(value_col, alpha)
    staged = df.select(*group_cols, b.alias("bkt"))
    return staged.groupBy(*group_cols, "bkt").agg(F.count("*").alias("cnt"))


def dd_quantiles(
    sketch: DataFrame,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
    alpha: float = 0.01,
) -> DataFrame:
    """Bucket table -> (group_cols..., q, n, n_buckets, est6) for each
    requested quantile. rank = max(ceil(q * n), 1) (discrete, no
    interpolation — integer ranks keep the walk float-free); the
    selected bucket is the first, in ascending bkt order, whose
    cumulative count reaches the rank (one aggregate() fold over the
    idx-sorted bucket array — the hll_estimate shape). Estimate =
    2*gamma^i/(gamma+1) computed as 2*exp(i*ln_gamma)/(gamma+1) with
    both constants shared literals; zero-store hits estimate 0.0.
    est6 is floor-round6'd (house contract). Guarantee: the estimate
    is within relative error alpha of the TRUE rank-r value
    (pytest-pinned property)."""
    lng = dd_ln_gamma(alpha)
    gp1 = dd_gamma(alpha) + 1.0
    agg = sketch.groupBy(*group_cols).agg(
        F.sum("cnt").alias("n"),
        F.count("*").alias("n_buckets"),
        F.array_sort(F.collect_list(F.struct("bkt", "cnt"))).alias("_bl"),
    )
    rows = agg.select(
        *group_cols,
        "n",
        "n_buckets",
        "_bl",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    )
    rank = F.greatest(
        F.ceil(F.col("q") * F.col("n").cast("double")).cast("long"),
        F.lit(1).cast("long"),
    )
    rows = rows.withColumn("_rank", rank)
    # fold: carry (cum, chosen bkt); choose the first bucket whose
    # running total reaches the rank. _bl is a groupBy OUTPUT
    # attribute, so the single lambda reads it without re-inlining
    # any upstream expression (the CLAUDE.md array-lambda rule).
    chosen = F.aggregate(
        F.col("_bl"),
        F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(None).cast("long").alias("bkt"),
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x["cnt"]).alias("cum"),
            F.when(
                acc["bkt"].isNull() & (acc["cum"] + x["cnt"] >= F.col("_rank")),
                x["bkt"],
            )
            .otherwise(acc["bkt"])
            .alias("bkt"),
        ),
        lambda acc: acc["bkt"],
    )
    rows = rows.withColumn("_bkt", chosen)
    est = F.when(F.col("_bkt") == DD_ZERO_BKT, F.lit(0.0)).otherwise(
        F.lit(2.0)
        * F.exp(F.col("_bkt").cast("double") * F.lit(lng))
        / F.lit(gp1)
    )
    return rows.select(
        *group_cols,
        "q",
        "n",
        "n_buckets",
        F.floor(est * 1e6 + F.lit(0.5)).cast("long").alias("est6"),
    )
