"""Deterministic corpus sampling for training-data mixtures.

Two building blocks of mix construction (which documents, and how
many tokens of each stratum, a training run sees):

- **hash fractions**: a deterministic pseudo-uniform value per row
  key (:func:`hash_frac`) — the keep test of the temperature mix and
  the priority of a uniform budget mix. ``df.sample()`` is WRONG at scale for this: Spark's Bernoulli
  sampler draws from an RNG seeded per partition, so the kept set
  changes whenever the partition layout changes (different cluster
  size, AQE decision, upstream repartition). Hashing the row KEY into
  [0,1) and thresholding is layout-independent, rerun-stable, and
  costs zero shuffle — the property audits and resume logic need.

- **token-budget sampling**: per stratum, walk documents in a
  deterministic priority order and keep the longest prefix whose
  cumulative token count fits a budget ("2B tokens per language",
  the Dolma/RedPajama-style mix spec). The reference implementation
  is a per-stratum window cumsum (one shuffle, but parallelism =
  #strata — a handful of languages means a handful of busy tasks at
  100 TB). The scale path (`token_budget_sample_bucketed`) is a
  distributed prefix sum: rows bucket by priority, per-bucket token
  totals (a tiny aggregate) let the driver place the budget boundary
  and give every bucket its exact running-total offset, so the
  window only ever runs WITHIN a (stratum, bucket) partition —
  parallelism = #strata x #buckets and whole buckets past the
  boundary are filtered before the shuffle. Both produce identical
  rows INCLUDING the cumulative column (pytest-pinned).

Everything here is Catalyst-native expression work; the only driver
action in the bucketed path is collecting #strata x #buckets partial
sums (bounded, guarded).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window, functions as F

from ocr_compare_spark.operators.adaptive import collect_bounded

# 2^32 as an exact double: the 8-hex-digit md5 prefix is uniform on
# [0, 2^32), so frac = prefix / 2^32 is uniform on [0,1) and every
# intermediate is exact in binary64 (no rounding divergence between
# Spark and an oracle reimplementation).
_TWO_32 = 4294967296.0

MAX_BUDGET_BUCKET_ROWS = 65536  # driver guard: strata x buckets cap


def hash_frac(key: str | Column) -> Column:
    """Deterministic uniform-[0,1) value from a row key: first 8 hex
    digits of md5(key as string) / 2^32. Stable across runs, cluster
    sizes and partition layouts (pure function of the key)."""
    c = F.col(key) if isinstance(key, str) else key
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(_TWO_32)


def _order_cols(priority_col: str, id_col: str) -> list[Column]:
    # Total order: priority ascending, row id as the deterministic
    # tie-break. Ascending = "best first" when the caller encodes
    # priority that way (hash_frac for a uniform mix, 1-quality for a
    # quality-first mix).
    return [F.col(priority_col).asc(), F.col(id_col).asc()]


def _budget_expr(budget: int | Mapping, strata_col: str) -> Column:
    """Budget as a Column: a single int applies to every stratum; a
    mapping gives each stratum its own budget as a literal when-chain
    (strata ABSENT from the mapping get NULL — `cum <= NULL` is never
    true, so their rows drop, the documented contract). Matches are
    null-safe: a NULL stratum is a legal window partition, so
    ``{None: b}`` budgets it like any other key (`==` would silently
    drop it and diverge from the bucketed path's dict lookup)."""
    if isinstance(budget, Mapping):
        expr = F.lit(None).cast("long")
        for s, v in sorted(budget.items(), key=lambda kv: str(kv[0])):
            expr = F.when(
                F.col(strata_col).eqNullSafe(F.lit(s)), F.lit(int(v))
            ).otherwise(expr)
        return expr
    return F.lit(int(budget))


def token_budget_sample(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    budget: int | Mapping,
    priority_col: str,
    id_col: str,
    cum_col: str = "cum_tokens",
) -> DataFrame:
    """Reference (exact, simple) token-budget mix: per stratum, keep
    the maximal prefix in (priority, id) order whose running token
    sum stays <= budget. One window shuffle partitioned by stratum;
    cumulative sums are monotone so ``cum <= budget`` IS the prefix.
    Parallelism is #strata — fine for a gate corpus, the bottleneck
    at web scale (use token_budget_sample_bucketed there). ``budget``
    may be a per-stratum mapping (see :func:`_budget_expr`); strata
    not in the mapping are dropped."""
    w = Window.partitionBy(strata_col).orderBy(*_order_cols(priority_col, id_col))
    cum = F.sum(F.col(token_col)).over(w)
    return df.withColumn(cum_col, cum.cast("long")).filter(
        F.col(cum_col) <= _budget_expr(budget, strata_col)
    )


def token_budget_sample_bucketed(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    budget: int | Mapping,
    priority_col: str,
    id_col: str,
    cum_col: str = "cum_tokens",
    n_buckets: int = 1024,
    checkpoint: bool = True,
) -> DataFrame:
    """Scale-path token-budget mix — a distributed prefix sum.

    Requires ``priority_col`` in [0,1) (hash_frac satisfies this; so
    does any normalized score). Rows bucket by ``floor(priority *
    n_buckets)``; bucketing is monotone in priority, so the global
    (priority, id) order equals (bucket, priority, id) order and a
    per-bucket running-total OFFSET (computed on the driver from the
    per-(stratum, bucket) token sums — #strata x #buckets rows,
    guarded) turns a window WITHIN each (stratum, bucket) into the
    exact global cumulative sum:

    - buckets whose offset already exceeds the budget are filtered
      out BEFORE the window shuffle (at a 1% sampling rate that is
      ~99% of the data never shuffled);
    - every surviving bucket is its own window partition, so
      parallelism is #strata x #buckets instead of #strata.

    Output rows and ``cum_col`` values are identical to
    token_budget_sample (pytest-pinned).

    ``checkpoint`` (default True) localCheckpoints the keyed input:
    the operator evaluates it TWICE — once for the driver bucket-sum
    collect and once for the survivors join — and on a compute-heavy
    upstream (a post-LSH DAG) the second evaluation re-runs
    the whole pipeline (ADVICE r4). Pass False only when the input is
    already a cheap scan or a persisted boundary."""
    bkt = F.least(
        F.floor(F.col(priority_col) * n_buckets).cast("int"), F.lit(n_buckets - 1)
    )
    keyed = df.withColumn("_bkt", bkt)
    if checkpoint:
        keyed = keyed.localCheckpoint()

    sums = collect_bounded(
        keyed.groupBy(strata_col, "_bkt").agg(F.sum(F.col(token_col)).alias("_t")),
        MAX_BUDGET_BUCKET_ROWS,
        f"token_budget_sample_bucketed: > {MAX_BUDGET_BUCKET_ROWS} "
        "(stratum, bucket) groups; lower n_buckets",
    )

    # Driver-side prefix over the (tiny) bucket totals: offset of a
    # bucket = sum of all earlier buckets' tokens in its stratum.
    # Buckets starting past the budget cannot contribute rows (cum is
    # monotone and already > budget at their first row) — drop them
    # from the offset map and anti-filter them below. With a mapping
    # budget, strata absent from it are dropped wholesale (same
    # contract as the exact variant).
    by_stratum: dict[object, list[tuple[int, int]]] = {}
    for row in sums:
        by_stratum.setdefault(row[strata_col], []).append((row["_bkt"], row["_t"] or 0))
    offsets: list[tuple[object, int, int, int]] = []
    for stratum, buckets in by_stratum.items():
        if isinstance(budget, Mapping):
            if stratum not in budget:
                continue
            bud = int(budget[stratum])
        else:
            bud = int(budget)
        running = 0
        for b, t in sorted(buckets):
            if running <= bud:
                offsets.append((stratum, b, running, bud))
            running += t

    if not offsets:
        empty = keyed.filter(F.lit(False))
        return empty.withColumn(cum_col, F.lit(None).cast("long")).drop("_bkt")

    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(
            offsets, f"_s {dict(df.dtypes)[strata_col]}, _obkt int, _off long, _bud long"
        )
    )
    # null-safe stratum match: a NULL stratum is a legal window
    # partition in the exact variant, so the bucketed one must keep
    # it too (a plain inner-join key would silently drop those rows)
    survivors = keyed.join(
        off_df,
        F.col(strata_col).eqNullSafe(F.col("_s")) & (F.col("_bkt") == F.col("_obkt")),
    ).drop("_s", "_obkt")  # inner: drops dead buckets

    w = Window.partitionBy(strata_col, "_bkt").orderBy(
        *_order_cols(priority_col, id_col)
    )
    cum = (F.col("_off") + F.sum(F.col(token_col)).over(w)).cast("long")
    return (
        survivors.withColumn(cum_col, cum)
        .filter(F.col(cum_col) <= F.col("_bud"))
        .drop("_bkt", "_off", "_bud")
    )


#: An "unbounded" token budget: larger than any real corpus's token
#: count but far from long overflow when offsets accumulate.
_NO_BUDGET = 1 << 60


def pack_sequences(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    seq_len: int,
    priority_col: str,
    id_col: str,
    seq_col: str = "seq_no",
    cum_col: str = "cum_tokens",
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing — the step that
    turns a document mix into fixed-length training sequences.

    Conceptually each stratum's documents are concatenated in
    (priority, id) order into one token stream which is cut every
    ``seq_len`` tokens; a document whose span straddles a cut
    contributes one SEGMENT per sequence it touches. Output: one row
    per (document, sequence) segment with

    - ``seq_col``   — 0-based sequence index within the stratum,
    - ``seq_start`` — the segment's starting offset INSIDE the
      sequence (0 for continuation segments),
    - ``tok_start``/``tok_end`` — the [start, end) token slice of the
      DOCUMENT feeding that sequence (a training loader slices the
      doc's token array with exactly these; consecutive segments of
      one sequence tile [0, seq_len) with no gaps — the attention
      reset mask is "seq_start == 0 marks a continuation, else a new
      document starts here"),
    - ``cum_col``   — the document's global cumulative token count
      (the budget samplers' prefix sum).

    Zero-token documents occupy no stream positions and are dropped.

    Scale shape: ONE prefix-sum shuffle (the distributed cumsum of
    token_budget_sample_bucketed — window parallelism #strata x
    #buckets) followed by a narrow
    native explode(sequence(first_seq, last_seq)): a document with T
    tokens emits at most floor(T/seq_len) + 1 rows, so output size is
    O(total tokens / seq_len + rows) independent of cluster size.
    Like the shard assigner, packing is a pure function of (stratum,
    priority, id, tokens): reruns, cluster sizes and partition
    layouts yield byte-identical sequence membership — what lets a
    resumable 100-TB packing job re-emit any sequence range after a
    failure."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    base = token_budget_sample_bucketed(
        df, strata_col, token_col, _NO_BUDGET, priority_col, id_col, cum_col=cum_col
    )
    L = F.lit(int(seq_len)).cast("long")
    end = F.col(cum_col)
    start = end - F.col(token_col)
    seqs = F.sequence(
        F.floor(start / L).cast("long"), F.floor((end - F.lit(1)) / L).cast("long")
    )
    out = base.filter(F.col(token_col) > 0).withColumn(seq_col, F.explode(seqs))
    seq_base = F.col(seq_col) * L  # global stream offset of the sequence start
    seg_start = F.greatest(start, seq_base)
    seg_end = F.least(end, seq_base + L)
    return (
        out.withColumn("seq_start", (seg_start - seq_base).cast("long"))
        .withColumn("tok_start", (seg_start - start).cast("long"))
        .withColumn("tok_end", (seg_end - start).cast("long"))
    )


MAX_MIX_STRATA = 4096  # driver guard for the temperature-mix rate collect


def _stratum_sums(df: DataFrame, strata_col: str, col: str, op: str) -> dict:
    """``{stratum: sum(col)}`` over non-NULL strata, under the MAX_MIX_STRATA guard."""
    rows = collect_bounded(
        df.groupBy(strata_col).agg(F.sum(F.col(col)).alias("_n")),
        MAX_MIX_STRATA,
        f"{op}: > {MAX_MIX_STRATA} strata; pre-bucket the strata column",
    )
    return {r[strata_col]: r["_n"] for r in rows if r[strata_col] is not None}


def temperature_rates(
    weights: dict[object, float], alpha: float
) -> dict[object, float]:
    """Per-stratum keep RATES for temperature-balanced sampling
    (mC4 / XLM-R style): a stratum with weight (token count) n gets
    sampled with probability proportional to n^alpha, i.e. each ROW
    of that stratum keeps with rate proportional to n^(alpha-1),
    scaled so the largest rate is 1.0 (the rarest stratum is never
    downsampled — only the heads are). alpha=1 reproduces the natural
    distribution (every rate 1.0); alpha->0 flattens toward uniform
    across strata.

    Rates are rounded to 6 decimals with the repo's floor(x*1e6+0.5)
    convention so an oracle recomputation (same libm pow) is
    bit-identical. Strata with non-positive weight are omitted."""
    import math

    raw = {s: float(n) ** (alpha - 1.0) for s, n in weights.items() if n and n > 0}
    if not raw:
        return {}
    top = max(raw.values())
    return {s: math.floor(r / top * 1e6 + 0.5) / 1e6 for s, r in raw.items()}


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    weight_col: str,
    key_col: str,
    alpha: float,
    rate_col: str | None = None,
) -> DataFrame:
    """Temperature-balanced corpus mixing (the mC4/XLM-R language-
    balancing step): downsample head strata so stratum l contributes
    tokens proportional to n_l^alpha instead of n_l. Two parts:

    - a tiny per-stratum weight aggregate (one map-side-combined
      shuffle of #strata rows, driver collect guarded at
      MAX_MIX_STRATA) turns into a per-stratum keep rate via
      :func:`temperature_rates`;
    - the data path is a zero-shuffle deterministic filter —
      ``hash_frac(key) < rate[stratum]`` as a literal when-chain, so
      the kept set is layout- and cluster-size-invariant (a
      rerun or a resume keeps exactly the same rows).

    Rows whose stratum is NULL or had non-positive total weight are
    dropped (they have no defined rate). ``rate_col`` optionally
    attaches the applied rate.

    The operator evaluates its lineage twice (weight collect +
    filter): persist a compute-heavy upstream first."""
    rates = temperature_rates(_stratum_sums(df, strata_col, weight_col, "temperature_mix"), alpha)
    thr: Column = F.lit(0.0)
    for s, r in sorted(rates.items(), key=lambda kv: str(kv[0])):
        thr = F.when(F.col(strata_col) == s, F.lit(r)).otherwise(thr)
    out = df.filter(hash_frac(key_col) < thr)
    if rate_col:
        out = out.withColumn(rate_col, thr)
    return out


def unimax_budgets(
    weights: Mapping, total_budget: int, max_epochs: float = 1.0
) -> dict[object, int]:
    """UniMax (Chung et al. 2023) water-filling allocation: split a
    TOTAL token budget across strata as uniformly as possible,
    capping every stratum at ``max_epochs`` passes over its own
    tokens (capacity = floor(n * max_epochs)).

    Strata sorted by (capacity asc, str(stratum) asc); each takes
    ``min(capacity, remaining // strata_left)`` — whatever a capped
    stratum cannot absorb is re-split among the rest, so low-resource
    strata are never over-epoched and high-resource strata soak up
    the slack. Pure int arithmetic: deterministic and shareable with
    an oracle generator (the lloyd_kmeans convention). Non-positive
    weights are omitted."""
    caps = {s: int(n * max_epochs) for s, n in weights.items() if n and n > 0}
    remaining = int(total_budget)
    left = len(caps)
    out: dict[object, int] = {}
    for s, cap in sorted(caps.items(), key=lambda kv: (kv[1], str(kv[0]))):
        alloc = min(cap, remaining // left) if left else 0
        out[s] = alloc
        remaining -= alloc
        left -= 1
    return out


def unimax_sample(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    id_col: str,
    total_budget: int,
    max_epochs: float = 1.0,
    cum_col: str = "cum_tokens",
    *,
    budget_col: str,
) -> DataFrame:
    """UniMax corpus mix: per-stratum budgets from
    :func:`unimax_budgets` (one tiny guarded weight aggregate),
    applied as a deterministic token-budget prefix per stratum in
    hash_frac(id) order — a layout-invariant uniform mix within each
    stratum. ``budget_col`` attaches the applied budget.
    Rows with NULL strata have no capacity and drop.

    The input is localCheckpointed ONCE up front (the weight collect
    + the sampler would otherwise each re-evaluate a compute-heavy
    upstream — the ADVICE-r4 trap); the nested bucketed sampler then
    reuses that boundary."""
    df = df.localCheckpoint().withColumn("_prio", hash_frac(id_col))
    budgets = unimax_budgets(
        _stratum_sums(df, strata_col, token_col, "unimax_sample"), total_budget, max_epochs
    )
    out = token_budget_sample_bucketed(
        df, strata_col, token_col, budgets, "_prio", id_col,
        cum_col=cum_col, checkpoint=False,
    )
    return out.withColumn(budget_col, _budget_expr(budgets, strata_col)).drop("_prio")


# ------------------------------------------------- train/val/test


def split_bounds(weights: Mapping[str, float]) -> list[tuple[str, float]]:
    """Cumulative upper bounds for assign_split, in the caller's
    mapping order (computed once in Python so Spark and any SQL twin
    share the exact double partial sums). Weights must sum to ~1;
    the LAST split's bound is forced to exactly 1.0 so the assignment
    is exhaustive regardless of float dust in the partial sums."""
    if not weights:
        raise ValueError("assign_split: weights must be non-empty")
    total = float(sum(weights.values()))
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"assign_split: weights sum to {total!r}, expected 1.0")
    if any(w < 0 for w in weights.values()):
        raise ValueError("assign_split: negative weight")
    bounds: list[tuple[str, float]] = []
    cum = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += float(w)
        bounds.append((name, cum))
    bounds.append((items[-1][0], 1.0))
    return bounds


#: Domain-separation prefix for the split hash: every OTHER sampler
#: in this module draws its uniform from hash_frac(key) directly, so
#: an eval split drawn from the same stream would be perfectly
#: correlated with sampling survival (e.g. hash_frac(key) < 0.1
#: upstream leaves only u < 0.1 rows — all 'train', val/test EMPTY).
#: Prefixing the key gives the split its own independent draw.
SPLIT_HASH_DOMAIN = "split:"


def split_frac(key: str | Column) -> Column:
    """The split assignment's uniform draw — hash_frac over the
    domain-prefixed key (see SPLIT_HASH_DOMAIN)."""
    c = F.col(key) if isinstance(key, str) else key
    return hash_frac(F.concat(F.lit(SPLIT_HASH_DOMAIN), c.cast("string")))


def assign_split(
    df: DataFrame,
    key_col: str | Column,
    weights: Mapping[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: u = split_frac(key)
    (hash_frac over the 'split:'-prefixed key — an INDEPENDENT draw
    from the one temperature_mix/token-budget priority
    use, so composing a split after any of those samplers cannot
    correlate; an unprefixed draw would leave val/test empty after
    a hash_frac filter below the train weight), split = the first bucket
    whose cumulative bound exceeds u. Pure function of the key —
    zero shuffle, rerun-stable, layout- and cluster-size-independent
    (the df.sample() objections in the module docstring apply doubly
    to eval splits: a val set that changes when the partition layout
    does silently contaminates every checkpoint comparison).

    Leakage safety is a KEYING decision: hashing the document id
    splits near-duplicates independently, so a train doc can be a
    99%-dup of a test doc. Key on the duplicate-cluster
    representative instead (``dedup.connected_components`` label or
    ``latest_snapshot``'s url) and every member of a cluster lands in
    the same split — pytest pins that composition. The same argument
    applies to any grouping that must not straddle splits (host,
    source document of chunked windows)."""
    bounds = split_bounds(weights)
    u = split_frac(key_col)
    expr: Column = F.lit(bounds[-1][0])
    # when-chain from the last bound down so earlier (smaller) bounds
    # take precedence: first bound whose upper exceeds u wins
    for name, upper in reversed(bounds[:-1]):
        expr = F.when(u < F.lit(upper), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


#: Domain-separation prefix for the bottom-k draw — same argument as
#: SPLIT_HASH_DOMAIN: an unprefixed draw shares the hash_frac /
#: temperature_mix survival stream, so "the k smallest hashes per
#: stratum" after a hash_frac filter would be EXACTLY the sample's own
#: survivor prefix (perfectly correlated) instead of an independent
#: subsample.
BOTTOMK_HASH_DOMAIN = "bottomk:"


def bottomk_frac(key: str | Column) -> Column:
    """The bottom-k sampler's uniform draw — hash_frac over the
    'bottomk:'-prefixed key (see BOTTOMK_HASH_DOMAIN)."""
    c = F.col(key) if isinstance(key, str) else key
    return hash_frac(F.concat(F.lit(BOTTOMK_HASH_DOMAIN), c.cast("string")))


def _bottom_k(df, slim, strata_col, key_col, order_col, k, rank_col, carry):
    """The rows of ``df`` whose key is among the k smallest
    (order_col, key) of ``slim`` — one row per (stratum, key) — in its
    stratum, with ``rank_col`` (1-based) and ``slim``'s ``carry``
    columns. The window sees only the slim projection (full rows never
    shuffle); winners join back null-safely on (key, stratum), so a
    NULL stratum's winners reach their rows and a key repeated across
    strata admits only its own stratum's rows."""
    w = Window.partitionBy(strata_col).orderBy(F.col(order_col).asc(), F.col(key_col).asc())
    winners = (
        slim.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .select(
            F.col(strata_col).alias("_bk_stratum"),
            F.col(key_col).alias("_bk_key"),
            *carry,
            rank_col,
        )
    )
    cond = df[key_col].eqNullSafe(winners["_bk_key"]) & df[strata_col].eqNullSafe(
        winners["_bk_stratum"]
    )
    return df.join(winners, cond, "inner").drop("_bk_key", "_bk_stratum")


def bottomk_sample(
    df: DataFrame,
    key_col: str,
    k: int,
    *,
    strata_col: str,
    frac_col: str = "frac",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """EXACT-size deterministic uniform sample: keep the rows whose
    KEY is among the k smallest (bottomk_frac(key), key) draws per
    stratum. This is bottom-k / order sketching (Cohen & Kaplan
    2007): because the prefixed md5
    draw is uniform, the k smallest hashes are a uniform simple
    random sample WITHOUT replacement of exactly min(k, n) of the
    stratum's DISTINCT keys — the fixed-size counterpart to a
    fixed-RATE hash_frac filter, with the same run/
    layout/cluster-size determinism (df.sample and RDD-takeSample
    give neither exact size + determinism together). Like a
    hash_frac filter, selection is key-level: if a key value repeats
    within its stratum, ALL its rows ride the one selected slot
    (keys are normally unique ids, where rows == keys). Rows with a
    NULL key take no draw and never sample (the HLL NULL-key rule);
    a NULL STRATUM is a regular stratum of its own (null-safe join).

    Output adds ``frac_col`` (the draw, floor-round6'd so a SQL twin
    reproduces it) and ``rank_col`` (1-based position in the
    (frac, key) order — the sample is itself ORDERED, so a caller
    can take the bottom-j of a materialized bottom-k without
    resampling: the bottom-j IS its prefix, the classic bottom-k
    sketch property; k can be grown later only by rerunning).

    Scale shape: the ranking window sees a SLIM distinct
    (stratum, key, frac) projection — full rows never shuffle
    (CLAUDE.md window rule); the winners join back null-safely. At
    100 TB, pre-filter with ``bottomk_frac(key) < safety * k / n``
    (the SAME prefixed draw — NOT hash_frac, whose unprefixed
    stream is independent by design and would discard true bottom-k
    members) to cut the window's input: the bottom-k of that prefix
    equals the stratum's true bottom-k whenever the prefix keeps
    >= k keys."""
    if k <= 0:
        raise ValueError(f"bottomk_sample: k must be positive, got {k!r}")
    frac6 = F.floor(bottomk_frac(key_col) * 1e6 + F.lit(0.5)) / F.lit(1e6)
    # distinct: a repeated key must hold ONE slot in the rank order
    # (the join-back then fans the slot out to all its rows); NULL
    # keys are excluded — no deterministic draw exists for them
    slim = (
        df.select(strata_col, key_col)
        .filter(F.col(key_col).isNotNull())
        .distinct()
        .select(strata_col, key_col, bottomk_frac(key_col).alias("_bk_frac"))
    )
    return _bottom_k(df, slim, strata_col, key_col, "_bk_frac", k, rank_col, ()).withColumn(
        frac_col, frac6
    )


#: Domain-separation prefix for the weighted-priority draw (same
#: argument as SPLIT/BOTTOMK_HASH_DOMAIN: each independent sampler
#: needs its own hash stream).
WPRI_HASH_DOMAIN = "wpri:"


def _wpri_u(key: str | Column) -> Column:
    """The weighted sampler's uniform draw u = (md5_prefix + 0.5) / 2^32
    over the 'wpri:'-prefixed key (see wpri_priority)."""
    c = F.col(key) if isinstance(key, str) else key
    prefix = F.conv(
        F.substring(F.md5(F.concat(F.lit(WPRI_HASH_DOMAIN), c.cast("string"))), 1, 8),
        16,
        10,
    ).cast("double")
    return (prefix + F.lit(0.5)) / F.lit(_TWO_32)


def wpri_priority(key: str | Column, weight: str | Column) -> Column:
    """The Efraimidis-Spirakis exponential rank as an EXACT int64
    microunit key: pri6 = floor((-ln6(u)) / w + 0.5) where

    - u = (md5_prefix + 0.5) / 2^32 with the 'wpri:'-prefixed key —
      an exact binary64 rational in (0, 1): the +0.5 keeps ln away
      from the u=0 pole (md5 prefix 0 is a real 2^-32 event at web
      scale) and every intermediate is exact, so both engines see
      the bit-identical argument;
    - ln6(u) = floor(ln(u) * 1e6 + 0.5) — the ONE transcendental,
      floor-round6'd to int64 microunits at production (the repo's
      lm/recrawl convention, so libm-vs-JVM ulps cannot reorder);
    - the divide by w runs AFTER the rounding on the int64 (cast
      exact below 2^53): IEEE division of identical inputs is
      bit-identical across engines, and the final floor lands the
      priority back on int64 microunits.

    Keeping the k SMALLEST pri6 per stratum == keeping the k largest
    u^(1/w): weighted sampling without replacement with inclusion
    probability proportional to weight (Efraimidis & Spirakis 2006).
    Because the ranking key is an INTEGER, cross-engine ordering is
    exact; ties (real after round6) break on the key column. A weight
    that is NULL, NaN or <= 0 takes no draw: its priority is NULL
    (priority_sample's weight rule)."""
    w = (F.col(weight) if isinstance(weight, str) else weight).cast("double")
    ln6 = F.floor(F.log(_wpri_u(key)) * 1e6 + F.lit(0.5)).cast("long")
    return F.when((w > 0) & ~F.isnan(w), F.floor((-ln6).cast("double") / w + F.lit(0.5)).cast("long"))


def priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    *,
    strata_col: str,
    frac_col: str = "frac",
    rank_col: str = "sample_rank",
    pri_col: str = "priority6",
) -> DataFrame:
    """EXACT-size deterministic WEIGHTED sample without replacement:
    keep the rows whose key is among the k smallest Efraimidis-
    Spirakis exponential ranks (see wpri_priority) per stratum —
    inclusion probability proportional to ``weight_col`` (quality
    score, token count, ...), the weighted counterpart to
    bottomk_sample's uniform draw, with the same run/layout/
    cluster-size determinism df.sample cannot give.

    Weight rules: rows whose key is NULL, or whose weight is NULL,
    NaN or <= 0, take no draw and never sample (a non-positive mass
    cannot win a proportional race; the explicit isnan guard matters
    because Spark AND DuckDB both order NaN ABOVE all reals, so a
    bare w > 0 filter would let NaN through). A key value repeated
    within its stratum holds ONE slot with its MAX weight — max, not
    sum, because a float-weight sum is partition-order-dependent
    while max is order-free (the determinism contract).

    Output adds ``frac_col`` (the round6'd uniform u the rank was
    drawn from), ``pri_col`` (the int64 microunit priority) and
    ``rank_col`` (1-based (pri6, key) position): like bottomk_sample
    the sample is ORDERED, so the bottom-j of a materialized
    bottom-k is its prefix for the SAME weights. Scale shape is
    bottomk_sample's: the window sees a slim per-key aggregate —
    full rows never shuffle — and winners join back null-safely. At
    100 TB pre-filter with wpri_priority(key, w) < cutoff to shrink
    the window input (safe whenever the prefix keeps >= k keys per
    stratum)."""
    if k <= 0:
        raise ValueError(f"priority_sample: k must be positive, got {k!r}")
    w_d = F.col(weight_col).cast("double")
    slim = (
        df.select(strata_col, key_col, w_d.alias("_wp_w"))
        .filter(
            F.col(key_col).isNotNull()
            & F.col("_wp_w").isNotNull()
            & ~F.isnan("_wp_w")
            & (F.col("_wp_w") > 0)
        )
        .groupBy(strata_col, key_col)
        .agg(F.max("_wp_w").alias("_wp_w"))
        .select(strata_col, key_col, wpri_priority(key_col, F.col("_wp_w")).alias(pri_col))
    )
    u6 = F.floor(_wpri_u(key_col) * 1e6 + F.lit(0.5)) / F.lit(1e6)
    return _bottom_k(df, slim, strata_col, key_col, pri_col, k, rank_col, (pri_col,)).withColumn(
        frac_col, u6
    )
