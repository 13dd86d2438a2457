"""Deduplication operators for web-scale corpora.

Five tiers, cheapest first — all shuffle-minimal by construction:

- exact:      md5 groupBy (one shuffle on the hash, map-side combine)
- ngram:      n-gram Jaccard between candidate pairs (native arrays)
- minhash:    MinHash + LSH banding (native xxhash64 — NO Python),
              candidates = band-bucket self-join, verified natively
- simhash:    64-bit SimHash via native bit-vote aggregation (md5
              halves + 64 codegen'd conditional sums — NO Python)
- embedding:  cosine near-dups via sign-orthant blocking (native
              zip_with/aggregate fold — NO Python, no cross join)

At 100 TB the only all-pairs step is the LSH bucket join, whose
cardinality is controlled by the band count — never a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ocr_compare_spark.functions.bind import _bind
from ocr_compare_spark.operators import graph
from ocr_compare_spark.operators.adaptive import build_side, fixed_bytes, materialize, row_bytes

# lsh_candidates persists its (tiny, ids-only) membership aggregate so
# the expansion joins don't recompute the md5 groupBy. The returned
# DataFrame is lazy, so the function itself can never know when it is
# safe to unpersist; instead each call releases the PREVIOUS call's
# cached aggregate, capping accumulation at one resident copy across
# bench reps / long sessions (callers wanting zero residue can call
# release_lsh_cache() after materializing their result).
_LSH_CACHED: list[DataFrame] = []

#: Broadcast cap for lsh_candidates' band and verify joins (adaptive).
SH_BROADCAST_MAX_BYTES = 256 << 20


def release_lsh_cache() -> None:
    while _LSH_CACHED:
        _LSH_CACHED.pop().unpersist()


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-hash grouping (≈ the reference's md5 cache key,
    cached_ocr_executor.py:203-231). Output: one row per distinct
    content with the kept id and the duplicate count."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_docs"))
    )


def word_shingles(text_col: str, n: int = 3) -> F.Column:
    """Distinct word ``n``-gram shingles, fully native.

    Tokens are Spark's ``\\s+`` split, which keeps an empty first
    (last) token for leading (trailing) whitespace. Shingle i is
    tokens i..i+n-1 joined by one space; a text of fewer than ``n``
    tokens yields its whole token array as one shingle. The split runs
    once per row and every window slices the bound token array."""
    return _bind(
        F.split(F.col(text_col), r"\s+"),
        lambda toks: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    )


def jaccard_arrays(a: F.Column, b: F.Column) -> F.Column:
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, F.size(F.array_intersect(a, b)) / union).otherwise(F.lit(1.0))


def adjacent_ngram_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    part_col: str,
    n: int = 3,
    bucket_size: int = 4096,
) -> DataFrame:
    """N-gram Jaccard between each doc and its successor (by id)
    within a partition column — a cheap sorted-neighborhood dedup
    pass. Output: one row per consecutive (id, next_id) pair.

    Scale shape (r1 fix): a naive lead() over partitionBy(part)
    serializes each part value onto ONE task — fatal for a
    low-cardinality column like lang at 100 TB. Here the window runs
    within (part, bucket = id // bucket_size) — parallelism =
    #buckets — and the missing cross-bucket pairs are stitched from
    a per-bucket first/last-row table (1 row per non-empty bucket,
    1/bucket_size of the input; its per-part ordering window is over
    bucket summaries, not rows). The result is IDENTICAL to the
    single-window form: lead() inside a bucket covers consecutive
    pairs there, and lead() over the bucket summaries pairs each
    bucket's last row with the next NON-EMPTY bucket's first row —
    exactly the global successor (id gaps leave buckets empty, which
    the summary lead skips)."""
    sh = word_shingles(text_col, n)
    base = df.select(
        F.col(part_col).alias("part"),
        F.col(id_col).alias("id"),
        sh.alias("sh"),
        F.floor(F.col(id_col) / bucket_size).alias("bucket"),
    )
    w_in = Window.partitionBy("part", "bucket").orderBy("id")
    inner = (
        base.withColumn("next_id", F.lead("id").over(w_in))
        .withColumn("next_sh", F.lead("sh").over(w_in))
        .filter(F.col("next_id").isNotNull())
        .select("part", "id", "sh", "next_id", "next_sh")
    )
    edge = F.struct(F.col("id"), F.col("sh"))
    bounds = base.groupBy("part", "bucket").agg(
        F.min_by(edge, F.col("id")).alias("first"),
        F.max_by(edge, F.col("id")).alias("last"),
    )
    w_bd = Window.partitionBy("part").orderBy("bucket")
    stitched = (
        bounds.withColumn("nf", F.lead("first").over(w_bd))
        .filter(F.col("nf").isNotNull())
        .select(
            "part",
            F.col("last.id").alias("id"),
            F.col("last.sh").alias("sh"),
            F.col("nf.id").alias("next_id"),
            F.col("nf.sh").alias("next_sh"),
        )
    )
    pairs = inner.unionByName(stitched)
    return pairs.select(
        "part", "id", "next_id",
        F.round(jaccard_arrays(F.col("sh"), F.col("next_sh")), 6).alias("jaccard"),
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate PAIRS -> per-node
    cluster assignment ``(id, component)`` where component = the
    minimum id reachable from the node. This is the step that turns
    pairwise dedup output into an actionable KEEP-LIST: keep one
    representative (the component id) per cluster, drop the rest.

    Algorithm: iterative min-label propagation. Each round joins the
    (bidirected) edge list with current labels and takes
    min(own, neighbors') per node; convergence when no label changes.
    Scale shape: duplicate clusters in web corpora are near-cliques
    (a group of mirrors all pair with each other), so the diameter —
    and the round count — is tiny (2-3); each round is one equi join
    + one groupBy min with map-side combine, both keyed on ids (no
    skew beyond the cluster sizes themselves, which AQE skew-join
    splits). The driver loop is bounded by ``max_iters`` and exits
    early on a converged round, counted by the round's own checkpoint
    job (a long-chain adversarial graph converges in O(diameter) rounds —
    label propagation, not pointer doubling, is the right trade for
    near-clique duplicate graphs; a 10^6-long CHAIN of near-dups is
    not a shape LSH banding produces).

    Output: one row per node appearing in ``pairs``:
    ``(id, component)``; nodes absent from pairs are their own
    singleton components by definition (callers left-join and
    coalesce to id).
    """
    # Lineage MUST be cut every round with localCheckpoint, not
    # persist: persist leaves the logical plan in place, so round k's
    # plan nests round k-1's as a cached innerChild — the plan DATA
    # stays incremental but the plan OBJECT (and the plan-description
    # string Spark renders for the SQL UI on EVERY action) doubles
    # per round and multiplies by the caller's whole upstream plan
    # under `edges`. On a real curation DAG (extract -> gates -> LSH)
    # that stringification alone span-locked a driver core for tens
    # of minutes by round 4. localCheckpoint truncates each round to
    # a LogicalRDD leaf: label rows are two ids, so the checkpointed
    # footprint is tiny, and the ContextCleaner unpersists dropped
    # rounds once their references go.
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn("component", F.col("id"))
    labels, measured = materialize(labels, nbytes=row_bytes(labels))
    # round-join build side decided ONCE from the real label table
    side = build_side(measured["nbytes"], graph.NODE_BROADCAST_MAX_BYTES, "shuffle_hash")
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(side(labels), edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        new_labels, measured = materialize(
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left").select(
                "id",
                F.least(F.col("component"), F.col("nmin")).alias("component"),
                (F.col("nmin") < F.col("component")).alias("changed"),
            ),
            changed=F.col("changed").cast("long"),
        )
        labels = new_labels.drop("changed")
        if measured["changed"] == 0:
            break
    return labels.select("id", "component")


def dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Corpus-level dedup decision: every doc gets its near-dup
    ``component`` (singletons = themselves) and a ``keep`` flag —
    True iff the doc IS its component's representative (min id).
    One broadcast-friendly left join against the (tiny relative to
    the corpus) component table."""
    comps = connected_components(pairs)
    return (
        df.join(comps, df[id_col] == comps.id, "left")
        .drop("id")
        .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
        .withColumn("keep", F.col(id_col) == F.col("component"))
    )


# ------------------------------------------------------------ MinHash/LSH


def lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    verify_threshold: float = 0.7,
    shingle_n: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    signature -> split into `bands` bands -> hash each band ->
    explode (band_id, band_hash) -> self-join on the bucket ->
    verify candidates with exact shingle Jaccard. The only shuffle
    keys are (band_id, band_hash); hot buckets (boilerplate dupes)
    are exactly the pairs we want, and the verify step is per-pair.

    Scale caveat: the all-PAIRS output contract is itself quadratic
    in the size of a duplicate group — a 10^6-copy boilerplate page
    implies 5*10^11 output rows no algorithm can avoid emitting. At
    that regime run exact_dedup first and use its (keep_id, n_docs)
    contract; this operator's canonicalization keeps the COMPUTE
    linear per group (one representative through the LSH path), so
    the expansion explode is the only quadratic step and it is
    spread across tasks by the pair join keys.
    """
    # Exact-duplicate canonicalization BEFORE the heavy path: web
    # corpora are full of byte-identical copies (mirrors, recrawls —
    # locally the bench's replicated corpus is the worst case), and
    # identical texts have identical shingle sets, hence identical
    # signatures, band hashes, candidacy and jaccard. So: collapse to
    # one representative per md5(text), run shingle/signature/band/
    # verify on representatives only, then expand rep pairs back
    # through group membership (cross-group pairs inherit the rep
    # jaccard; within-group pairs are 1.0 by construction). The
    # expansion reproduces the un-canonicalized output EXACTLY while
    # the explode/shuffle-heavy stages see |distinct texts| rows
    # instead of |corpus| (measured 24x-replicated 228k docs: the
    # verify join dropped from ~2.6M array-carrying pairs to ~4.5k).
    keyed = df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("grp"), F.col(text_col).alias("text"))
    # Membership is consumed 2-3x (rep-pair expansion + within-group
    # branch): persist the IDS-ONLY projection — tiny — rather than a
    # text-carrying aggregate (persisting full texts was measured
    # SLOWER than recomputing the cheap md5 groupBy). The rep texts
    # come from a separate text aggregate consumed exactly once by
    # the signature path; texts are identical within a group (grp =
    # md5(text)), so any_value is the min-id member's text too.
    release_lsh_cache()
    groups = keyed.groupBy("grp").agg(
        F.min("id").alias("id"),
        F.array_sort(F.collect_list("id")).alias("members"),
    ).persist()
    _LSH_CACHED.append(groups)
    reps = keyed.groupBy("grp").agg(
        F.min("id").alias("id"), F.any_value("text").alias("text")
    ).select("id", "text")
    # Shingle, sign, band and keep the shingle-hash set in one pass,
    # materialized once for the band self-join and the sh lookups; its
    # job measures both build sides (each bands element is one band row:
    # the id plus _band_rows' own band columns). The second sh lookup
    # reuses the first's broadcast.
    tables = minhash_tables(reps, "id", "text", num_hashes, bands, shingle_n, num_partitions)
    per_band = row_bytes(tables.select("id")) + fixed_bytes(_band_rows(tables, "id").drop("id"))
    sigs, measured = materialize(
        tables, sh=row_bytes(tables.select("id", "sh")), band=F.array_size("bands") * per_band
    )
    sh_side = build_side(measured["sh"], SH_BROADCAST_MAX_BYTES, "merge")
    band_side = build_side(measured["band"], SH_BROADCAST_MAX_BYTES, "merge")
    verified = _band_join_verify(sigs, verify_threshold, sh_side, band_side).select(
        F.col("new_id").alias("id_a"), F.col("store_id").alias("id_b"), "jaccard"
    )

    # Expand representative pairs back to full-corpus pairs.
    mem = groups.select(F.col("id").alias("rep"), F.explode("members").alias("mid"))
    cross = (
        verified.join(mem.select(F.col("rep").alias("id_a"), F.col("mid").alias("ma")), "id_a")
        .join(mem.select(F.col("rep").alias("id_b"), F.col("mid").alias("mb")), "id_b")
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "jaccard",
        )
    )
    # Within-group pairs via a SELF-JOIN of the exploded membership
    # on the rep key, not a per-row combination array: a boilerplate
    # group of 10^6 copies would otherwise materialize the whole
    # O(g^2) pair array inside one task's memory; the join streams
    # the quadratic output. Null-text groups (grp IS NULL — md5 of
    # null) are excluded: a null text yields no shingles, so the
    # un-canonicalized path never emitted pairs for those docs (the
    # expansion must reproduce it exactly).
    mem_nn = (
        groups.filter(F.col("grp").isNotNull() & (F.size("members") > 1))
        .select(F.col("grp"), F.explode("members").alias("mid"))
    )
    within = (
        mem_nn.select("grp", F.col("mid").alias("id_a"))
        .join(mem_nn.select("grp", F.col("mid").alias("id_b")), "grp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
        .filter(F.lit(1.0) >= verify_threshold)
    )
    return cross.unionByName(within)


# --------------------------------------------------------------- SimHash


def simhash(
    df: DataFrame, id_col: str, text_col: str, num_partitions: int | None = None
) -> DataFrame:
    """64-bit SimHash, fully Catalyst-native (r1 perf-weak fix: the
    previous Arrow UDF ran an interpreted per-token Python md5 loop —
    the hot cost at 100 TB).

    Per token the 64 hash bits come from md5(token) hex, parsed as two
    unsigned-32 halves — md5 is the hash both Spark and the ANSI-SQL
    oracle share, and 32-bit halves avoid signed-64 overflow on either
    side. Plan: explode tokens -> 64 codegen'd conditional-sum bit
    votes (map-side partial aggregation, one shuffle on id) -> pack
    sign bits natively. Output ``(id, sim_hi, sim_lo)``; hamming
    distance = ``hamming64(a_hi, a_lo, b_hi, b_lo)``.

    ``num_partitions`` spreads the input BEFORE the token explode —
    the byte-light compute-heavy stage serializes on the source's
    parquet splits otherwise (the dsir/decontam repartition trap).
    """
    if num_partitions:
        df = df.repartition(num_partitions, id_col)
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).select("id", F.md5(F.col("tok")).alias("m"))
    halves = ex.select(
        "id",
        F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("h_hi"),
        F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("h_lo"),
    )
    aggs = []
    for half in ("hi", "lo"):
        for b in range(32):
            bit = F.shiftright(F.col(f"h_{half}"), b).bitwiseAND(F.lit(1))
            aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v_{half}_{b}"))
    votes = halves.groupBy("id").agg(*aggs)

    def pack(half: str) -> F.Column:
        acc = F.lit(0).cast("long")
        for b in range(31, -1, -1):
            sign = F.when(F.col(f"v_{half}_{b}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
            acc = F.shiftleft(acc, 1).bitwiseOR(sign)
        return acc

    return votes.select("id", pack("hi").alias("sim_hi"), pack("lo").alias("sim_lo"))


def hamming64(a_hi: F.Column, a_lo: F.Column, b_hi: F.Column, b_lo: F.Column) -> F.Column:
    """Hamming distance between two simhashes in split-half form."""
    return F.bit_count(a_hi.bitwiseXOR(b_hi)) + F.bit_count(a_lo.bitwiseXOR(b_lo))


def _sim_block(start: int, width: int) -> Column:
    """Bits [start, start+width) of the 64-bit fingerprint stored as
    two unsigned-32 halves (sim_lo = bits 0-31, sim_hi = bits 32-63),
    as a long — non-negative for width < 64 (the k=0 degenerate case
    returns the full fingerprint, whose bit 63 makes it a signed
    long; as a join key only bit-pattern equality matters). Handles
    blocks straddling the halves."""
    mask = (1 << width) - 1
    if start + width <= 32:
        return F.shiftright(F.col("sim_lo"), start).bitwiseAND(F.lit(mask))
    if start >= 32:
        return F.shiftright(F.col("sim_hi"), start - 32).bitwiseAND(F.lit(mask))
    lo_bits = 32 - start
    lo_part = F.shiftright(F.col("sim_lo"), start)
    hi_part = F.shiftleft(F.col("sim_hi").bitwiseAND(F.lit((1 << (width - lo_bits)) - 1)), lo_bits)
    return hi_part.bitwiseOR(lo_part)


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs via the Manku–Jain–Sarma
    pigeonhole block join (WWW'07 "Detecting Near-Duplicates for Web
    Crawling" — the scheme Google's crawl dedup used; reference repo
    has no analog, this is a task-mandate training-pipeline tier).

    Any pair within Hamming distance k must agree EXACTLY on at least
    one of k+1 disjoint bit blocks (pigeonhole: k flipped bits can
    touch at most k blocks). So: compute fingerprints (one shuffle),
    posexplode each row into its k+1 (block_id, block_bits) keys, and
    self-join slim (id, sim_hi, sim_lo) rows on the block key — the
    exact shape of lsh_candidates' band join, never a cross join.
    Candidates are verified with the native 64-bit Hamming distance
    and deduplicated (a pair agreeing on several blocks matches in
    several tables).

    Scale notes: block width is 64 // (k+1) — at k=3 that is 16 bits
    (65k buckets per table), which keeps expected bucket size n/65536
    per table; larger k narrows blocks and inflates buckets
    quadratically (k=7 → 8-bit blocks → n/256 per bucket), so for
    billion-document corpora stay at k<=3 or pre-collapse exact
    duplicates (exact_dedup) the way lsh_candidates canonicalizes —
    byte-identical texts share fingerprints and would otherwise make
    every block bucket quadratic in the copy count.

    The slim (id, hi, lo) fingerprint table is localCheckpoint'd
    before the self-join: the two join sides are differently-aliased
    plans, so ReuseExchange does NOT fire (measured: the token
    explode + 64-vote aggregation ran TWICE) — the checkpoint makes
    the dominant fingerprint stage run exactly once, at the cost of
    materializing 3 longs per doc (the PageRank edge-checkpoint
    pattern).

    Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    return fingerprint_near_dups(
        simhash(df, id_col, text_col, num_partitions=num_partitions), max_distance
    )


def fingerprint_near_dups(fp: DataFrame, max_distance: int = 3) -> DataFrame:
    """The MJS pigeonhole block join over ANY 64-bit fingerprint
    table ``(id, sim_hi, sim_lo)`` (text SimHash runs it via
    simhash_near_dups): the candidate-generation guarantee depends
    only on the 64-bit Hamming geometry, not on where the bits came
    from. Input is localCheckpoint'd here (the self-join's
    differently-aliased sides defeat ReuseExchange — the fingerprint
    stage would run twice). Output: (id_a, id_b, hamming) with id_a < id_b, exact
    within the Hamming ball."""
    nb = max_distance + 1
    assert nb <= 64, "max_distance must be < 64"
    base, rem = divmod(64, nb)
    widths = [base + (1 if j < rem else 0) for j in range(nb)]
    starts = [sum(widths[:j]) for j in range(nb)]
    sh = fp.localCheckpoint()
    blocked = sh.select(
        "id",
        "sim_hi",
        "sim_lo",
        F.posexplode(
            F.array(*[_sim_block(starts[j], widths[j]) for j in range(nb)])
        ).alias("t", "blk"),
    )
    pairs = (
        blocked.alias("l")
        .join(blocked.alias("r"), ["t", "blk"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming64(
                F.col("l.sim_hi"), F.col("l.sim_lo"), F.col("r.sim_hi"), F.col("r.sim_lo")
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
    )
    return pairs.groupBy("id_a", "id_b").agg(F.min("hamming").alias("hamming"))


# ------------------------------------------------- embedding near-dup


def embed_near_dups(
    emb: DataFrame,
    threshold: float = 0.30,
    *,
    sign_bits: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-orthant blocking
    (the fifth dedup tier: semantic near-dups that no token hash sees).

    Blocking key = the sign pattern of the first ``sign_bits``
    components (exact — float sign survives any cast, so the block
    assignment is deterministic and SQL-mirrorable, unlike a random-
    projection LSH whose buckets are hash-specific). Candidates are
    same-block pairs (id_a < id_b) joined on the block id — never a
    cross join. Under isotropy the candidate count is about
    n² / 2^sign_bits, so widen the blocking with the corpus, but never
    past the embedding dimension (``element_at`` past the array end
    throws under ANSI mode).
    Within candidates, exact cosine (left-to-right fold, so the
    DuckDB oracle's ordered list_sum reproduces it bit-for-bit) and a
    ``sim >= threshold`` keep-filter.

    Recall caveat (documented, inherent to single-table sign blocking):
    a near-dup pair straddling one of the first ``sign_bits``
    hyperplanes is missed; the MinHash-LSH tier's multi-band trick is
    the recall amplifier when that matters. Planted-dup recall is
    locked in tests/test_dedup_similarity.py.

    Output: ``(id_a, id_b, sim)`` with sim rounded to 6 decimals.
    """
    from ocr_compare_spark.operators.similarity import cosine_native

    block = F.lit(0)
    for b in range(sign_bits):
        block = block + F.when(F.element_at(F.col(vec_col), b + 1) > 0, F.lit(1 << b)).otherwise(
            F.lit(0)
        )
    keyed = emb.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        block.alias("block"),
    )
    a = keyed.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), "block")
    b_ = keyed.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), "block")
    pairs = a.join(b_, "block").filter(F.col("id_a") < F.col("id_b"))
    sim = cosine_native(F.col("v_a"), F.col("v_b"))
    return (
        pairs.select("id_a", "id_b", sim.alias("sim_raw"))
        .filter(F.col("sim_raw") >= threshold)
        .select("id_a", "id_b", F.round("sim_raw", 6).alias("sim"))
    )


# ------------------------------------------------- paragraph-level dedup


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
    min_dup_count: int = 2,
) -> DataFrame:
    """Cross-document PARAGRAPH-level exact dedup — the CCNet/Dolma
    pass that document-level dedup cannot express: boilerplate
    paragraphs (nav bars, cookie banners, license footers) repeat
    across millions of otherwise-distinct pages, and removing them
    requires deduplicating at sub-document granularity while
    preserving each document's remaining paragraph order.

    Semantics: split ``text_col`` on ``sep``; a paragraph whose md5
    occurs in >= ``min_dup_count`` (doc, position) slots corpus-wide
    is a duplicate, and only its occurrence with the smallest
    (id, position) survives (CCNet keep-one). Whitespace-only
    paragraphs are never dedup'd — they are separator artifacts, and
    hashing them would weld unrelated documents to one "duplicate".

    Scale shape: exactly TWO shuffles, both on well-spread keys —
    (1) paragraph rows shuffle once on the md5 hash, where a single
    window computes both the corpus-wide count and the first-occurrence
    rank (no groupBy + re-join second shuffle of the paragraph text);
    (2) survivors shuffle back on the doc id for the ordered
    reassembly (map-side partial aggregation on the (pos, para)
    structs). No driver-side state, no join whose build side grows
    with the corpus. Hash-key skew is bounded by ``min_dup_count``
    logic itself: the heaviest hash IS the boilerplate being removed,
    and its window state is O(1) per row (count + rank).

    Output: ``(id, text, n_paras, n_dropped)`` — ``text`` is the
    deduplicated document (possibly empty), ``n_paras`` the original
    paragraph count, ``n_dropped`` how many paragraphs were removed.
    """
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias("pos", "para"),
    ).withColumn(
        # whole-class whitespace test (r5 review family: F.trim strips
        # only 0x20, so a tab/CR-only separator artifact would hash as
        # content and weld documents)
        "is_blank", F.col("para").rlike(r"^\s*$")
    )
    # one shuffle on the content hash: corpus-wide occurrence count +
    # first-occurrence rank from the same window partition
    w = Window.partitionBy("h")
    w_rank = w.orderBy("id", "pos")
    hashed = paras.withColumn(
        "h", F.when(~F.col("is_blank"), F.md5(F.col("para"))).otherwise(F.md5(F.concat(F.lit("\x00blank:"), F.col("id").cast("string"), F.lit(":"), F.col("pos").cast("string"))))
    )
    ranked = hashed.withColumn("n_occ", F.count("*").over(w)).withColumn(
        "occ_rank", F.row_number().over(w_rank)
    )
    keep = (F.col("n_occ") < min_dup_count) | F.col("is_blank") | (F.col("occ_rank") == 1)
    flagged = ranked.withColumn("keep", keep)
    # second shuffle: ordered reassembly on the doc id
    return flagged.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct(F.col("pos"), F.col("para")))
                    )
                ),
                lambda s: s.para,
            ),
            sep,
        ).alias("text"),
        F.count("*").alias("n_paras"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_dropped"),
    )


# ------------------------------------------------- benchmark decontamination


def _word_ngram_hashes(text_col: Column, n: int) -> Column:
    """md5 hashes of the word-level n-grams of ``text_col``:
    lowercase, whitespace-tokenize, drop empty tokens (normalizes
    leading/trailing-whitespace splits identically under Spark's
    Java split and DuckDB's string_split_regex), join each n-token
    window with a single space, md5. Documents shorter than ``n``
    tokens (and NULL text) yield an empty array. All native
    expressions — the gram strings never leave the JVM and only their
    32-char hashes are exploded. The split runs once per row; every
    window slices the bound token array."""

    def grams(toks: Column) -> Column:
        n_grams = F.size(toks) - (n - 1)
        return F.when(
            n_grams > 0,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return _bind(F.filter(F.split(F.lower(text_col), r"\s+"), lambda x: x != ""), grams)


def ngram_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    n: int = 8,
    min_hits: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Benchmark DECONTAMINATION — the GPT-3/Llama/Dolma training-set
    hygiene pass: flag every corpus document that shares at least
    ``min_hits`` distinct word-level ``n``-grams with a held-out
    benchmark/eval set, so evaluation data can be excluded from
    training data rather than memorized.

    Scale shape: the benchmark side is an eval suite — megabytes, not
    terabytes — so its DISTINCT gram-hash set is broadcast and the
    probe is a map-side hash semi-join against the corpus gram
    stream; no shuffle touches the exploded corpus grams. Only the
    MATCHED (id, hash) rows — a tiny set by construction — shuffle
    once for the per-doc distinct-hit count, and the final left join
    back to ids is id-keyed. Corpus gram explosion is ~token_count
    rows per doc of 32-char hashes (the gram text itself never
    materializes per row). For a benchmark too large to broadcast,
    drop the hint and Catalyst falls back to a sort-merge join on the
    same plan.

    Returns one row per corpus doc: ``(id, n_hits, contaminated)``
    with ``n_hits`` = distinct shared n-grams.

    ``num_partitions``: the gram hashing is byte-light but
    compute-heavy (one md5 per token window), so a corpus read from
    few parquet files underparallelizes it — repartition(cores)
    before the explode (the CLAUDE.md compare_align trap; measured
    3.7s -> 0.6s at sf0.1/local[32]). Hash A/B note: a multi-arg
    xxhash64 over element_at windows measured 5.7x SLOWER than
    md5(array_join) here — the interpreted per-element lambda loses
    more than the join costs; don't "optimize" it back.
    """
    bench_text_col = bench_text_col or text_col
    if num_partitions:
        docs = docs.repartition(num_partitions, id_col)
        # the BENCH gram pass pays the same few-split serialization
        # (r6 — the dsir target-side finding); eval suites are small,
        # so the spread shuffle is noise next to its md5 pass
        bench = bench.repartition(num_partitions)
    d_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_word_ngram_hashes(F.col(text_col), n)).alias("g"),
    )
    b_grams = bench.select(
        F.explode(_word_ngram_hashes(F.col(bench_text_col), n)).alias("g")
    ).distinct()
    hits = (
        d_grams.join(F.broadcast(b_grams), "g")
        .groupBy("id")
        .agg(F.count_distinct("g").alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


# ------------------------------------------------- crawl-snapshot dedup


def latest_snapshot(df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """Keep exactly the LATEST crawl snapshot per key — the standard
    first pass over a multi-crawl Common-Crawl-style pages table where
    the same url appears once per crawl with a different ``warc_ts``.

    One hash-shuffle on the key with full map-side combine: max_by
    keeps a single candidate row per key per map partition, so the
    shuffle carries ~|distinct keys| rows regardless of how many
    crawls stack up per url (a window/row_number shape would shuffle
    EVERY snapshot's full row — the difference at 100 TB). Ties on
    the timestamp break deterministically toward the greater struct
    (max over (ts, row-struct)), never arrival order.

    Output: the input schema, one row per key, plus ``n_snapshots``.
    """
    others = [c for c in df.columns if c != key_col]
    packed = df.select(
        F.col(key_col),
        F.struct(F.col(ts_col), F.struct(*[F.col(c) for c in others]).alias("_r")).alias("_p"),
    )
    won = packed.groupBy(key_col).agg(
        F.max("_p").alias("_w"), F.count("*").alias("n_snapshots")
    )
    return won.select(
        F.col(key_col),
        *[F.col(f"_w._r.{c}").alias(c) for c in others],
        "n_snapshots",
    )


# ---------------------------------------------- exact substring dedup


def substring_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 50,
    min_count: int = 2,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact SUBSTRING deduplication (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" pass,
    token-window flavor): any ``window``-token sequence occurring at
    least ``min_count`` times across the corpus is removed from every
    occurrence EXCEPT the globally first one. Unlike document-level
    (exact_dedup) or near-dup (lsh_candidates) passes, this removes
    repeated license blocks, navigation chrome and quoted boilerplate
    EMBEDDED inside otherwise-unique documents.

    Contract:
    - tokens = whitespace split; duplicate windows are compared by
      md5 of their space-joined token text (so the pass is invariant
      to the original inter-token whitespace);
    - the keeper is the minimum (id, start) occurrence (struct
      ordering — deterministic under any parallelism);
    - removal spans within a doc merge when they overlap or touch
      (two overlapping dup windows cut once, not twice);
    - output text: surviving tokens joined by single spaces; docs
      with NO removals keep their original text bytes untouched.

    Scale shape: the occurrence stream is one slim (id, start, hash)
    row per token — the SAME volume as the MinHash shingle stream —
    and takes exactly ONE hash-partition shuffle (a window over the
    hash yields occurrence rank + count in one pass; the
    groupBy-then-join-back alternative shuffles the stream twice).
    Span merge + text rebuild are per-doc native folds; the final
    join is id-keyed. The window-hash compute is byte-light md5 work,
    so ``num_partitions`` should be ~cores (the decontam trap).
    """
    if num_partitions:
        docs = docs.repartition(num_partitions, id_col)

    def windows(toks: Column) -> Column:
        n_wins = F.size(toks) - (window - 1)
        return F.when(
            n_wins > 0,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_wins, F.lit(1))),
                lambda i: F.struct(
                    i.alias("start"),
                    F.md5(F.array_join(F.slice(toks, i, window), " ")).alias("h"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<start:int,h:string>>"))

    wins_arr = _bind(F.split(F.col(text_col), r"\s+"), windows)
    occ = docs.select(
        F.col(id_col).alias("id"), F.explode(wins_arr).alias("w")
    ).select("id", F.col("w.start").alias("start"), F.col("w.h").alias("h"))

    # ONE shuffle: rank every occurrence of a hash by (id, start) and
    # count the occurrences in the same window pass. rank > 1 with a
    # qualifying count = a span to remove.
    wspec = Window.partitionBy("h").orderBy(F.col("id").asc(), F.col("start").asc())
    cspec = Window.partitionBy("h")
    removals = (
        occ.withColumn("_rk", F.row_number().over(wspec))
        .withColumn("_n", F.count("*").over(cspec))
        .filter((F.col("_n") >= min_count) & (F.col("_rk") > 1))
        .select("id", "start", (F.col("start") + window).alias("end"))
    )

    # Per-doc: sort spans, merge overlapping/touching intervals with
    # one fold, then cut the merged intervals out of the token array.
    spans = removals.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("start", "end"))).alias("_sp")
    )
    empty_iv = F.array().cast("array<struct<start:int,end:int>>")
    merged = F.aggregate(
        F.col("_sp"),
        empty_iv,
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (x.start <= F.element_at(acc, -1).end),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1).start.alias("start"),
                        F.greatest(F.element_at(acc, -1).end, x.end).alias("end"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )

    out = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt")).join(
        spans, "id", "left"
    ).withColumn("_iv", merged)
    toks2 = F.split(F.col("_txt"), r"\s+")
    kept = F.filter(
        F.transform(toks2, lambda t, i: F.struct(t.alias("t"), (i + 1).alias("i"))),
        lambda x: ~F.exists(
            F.col("_iv"), lambda iv: (x.i >= iv.start) & (x.i < iv.end)
        ),
    )
    new_text = F.array_join(F.transform(kept, lambda x: x.t), " ")
    n_removed_tokens = F.aggregate(
        F.col("_iv"), F.lit(0), lambda acc, iv: acc + (iv.end - iv.start)
    )
    return out.select(
        "id",
        F.when(F.col("_iv").isNull(), F.col("_txt")).otherwise(new_text).alias("text"),
        F.coalesce(F.size("_iv"), F.lit(0)).cast("long").alias("n_spans_removed"),
        F.coalesce(n_removed_tokens, F.lit(0)).cast("long").alias("n_tokens_removed"),
    )


# ------------------------------------------------------ semantic dedup


def semdedup(
    emb: DataFrame,
    centroids=None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "literal",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    deduplication — cluster the embedding space with k-means, then
    within each cluster drop every point that is cosine-similar
    (>= ``threshold``) to an EARLIER point in the cluster's keep
    order. The paper keeps the examples with LOW similarity to the
    cluster centroid (they carry more information than the cluster's
    "typical" members), so the order is (centroid_sim asc, id asc)
    and a point is dropped iff some same-cluster point that sorts
    before it is a near-duplicate — the pairwise form of the paper's
    sorted-sim-matrix rule, deterministic and SQL-expressible.

    Why clustering first: the quadratic pair step runs only WITHIN a
    cell, so total pair work is sum(|cell|^2) ≈ n^2/k — with k grown
    alongside the corpus (the paper uses 50k clusters for LAION) the
    per-cell cost is bounded. The pair step is ONE grouped Arrow pass
    per cell (vectorized sim matrix in column blocks, each row
    shipped once — never a pair-materializing join); its float ops
    replicate cosine_native's fold order bit-for-bit, so the kept set
    is identical to the former per-pair SQL form (same scale shape as
    ivf_topk / embed_near_dups).

    Cells come from ivf_topk's corpus-side assignment (argmax dot,
    ties to the lowest cell id; centsim = that max dot).
    method="literal" (default): similarity._ivf_cells_literal —
    centroid dots as native left-to-right folds over per-component
    literals, bit-reproducible in a DuckDB twin, for oracle-checked
    small configs. method="data": similarity._ivf_cells_data —
    broadcast centroids + one numpy GEMM per Arrow batch (plan O(1)
    in dim x cells — the real-embedding path; pytest-pinned to the
    literal kept set).

    ``centroids`` is a (k, dim) ndarray — seeded_centroids() when
    None; pass train_centroids(...) output for data-trained cells
    (both are deterministic, so reruns keep the same set).

    Output: one row per input vector —
    (id, cell, centsim (round6), kept boolean).
    """
    # function-local import: loopbench's recrawl imports this module
    # for MinHash, and its import set stays as it is
    from ocr_compare_spark.operators.similarity import (
        _ivf_cells_data,
        _ivf_cells_literal,
        seeded_centroids,
    )

    cents = seeded_centroids() if centroids is None else centroids
    if method == "literal":
        keyed = _ivf_cells_literal(emb, cents, id_col, vec_col, "id", "v")
    elif method == "data":
        keyed = _ivf_cells_data(emb, cents, id_col, vec_col, "id", "v")
    else:
        raise ValueError(f"semdedup: unknown method {method!r} (literal|data)")
    keyed = keyed.withColumnRenamed("cid", "cell")

    # Within-cell pair stage (r6 optimization): the former cell
    # self-join + per-pair cosine_native fold materialized n^2/k pair
    # rows through a shuffle and evaluated an interpreted
    # zip_with/aggregate fold per pair — 47x superlinear r5->r6 at
    # sf1.0 (65.4 s). Replaced by ONE applyInPandas pass per cell
    # that reproduces cosine_native's float ops BIT-FOR-BIT: the dot
    # and squared-norm folds accumulate per dimension INDEX (a j-loop
    # of vectorized IEEE adds — identical op order to the Spark
    # fold), sqrt/multiply/divide are correctly-rounded IEEE ops, and
    # Spark's NaN-is-largest comparison semantics are replicated
    # (sim >= t OR isnan(sim)). The drop rule is unchanged: sort the
    # cell by (centsim asc, id asc) — pandas sort matches Spark's
    # double and binary-string orderings — and a member is dropped
    # iff ANY earlier member's sim >= threshold (the pairwise rule;
    # column blocks bound the m x m sim matrix memory for skewed
    # cells). Vectors never cross a join; the cell shuffle ships each
    # row once.
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

    thr = float(threshold)
    id_dt = keyed.schema["id"].dataType
    cell_dt = keyed.schema["cell"].dataType
    out_schema = StructType(
        [
            StructField("id", id_dt),
            StructField("cell", cell_dt),
            StructField("centsim", DoubleType()),
            StructField("kept", BooleanType()),
        ]
    )

    def _cell_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m <= 1:
            return pd.DataFrame(
                {
                    "id": pdf["id"],
                    "cell": pdf["cell"],
                    "centsim": pdf["centsim"],
                    "kept": np.ones(m, dtype=bool),
                }
            )
        pdf = pdf.sort_values(["centsim", "id"], kind="stable", ignore_index=True)
        ids = pdf["id"].to_numpy()
        ids_unique = len(pd.unique(ids)) == m
        V = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["v"]], dtype=np.float64
        )
        dim = V.shape[1] if V.ndim == 2 else 0
        # squared-norm fold in index order (== cosine_native's na/nb)
        nsq = np.zeros(m, dtype=np.float64)
        for j in range(dim):
            cj = V[:, j]
            nsq = nsq + cj * cj
        na = np.sqrt(nsq)
        pos = na > 0
        dropped = np.zeros(m, dtype=bool)
        CHUNK = 4096  # bounds the m x chunk sim block for skewed cells
        for c0 in range(0, m, CHUNK):
            c1 = min(c0 + CHUNK, m)
            blk = np.zeros((m, c1 - c0), dtype=np.float64)
            for j in range(dim):
                cj = V[:, j]
                blk = blk + np.multiply.outer(cj, cj[c0:c1])
            denom = np.multiply.outer(na, na[c0:c1])
            mask = pos[:, None] & pos[None, c0:c1]
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = np.where(mask, blk / np.where(mask, denom, 1.0), 0.0)
            ge = (sim >= thr) | np.isnan(sim)  # Spark: NaN sorts above all
            tri = np.arange(m)[:, None] < np.arange(c0, c1)[None, :]
            if not ids_unique:  # old pair filter was id_a < id_b
                tri &= ids[:, None] != ids[None, c0:c1]
            dropped[c0:c1] = np.any(ge & tri, axis=0)
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "cell": pdf["cell"],
                "centsim": pdf["centsim"],
                "kept": ~dropped,
            }
        )

    n_cells = int(len(cents))
    flagged = (
        keyed.repartition(n_cells, "cell")  # byte-light compute-heavy:
        # pin the partition count so AQE coalescing can't serialize
        # the per-cell numpy work (the CLAUDE.md compare_align trap)
        .groupBy("cell")
        .applyInPandas(_cell_pass, out_schema)
    )
    return flagged.select(
        "id",
        F.col("cell").cast("long").alias("cell"),
        # floor(x*1e6+0.5)/1e6, not F.round: centroid sims can be
        # negative, and this is the repo's cross-engine rounding
        # contract (HALF_UP on negatives differs between engines)
        (F.floor(F.col("centsim") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "centsim"
        ),
        "kept",
    )


def d4_prune(
    emb: DataFrame,
    centroids=None,
    threshold: float = 0.95,
    proto_frac: float = 0.1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """D4 (Tirumala et al. 2023, arXiv:2308.12284): semantic dedup
    THEN per-cluster prototypicality pruning — after SemDeDup drops
    the near-duplicates, also drop the ``proto_frac`` fraction of
    each cluster's SURVIVORS closest to their centroid. The most
    "typical" members carry the least marginal information once the
    cluster is represented; pruning them diversifies the mix (the
    paper's SSL-prototype step, re-expressed on the same k-means
    geometry SemDeDup already computed — one quantization pass feeds
    both stages).

    Per cluster: rank survivors by (centsim desc, id asc) — most
    prototypical first — and drop proto_rank <= cut where
    cut = floor(round6(proto_frac * n_cell)). The round6 before the
    integer floor is the house cliff contract (DDSketch precedent):
    proto_frac * n lands EXACTLY on integers for 1/proto_frac-sized
    cells, and an IEEE ulp there (0.3*10 = 2.999...96) would move
    the cut by a whole rank. floor also means a cluster needs
    > 1/proto_frac survivors before it loses any — small clusters
    are never wiped. The ranking key is the ROUND6 centsim (the
    semdedup output column), ties to the lowest id, so the order is
    total and the twin replays it exactly.

    Output: semdedup's (id, cell, centsim, kept) + proto_rank (rank
    in the per-cell drop order among semdedup survivors; NULL for
    rows semdedup already dropped) + d4_kept (kept AND not
    proto-pruned).

    Scale shape: the semdedup output is localCheckpoint'd (it feeds
    the ranking AND the join-back — without the cut its pairwise
    join DAG runs twice); the window sees only slim
    (id, cell, centsim) rows — vectors never shuffle; per-cell size
    is bounded by the quantizer (the SemDeDup/IVF contract), so the
    window partition never holds a corpus-sized cell."""
    if not (0.0 <= proto_frac < 1.0):
        raise ValueError(f"d4_prune: proto_frac must be in [0, 1), got {proto_frac!r}")
    sd = semdedup(
        emb,
        centroids=centroids,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
    ).localCheckpoint()
    wr = Window.partitionBy("cell").orderBy(
        F.col("centsim").desc(), F.col("id").asc()
    )
    wc = Window.partitionBy("cell")
    cut = F.floor(
        F.floor(F.lit(proto_frac) * F.col("_n") * F.lit(1e6) + F.lit(0.5))
        / F.lit(1e6)
    )
    ranked = (
        sd.filter(F.col("kept"))
        .select("id", "cell", "centsim")
        .withColumn("proto_rank", F.row_number().over(wr))
        .withColumn("_n", F.count(F.lit(1)).over(wc))
        .select(
            "id",
            F.col("proto_rank").cast("long").alias("proto_rank"),
            (F.col("proto_rank") <= cut).alias("_pp"),
        )
    )
    return sd.join(ranked, "id", "left").select(
        "id",
        "cell",
        "centsim",
        "kept",
        "proto_rank",
        (F.col("kept") & ~F.coalesce(F.col("_pp"), F.lit(False))).alias("d4_kept"),
    )


def minhash_tables(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """MinHash record per doc: ``(id, bands array<long>, sh
    array<long>)`` — the band hashes that generate LSH candidates plus
    the distinct shingle hashes that verify them; lsh_candidates runs
    it over its exact-dup representatives.

    Each shingle string is hashed exactly once (h0); the num_hashes
    lanes re-hash that 8-byte long instead of the ~20-byte string
    (measured ~2x on the signature stage), and the lane minima and the
    shingle-hash set come out of one aggregate. Texts with no shingles
    (NULL) get no row."""
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    if num_partitions:
        # the shingle explode multiplies rows ~500x; spread by the
        # unique id first so the stage does not serialize on a small
        # source's few input splits
        base = base.repartition(num_partitions, "id")
    exploded = base.select(
        "id", F.explode(word_shingles("text", shingle_n)).alias("shingle")
    ).select("id", F.xxhash64("shingle").alias("h0"))
    agg = exploded.groupBy("id").agg(
        *[F.min(F.xxhash64("h0", F.lit(s))).alias(f"h{s}") for s in range(num_hashes)],
        F.collect_set("h0").alias("sh"),
    )
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        lanes = [F.col(f"h{b * rows_per_band + j}") for j in range(rows_per_band)]
        band_cols.append(F.xxhash64(*lanes))
    return agg.select("id", F.array(*band_cols).alias("bands"), "sh")


def _band_rows(sigs: DataFrame, idn: str) -> DataFrame:
    """``(idn, band_id, band_hash)``: one row per band."""
    return sigs.select(
        F.col("id").alias(idn),
        F.posexplode("bands").alias("band_id", "band_hash"),
    )


def _band_join_verify(sigs: DataFrame, verify_threshold: float, sh_side, band_side) -> DataFrame:
    """Band-bucket self-join of a :func:`minhash_tables` table,
    verified by exact hashed-shingle Jaccard: ``(new_id, store_id,
    jaccard)`` with new_id < store_id (dedups the symmetric join).
    ``band_side`` wraps one side's band rows and ``sh_side`` both
    shingle-set lookups (:func:`build_side` wrappers).

    Verifying on the HASHED shingle sets (array<long>) equals Jaccard
    over the strings up to a ~n^2/2^64 collision probability
    (negligible and deterministic), while the pair joins ship 8-byte
    longs instead of ~20-byte shingle strings (measured 1.5x on
    lsh_candidates at 60k docs x 12-way dups)."""

    def _sh(idn, shn):
        return sh_side(sigs.select(F.col("id").alias(idn), F.col("sh").alias(shn)))

    pairs = (
        _band_rows(sigs, "new_id")
        .join(band_side(_band_rows(sigs, "store_id")), ["band_id", "band_hash"])
        .filter(F.col("new_id") < F.col("store_id"))
    )
    pairs = pairs.select("new_id", "store_id").distinct()
    return (
        pairs.join(_sh("new_id", "sh_a"), "new_id")
        .join(_sh("store_id", "sh_b"), "store_id")
        .select(
            "new_id",
            "store_id",
            F.round(jaccard_arrays(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= verify_threshold)
    )
