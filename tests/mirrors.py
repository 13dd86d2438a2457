"""Pure-Python reference mirrors of live library operators.

Each function here recomputes one Spark operator's result in plain
Python (same hashing, rounding and fold order) or by a second, independent
route, and the tests pin the operator equal to its mirror. The mirrors are test ground truth only;
the library never calls them.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ocr_compare_spark.engines.html_tree import RawBlock, _BlockParser
from ocr_compare_spark.functions.url import TRACKING_PARAM_PATTERN
from ocr_compare_spark.operators.bpe import EOW
from ocr_compare_spark.operators.compare import _strip_affixes
from ocr_compare_spark.operators.robots import pattern_to_regex
from ocr_compare_spark.operators.sketches import (
    DD_ZERO_BKT,
    dd_gamma,
    dd_ln_gamma,
    hll_alpha_m2,
)


# ---------------------------------------------------------------------
# operators/compare.py


def levenshtein_np(a: np.ndarray, b: np.ndarray) -> int:
    """Exact edit distance between two sequences (numpy row DP).

    Common affixes are stripped first (exact); the remaining DP uses
    the min-accumulate identity for insertions: cur[j] = min over
    k<=j of (nonins[k] + (j-k)) = accumulate-min(nonins - j) + j.
    Exact, O(len(a)) numpy passes over the stripped middle.

    Kept as the independent REFERENCE implementation (property tests
    pin ``levenshtein_fast`` == this == a textbook cell DP); the hot
    path uses the bit-parallel ``levenshtein_fast`` in operators/compare.py.
    """
    a, b = _strip_affixes(a, b)
    m, n = len(a), len(b)
    if m == 0:
        return n
    if n == 0:
        return m
    idx = np.arange(1, n + 1, dtype=np.int64)
    prev = np.arange(n + 1, dtype=np.int64)
    for i in range(1, m + 1):
        sub = prev[:-1] + (b != a[i - 1])
        dele = prev[1:] + 1
        nonins = np.minimum(sub, dele)
        first = np.int64(i)  # cur[0]
        shifted = np.concatenate(([first - 1], nonins - idx))
        cur_rest = np.minimum.accumulate(shifted)[1:] + idx
        cur_rest = np.minimum(cur_rest, nonins)
        prev = np.concatenate(([first], cur_rest))
    return int(prev[-1])


# ---------------------------------------------------------------------
# operators/bpe.py


def train_bpe_py(
    word_counts: dict[str, int],
    n_merges: int,
    min_count: int = 2,
    merges_per_round: int = 1,
) -> list[tuple[str, str]]:
    """Textbook Sennrich learn_bpe over a word-frequency dict, with
    the same deterministic tie-break (count desc, pair asc) and the
    same batched disjoint selection as train_bpe."""
    vocab = {tuple(list(w) + [EOW]): n for w, n in word_counts.items()}
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        k = min(merges_per_round, n_merges - len(merges))
        stats: dict[tuple[str, str], int] = {}
        for sym, n in vocab.items():
            for i in range(len(sym) - 1):
                stats[(sym[i], sym[i + 1])] = stats.get((sym[i], sym[i + 1]), 0) + n
        ranked = sorted(
            (p for p, c in stats.items() if c >= min_count),
            key=lambda p: (-stats[p], p),
        )
        chosen: list[tuple[str, str]] = []
        used: set[str] = set()
        for a, b in ranked[: 8 * k]:
            if a in used or b in used or a + b in used:
                continue
            chosen.append((a, b))
            used.update((a, b, a + b))
            if len(chosen) == k:
                break
        if not chosen:
            break
        merges.extend(chosen)
        for a, b in chosen:
            new_vocab = {}
            for sym, n in vocab.items():
                out: list[str] = []
                i = 0
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
            vocab = new_vocab
    return merges


# ---------------------------------------------------------------------
# operators/classifier.py


def score_logreg_py(text: str, model: dict, threshold: float = 0.5):
    """Mirror of logreg_scores for one doc (None for blank text)."""
    from ocr_compare_spark.operators.embedding import py_hashed_tf

    v = py_hashed_tf(text, model["dim"], signed=False)
    if v is None:
        return None
    wb = model["wb"]
    n = 0.0
    for x in v:
        n = n + x
    dot = 0.0
    for w, x in zip(wb[1:], v):
        dot = dot + w * x
    z = wb[0] + dot / n
    p = 1.0 / (1.0 + math.exp(-z))
    return int(math.floor(p * 1e6 + 0.5)), p >= threshold


# ---------------------------------------------------------------------
# operators/sketches.py


def _py_idx_rho(key: str, p: int) -> tuple[int, int]:
    """Driver/test mirror of hll_register_cols."""
    d = hashlib.md5(str(key).encode()).hexdigest()
    idx = int(d[:8], 16) % (1 << p)
    w = int(d[8:16], 16)
    rho = 33 if w == 0 else 33 - w.bit_length()
    return idx, rho


def py_hll_estimate(keys, p: int) -> float:
    """Pure-python mirror of the full estimator (pytest ground truth
    for the Spark and SQL twins — same fold order, same constants)."""
    m = 1 << p
    regs: dict[int, int] = {}
    for k in keys:
        idx, rho = _py_idx_rho(k, p)
        regs[idx] = max(regs.get(idx, 0), rho)
    s = 0.0
    for idx in sorted(regs):
        s += 1.0 / (1 << regs[idx])
    v = m - len(regs)
    s += float(v)
    raw = hll_alpha_m2(p) / s
    if raw <= 2.5 * m and v > 0:
        return float(m) * math.log(float(m) / v)
    return raw


def _py_cms_positions(key: str, depth: int, width: int) -> list[int]:
    d = hashlib.md5(str(key).encode()).hexdigest()
    h1 = int(d[:8], 16)
    h2 = int(d[8:16], 16) * 2 + 1
    return [(h1 + i * h2) % width for i in range(depth)]


def py_dd_quantile(values, q: float, alpha: float = 0.01) -> float:
    """Pure-python mirror of dd_build + dd_quantiles for one group
    (pytest ground truth — same ln/exp, same fold order, same rank
    rule; returns the unrounded estimate)."""
    lng = dd_ln_gamma(alpha)
    gp1 = dd_gamma(alpha) + 1.0
    buckets: dict[int, int] = {}
    n = 0
    for v in values:
        if v is None:
            continue
        if v <= 0:
            b = DD_ZERO_BKT
        else:
            # round6-before-ceil, exactly like dd_bucket_col
            b = math.ceil(math.floor((math.log(float(v)) / lng) * 1e6 + 0.5) / 1e6)
        buckets[b] = buckets.get(b, 0) + 1
        n += 1
    rank = max(math.ceil(q * float(n)), 1)
    cum = 0
    for b in sorted(buckets):
        cum += buckets[b]
        if cum >= rank:
            return 0.0 if b == DD_ZERO_BKT else 2.0 * math.exp(b * lng) / gp1
    raise ValueError("empty sketch")


# ---------------------------------------------------------------------
# operators/recrawl.py


def py_change_rate(history, now_secs: float | None = None):
    """Pure-python mirror of change_rate/recrawl_priority for ONE
    url's [(ts_secs, digest), ...] history — the pytest pin. Returns
    (n_fetches, n_changes, lam_day6, p_changed6|None)."""
    import math

    h = sorted(history)
    n = len(h)
    x = sum(1 for a, b in zip(h, h[1:]) if a[1] != b[1])
    span = h[-1][0] - h[0][0] if n > 1 else 0.0
    if n <= 1 or span <= 0:
        return n, x, None, None
    n_int = float(n - 1)
    ratio = (n_int - x + 0.5) / (n_int + 0.5)
    lam = -math.log(ratio) / (span / n_int / 86400.0)
    lam6 = math.floor(lam * 1e6 + 0.5) / 1e6
    if now_secs is None:
        return n, x, lam6, None
    age_days = (now_secs - h[-1][0]) / 86400.0
    p = 1.0 - math.exp(-lam6 * age_days)
    p6 = math.floor(p * 1e6 + 0.5) / 1e6
    return n, x, lam6, p6


# ---------------------------------------------------------------------
# broadcast-scan top-k (similarity.brute_force_topk / pq_topk /
# ivfpq_topk, embedding.hashed_topk)

#: queries into tie_vectors(): a copy of the duplicated vector, and a
#: variant that ties 39 copies and one other variant at cosine 0.5
TIE_QUERIES = (0, 39)


def tie_vectors() -> np.ndarray:
    """(42, 16) corpus whose exact ties straddle any small k: rows
    0-38 are copies of one vector, rows 39-41 negate its first 4, 8
    and 12 components. Every component is +-1, so dots, norms and
    cosines are exact in any evaluation order and a (-score, id)
    sorted mirror is the ground truth."""
    m = np.ones((42, 16))
    for i, n in zip((39, 40, 41), (4, 8, 12)):
        m[i, :n] = -1.0
    return m


def tie_frames(spark, id_col: str, vec_col: str):
    """tie_vectors() as a DataFrame at 1 and at 4 partitions."""
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(tie_vectors())]
    df = spark.createDataFrame(rows, f"{id_col} long, {vec_col} array<double>")
    return [df.repartition(n) for n in (1, 4)]


# ---------------------------------------------------------------------
# operators/embedding.py


def py_hashed_topk(vectors: dict, query_ids, k: int = 3):
    """Pure-python mirror of hashed_topk (pytest ground truth):
    vectors = {id: [float]}, returns {(query_id, rank): neighbor_id}."""
    norms = {i: math.sqrt(sum(x * x for x in v)) for i, v in vectors.items()}
    out = {}
    for q in query_ids:
        sims = []
        for c, v in vectors.items():
            if c == q:
                continue
            denom = norms[q] * norms[c]
            dot = sum(a * b for a, b in zip(vectors[q], v))
            sims.append((-(dot / denom if denom > 0 else 0.0), c))
        sims.sort()
        for r, (_, c) in enumerate(sims[:k], start=1):
            out[(q, r)] = c
    return out


# ---------------------------------------------------------------------
# operators/robots.py


def py_allowed(path: str, rules) -> bool:
    """Longest-match decision (pattern length, allow wins ties);
    default allow."""
    best = None
    for allow, pattern in rules:
        if re.match(pattern_to_regex(pattern), path):
            key = (len(pattern), allow)
            if best is None or key > best:
                best = key
    return True if best is None else best[1]


# ---------------------------------------------------------------------
# operators/bloom.py


def _py_positions(key: str, m_bits: int, k: int) -> list[int]:
    """Driver/test mirror of bloom_positions (same md5 slices)."""
    import hashlib

    d = hashlib.md5(str(key).encode()).hexdigest()
    h1 = int(d[:8], 16)
    h2 = int(d[8:16], 16) * 2 + 1
    return [(h1 + i * h2) % m_bits for i in range(k)]


# ---------------------------------------------------------------------
# engines/html_tree.py


def segment_html_stdlib(data: bytes) -> list[RawBlock]:
    """Reference implementation on stdlib html.parser.feed()."""
    text = data.decode("utf-8", errors="replace")
    p = _BlockParser()
    try:
        p.feed(text)
        p.close()
    except Exception:
        p._flush()
    return p.blocks


# ---------------------------------------------------------------------
# functions/url.py

# compiled from the canonical list so the mirror cannot drift from
# the Spark expression (functions/url.py owns the pattern)
_TRACKING_RE = re.compile(TRACKING_PARAM_PATTERN)


def surt_key_py(url: str) -> str:
    """Pure-Python mirror of functions/url.surt_key (same contract,
    documented there) — pinned equal to the Spark expression in
    tests/test_url.py."""
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://(.*)$", url, re.S)
    if not m:
        return url
    scheme = m.group(1).lower()
    rest = m.group(2)
    am = re.match(r"^([^/?#]*)(.*)$", rest, re.S)
    authority, tail = am.group(1), am.group(2)
    tail = tail.split("#", 1)[0]
    host = authority.split("@", 1)[1] if "@" in authority else authority
    port = ""
    if host.startswith("["):
        hm = re.match(r"^(\[[^\]]*\])(?::(\d+))?$", host)
        if hm:
            host, port = hm.group(1), hm.group(2) or ""
    elif ":" in host:
        h, p = host.rsplit(":", 1)
        if p.isdigit():
            host, port = h, p
    host = host.lower()
    if (scheme, port) in (("http", "80"), ("https", "443")):
        port = ""
    path, _, query = tail.partition("?")
    if path == "":
        path = "/"
    query_part = ""
    if query:
        kept = sorted(p for p in query.split("&") if p and not _TRACKING_RE.match(p))
        if kept:
            query_part = "?" + "&".join(kept)
    h2 = re.sub(r"^www\d*\.(?=[^.]+\.)", "", host)
    if re.match(r"^\d+\.\d+\.\d+\.\d+$", h2) or h2.startswith("["):
        rev = h2
    else:
        rev = ",".join(reversed(h2.split(".")))
    return rev + (":" + port if port else "") + ")" + (path + query_part).lower()


# ---------------------------------------------------------------------
# operators/tree.py


def tree_to_text(tree: DataFrame) -> DataFrame:
    """Rebuild doc_text from the NESTED struct with the reference
    separators (ocr_schema.py:85-198) — the byte-identical proof that
    the tree is a faithful representation, TABLE blocks included
    (markdown from the tree's rows/cells with the Optional-header
    rule).

    Nested blocks: consecutive block entries sharing a top-level
    ordinal join with the block separator '\\n' (the recursive
    '\\n'-join collapses — every adjacent leaf pair within one top
    block is separated by exactly one '\\n'); entries from different
    top blocks join with the page separator '\\n\\n'."""
    para_text = lambda q: F.array_join(  # noqa: E731
        F.transform(
            q.lines,
            lambda l: F.array_join(F.transform(l.words, lambda w: w.text), " "),
        ),
        " ",
    )

    def table_text(b: Column) -> Column:
        row_md = lambda r: F.concat(  # noqa: E731
            F.lit("| "),
            F.array_join(F.transform(r.cells, lambda c: c.text), " | "),
            F.lit(" |"),
        )
        sep_row = F.concat(
            F.lit("| "),
            F.array_join(
                F.transform(F.element_at(b.rows, 1).cells, lambda _: F.lit("---")), " | "
            ),
            F.lit(" |"),
        )
        all_rows = F.transform(b.rows, row_md)
        return F.when(
            F.element_at(b.rows, 1).row_type == "HEADER",
            F.array_join(
                F.concat(
                    F.array(F.element_at(all_rows, 1), sep_row),
                    F.slice(all_rows, 2, F.greatest(F.size(all_rows) - 1, F.lit(0))),
                ),
                "\n",
            ),
        ).otherwise(F.array_join(all_rows, "\n"))

    def page_text(p: Column) -> Column:
        # A block's own paragraphs INTERLEAVE with its child blocks
        # (Block.elements is one ordered list), so adjacency entries
        # are not contiguous DFS segments. Flatten to leaf units
        # keyed by their FULL element path (block_path ++ [para_no];
        # a table renders as one unit at its block_path), sort
        # lexicographically (= DFS order), then join.
        units = F.flatten(
            F.transform(
                p.blocks,
                lambda b: F.when(
                    F.size(b.rows) > 0,
                    F.array(F.struct(b.block_path.alias("path"), table_text(b).alias("text"))),
                ).otherwise(
                    F.transform(
                        b.paragraphs,
                        lambda q: F.struct(
                            F.concat(b.block_path, F.array(q.para_no)).alias("path"),
                            para_text(q).alias("text"),
                        ),
                    )
                ),
            )
        )
        folded = F.aggregate(
            F.array_sort(units),
            F.struct(F.lit("").alias("txt"), F.lit(-1).alias("top"), F.lit(True).alias("first")),
            lambda acc, u: F.struct(
                F.concat(
                    acc.txt,
                    F.when(acc.first, F.lit(""))
                    .when(F.element_at(u.path, 1) == acc.top, F.lit("\n"))
                    .otherwise(F.lit("\n\n")),
                    u.text,
                ).alias("txt"),
                F.element_at(u.path, 1).alias("top"),
                F.lit(False).alias("first"),
            ),
        )
        return folded.txt

    doc = F.array_join(
        F.transform(F.col("document.pages"), page_text),
        "\n=====\n",
    )
    return tree.select("url", "engine", doc.alias("doc_text"))
