"""Bloom-filter cross-batch deduplication — the Dolma dedupe shape:
a compact bitmap of everything already ingested rides a broadcast,
and the next crawl batch drops rows whose key is (probably) seen —
no join against the historical corpus, which at 100 TB is the whole
point: the filter is megabytes while the seen-key table is terabytes.

Determinism contract (everything reproducible in ANSI SQL):

- **positions**: Kirsch-Mitzenmacher double hashing over the md5 of
  the key — ``h1`` = first 8 hex digits, ``h2`` = next 8 forced odd
  (``2*x+1``), position_i = ``(h1 + i*h2) mod m_bits`` for
  i in 0..k-1. All int64-exact (h1, h2 < 2^33, i < k), so Spark,
  Python and DuckDB compute identical bit positions.
- **bitmap**: LSB-first (bit b lives in byte b//8 at mask 1<<(b%8));
  built distributed — one partial bitmap per partition inside
  mapInPandas, OR-reduced on the driver. Driver traffic is
  #partitions x m_bits/8 bytes; size m to the corpus and coalesce
  the build input when m is large (documented, not hidden).
- **membership**: a key is "might contain" iff ALL k positions are
  set. False positives DROP a genuinely-new row (bounded by the
  standard (1-e^(-kn/m))^k rate); false negatives never happen — the
  safe direction for dedup (you can lose a little new data, you
  never keep a duplicate).

Membership (``might_contain``): the bitmap broadcast as one numpy
array, tested per Arrow batch — plan O(1) in m.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

DEFAULT_M_BITS = 1 << 20
DEFAULT_K = 4


def _h1h2(key: str | Column) -> tuple[Column, Column]:
    c = F.col(key) if isinstance(key, str) else key
    md5 = F.md5(c.cast("string"))
    h1 = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long") * 2 + 1
    return h1, h2


def bloom_positions(
    key: str | Column, m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
) -> Column:
    """array<long> of the k bit positions for a key (duplicates kept
    — membership requires every position set, repeated or not)."""
    h1, h2 = _h1h2(key)
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)), lambda i: (h1 + i * h2) % m_bits
    )


def build_bloom(
    df: DataFrame,
    key_col: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> np.ndarray:
    """Build the filter over ``df``'s keys: one uint8 bitmap of
    m_bits/8 bytes. Each partition folds its keys into a partial
    bitmap (numpy, Arrow-batched); the driver ORs the partials.
    m_bits must be a multiple of 8."""
    if m_bits % 8:
        raise ValueError("m_bits must be a multiple of 8")
    pos = df.select(F.explode(bloom_positions(key_col, m_bits, k)).alias("p"))

    def partial(batches):
        bmp = np.zeros(m_bits // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if pdf.empty:
                continue
            any_rows = True
            p = pdf["p"].to_numpy(dtype=np.int64)
            np.bitwise_or.at(bmp, p // 8, (1 << (p % 8)).astype(np.uint8))
        if any_rows:
            yield pd.DataFrame({"bmp": [bmp.tobytes()]})

    parts = pos.mapInPandas(partial, "bmp binary").collect()
    out = np.zeros(m_bits // 8, dtype=np.uint8)
    for r in parts:
        out |= np.frombuffer(r["bmp"], dtype=np.uint8)
    return out


def might_contain(
    df: DataFrame,
    key_col: str,
    bloom: np.ndarray,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    out_col: str = "might_contain",
) -> DataFrame:
    """Data path: test every row's k positions against the broadcast
    bitmap inside an Arrow-batched UDF — the plan carries no bitmap
    literal and no join, so it composes into any pipeline stage."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(bloom))

    @pandas_udf("boolean")
    def _test(pos: pd.Series) -> pd.Series:
        bmp = bc.value
        out = []
        for plist in pos:
            p = np.asarray(plist, dtype=np.int64)
            out.append(bool(np.all(bmp[p // 8] & (1 << (p % 8)).astype(np.uint8) != 0)))
        return pd.Series(out)

    return df.withColumn(out_col, _test(bloom_positions(key_col, m_bits, k)))


def bloom_filter_new(
    batch: DataFrame,
    key_col: str,
    bloom: np.ndarray,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Keep only rows whose key is definitely NOT in the filter —
    the incremental-ingest composition: unseen rows proceed to
    extraction/dedup, then their keys fold into the next filter
    build. Never passes a true duplicate; may drop a false-positive
    new row (rate bounded by the m/k sizing)."""
    flagged = might_contain(batch, key_col, bloom, m_bits, k, out_col="_seen")
    return flagged.filter(~F.col("_seen")).drop("_seen")
