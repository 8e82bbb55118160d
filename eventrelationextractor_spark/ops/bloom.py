"""Bloom-filter membership prefilter for cross-corpus dedup and
decontamination.

The shuffle-free alternative to joining a 100-TB probe corpus against a
"seen" set (previous crawl snapshot's URLs, a benchmark's document
keys): build a compact bitmap over the reference keys once (one
map-side-combinable aggregation producing m/64 longs), broadcast it,
and test membership map-side over the probe scan - zero shuffle on the
probe side, false-positive rate ~(kn/m)^k, never a false negative.
Rows that pass the filter (the tiny maybe-member fraction) can then be
exact-verified with a join proportional to candidates, the same
gate-then-verify shape as ops.dedup.capped_bucket_pairs.

Bit positions are pure md5 functions of the key, so the filter is
reproducible across engines and runs: any engine that replays the
identical draws reproduces membership EXACTLY - including any false
positives.

Sizing at scale: ~10 bits/key. A 10^12-key seen-set would need a
~1.25-TB bitmap - beyond a single broadcast; the production path there
is a bucketed bloom (one filter per url-hash bucket, co-partitioned
with the probe side) or an exact semi-join. This operator targets the
common case where the reference set is orders of magnitude smaller
than the probe corpus (benchmark decontamination, snapshot deltas),
where the bitmap is megabytes.

No reference-counterpart: CATENA consumes a fixed corpus. This is part
of the training-data-pipeline surface (SURVEY.md LLM-ops family,
alongside ops/decontam.py's n-gram-overlap variant).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _positions(col, m_bits: int, k: int):
    """k independent bit positions for a key column: draw i is the first
    32 bits of md5('bf{i}:' || key) mod m_bits. SQL twin:
    ('0x' || substr(md5('bf' || i || ':' || key), 1, 8))::UBIGINT % m."""
    return [
        (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"bf{i}:"), col.cast("string"))),
            1, 8), 16, 10).cast("long") % m_bits)
        for i in range(k)
    ]


def build_bloom(df: DataFrame, key_col: str = "url",
                m_bits: int = 1 << 20, k: int = 4) -> np.ndarray:
    """Aggregate the reference keys into an m_bits bloom bitmap
    (int64 words, little-endian bit order within each word).

    Shape: explode k positions per key (map-side) -> groupBy word-index
    with bit_or (map-side partial agg; at most m/64 = tiny groups) ->
    collect m/64 rows to the driver. The only driver materialization is
    the bitmap itself."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    pos = F.explode(F.array(*_positions(F.col(key_col), m_bits, k)))
    words = (df.select(pos.alias("pos"))
             .select(F.floor(F.col("pos") / 64).alias("wi"),
                     F.expr("shiftleft(1L, cast(pos % 64 AS int))")
                     .alias("bit"))
             .groupBy("wi").agg(F.bit_or("bit").alias("w")))
    bitmap = np.zeros(m_bits // 64, dtype=np.int64)
    for r in words.collect():
        bitmap[int(r.wi)] = r.w
    return bitmap


def bloom_member(df: DataFrame, bitmap: np.ndarray, key_col: str = "url",
                 k: int = 4, out_col: str = "maybe_member") -> DataFrame:
    """Map-side membership test: adds boolean ``out_col`` (true iff all
    k bits are set - a possible member; false is definite non-member).

    The k positions are computed JVM-side (codegen md5/conv); the bitmap
    ships once per executor as a SparkContext broadcast and the bit test
    is one vectorized numpy gather per Arrow batch. Zero shuffle."""
    m_bits = int(bitmap.shape[0]) * 64
    sc = SparkSession.getActiveSession().sparkContext
    bc = sc.broadcast(bitmap)

    @pandas_udf("boolean")
    def _test(pos_arr: pd.Series) -> pd.Series:
        bm = bc.value
        if not len(pos_arr):
            return pd.Series([], dtype=bool)
        P = np.stack(pos_arr.values).astype(np.int64)      # (n, k)
        bits = (bm[P >> 6] >> (P & 63)) & 1
        return pd.Series(bits.all(axis=1))

    return df.withColumn(
        out_col, _test(F.array(*_positions(F.col(key_col), m_bits, k))))


def bloom_prefilter(probe: DataFrame, reference: DataFrame,
                    key_col: str = "url", m_bits: int = 1 << 20,
                    k: int = 4) -> DataFrame:
    """Convenience composition: build the bloom over ``reference`` keys
    and tag ``probe`` with maybe_member. Downstream either drops
    maybe-members outright (dedup against a previous snapshot, accepting
    the FP rate as over-deletion) or exact-verifies the survivors with a
    join that now touches only the maybe-member fraction."""
    bitmap = build_bloom(reference, key_col, m_bits, k)
    return bloom_member(probe, bitmap, key_col, k)
