"""Broadcast Bloom-filter pre-filtering for selective joins.

At 100 TB the expensive part of a selective join is shuffling the big
side's NON-matching rows to their death at the join. Spark's AQE can
inject a runtime bloom filter for this; this operator is the explicit,
engine-portable version: build a deterministic Bloom bit-set from the
small side (k md5-derived bit positions per key, m bits total),
broadcast it, and keep only big-side rows whose k positions are ALL
set. Zero false negatives (every true match survives — the Bloom
guarantee), a bounded false-positive rate that the downstream exact
join removes — so the filter is purely a shuffle-volume optimization,
and its OUTPUT is still deterministic (the same fixed hash functions
everywhere, reproducible by the DuckDB oracle bit for bit).

The bit-set rides as a sorted array of set positions inside one
broadcast aggregate (collect_set of ints, size <= min(k*|small|, m)):
for realistic dimension sizes this is kilobytes. ``array_contains``
over a broadcast literal row keeps the probe entirely inside
whole-stage codegen — no Python, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_int

__all__ = ["bloom_bits", "bloom_semi_filter"]


def _positions(key: Column, k: int, m: int) -> list[Column]:
    return [md5_int(F.concat(F.lit(f"h{i}|"), key.cast("string")), 13) % m for i in range(k)]


def bloom_bits(small: DataFrame, key_col: str, k: int = 3, m: int = 1024) -> DataFrame:
    """One-row DataFrame holding the sorted distinct bit positions set
    by the small side's keys (the Bloom bit-set in position-list form)."""
    pos = F.explode(F.array(*_positions(F.col(key_col), k, m))).alias("p")
    return (
        small.where(F.col(key_col).isNotNull())
        .select(pos)
        .agg(F.sort_array(F.collect_set("p")).alias("bits"))
    )


def bloom_semi_filter(
    big: DataFrame,
    small: DataFrame,
    key_col: str,
    k: int = 3,
    m: int = 1024,
) -> DataFrame:
    """Rows of ``big`` whose key MIGHT be in ``small`` (no false
    negatives; false positives bounded by (1-e^{-kn/m})^k). The bit-set
    is a one-row broadcast cross join — constant-size, never a shuffle
    of ``big``."""
    bits = bloom_bits(small, key_col, k, m)
    probe = F.lit(True)
    for p in _positions(F.col(key_col), k, m):
        probe = probe & F.array_contains(F.col("bits"), p)
    return (
        big.join(F.broadcast(bits))
        .where(F.col(key_col).isNotNull() & probe)
        .drop("bits")
    )
