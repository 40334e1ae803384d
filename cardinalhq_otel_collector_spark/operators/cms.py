"""Count-min sketch frequency estimation.

The bounded-memory counterpart to exact grouped counts
(sampling.heavy_hitters): a depth x width counter grid whose cells are
additive — partial grids merge by cell-wise sum, which is exactly
Spark's map-side partial aggregation, so the shuffle carries at most
depth*width rows per partition NO MATTER how many distinct keys exist.
At 100 TB an exact per-key count of a high-cardinality key (URLs, span
ids) shuffles billions of groups; the sketch shuffles a few thousand
cells. Estimates are upper bounds: est >= true, with overshoot bounded
by collisions (Cormode & Muthukrishnan 2005).

Determinism contract: row-i hash is the 52-bit md5 prefix of
"i|key" modulo width — reproducible verbatim in any engine with md5
(the DuckDB oracle rebuilds the identical grid and takes the identical
min), same discipline as sketch.kmv_distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import md5_int

__all__ = ["cms_counts"]


def _cell(i_col, key_col, width: int):
    return md5_int(F.concat(i_col.cast("string"), F.lit("|"), key_col.cast("string")), 13) % width


def cms_counts(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Estimate per-key row counts from a depth x width count-min grid.

    Plan shape: one explode (depth rows per input row) into a
    (row, cell) grouped count — the grid, at most depth*width rows,
    with map-side combine doing the heavy lifting — then a broadcast
    join from the distinct keys' (row, cell) coordinates back onto the
    grid and a min across rows. The only data-sized shuffle is the
    distinct-keys one; the grid itself is constant-size.

    Returns (key, est_n) with est_n >= the true count.
    """
    # Round-6 shape (guide §2.3 — aggregate before anything per-row):
    # this operator returns an estimate per DISTINCT key, so a
    # cardinality-sized aggregate is already inherent (the probe side).
    # Fold the grid INTO it: count rows per key first (one map-side-
    # combined hash agg over the data — no hashing on the row-sized
    # side at all), then build the identical grid as a sum of per-key
    # counts. md5 work drops from rows x depth to distinct-keys x depth
    # (4M -> 300k at the sf1.0 bench); the grid cells are exactly the
    # same integers, since count(rows in cell) == sum of per-key counts
    # hashing to that cell.
    keyed = df.where(F.col(key_col).isNotNull()).select(F.col(key_col).alias("key"))
    kc = keyed.groupBy("key").agg(F.count(F.lit(1)).alias("__n"))
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("i")
    cells = kc.select("key", "__n", rows).select(
        "key", "__n", "i", _cell(F.col("i"), F.col("key"), width).alias("cell")
    )
    grid = cells.groupBy("i", "cell").agg(F.sum("__n").alias("n"))
    return (
        cells.join(F.broadcast(grid), ["i", "cell"])
        .groupBy("key")
        .agg(F.min("n").alias("est_n"))
        .withColumnRenamed("key", key_col)
    )
