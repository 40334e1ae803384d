"""Training-mixture materialization (integer source weights -> shards).

The last step of a corpus pipeline: given per-source integer repeat
factors ("2 epochs of wiki, 1 of web, drop spam"), materialize the
mixture as (doc, copy_idx) rows and deal them onto a fixed number of
hash shards — the deterministic, resumable alternative to a global
random shuffle (an orderBy(rand()) over 100 TB is a full sort of the
corpus; a hash shard assignment is a projection). Downstream readers
randomize WITHIN a shard at load time, which is the standard
two-level shuffle for training data.

Weights ride in as literal expressions (a CASE over the source
column) — control-plane data, never a scan; weight 0 excludes the
source entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import md5_int

__all__ = ["materialize_mixture"]


def materialize_mixture(
    df: DataFrame,
    weights: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    shards: int = 1024,
) -> DataFrame:
    """Repeat each row ``weights[source]`` times and assign each copy a
    deterministic shard = 52-bit md5("id:copy") mod shards.

    Unknown sources get weight 0 (dropped). Zero shuffles: weight CASE,
    sequence+explode, hash projection — the plan is scan -> explode ->
    project, embarrassingly parallel at any scale.
    """
    if any(w < 0 for w in weights.values()):
        raise ValueError("mixture weights must be >= 0")
    w = F.lit(0)
    for src, wt in sorted(weights.items()):
        w = F.when(F.col(source_col) == src, F.lit(int(wt))).otherwise(w)
    copies = F.when(
        w >= 1, F.sequence(F.lit(1), w.cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    key = F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col("copy_idx").cast("string"))
    shard = md5_int(key, 13) % shards
    return (
        df.select(id_col, source_col, F.explode(copies).alias("copy_idx"))
        .withColumn("shard", shard)
    )
