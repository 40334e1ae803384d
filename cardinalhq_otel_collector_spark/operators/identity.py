"""Identity stitching (cross-identifier entity resolution).

The CDP/identity-graph primitive: users appear under several
identifiers (device ids, emails, cookie ids); any observed
co-occurrence edge ("this user used this device") links them, and the
resolved identity is the connected component over the whole edge set.
Reuses the size-adaptive component engine behind template clustering
and near-dup canonicalization (fingerprint.components_from_bands):
bounded driver union-find for small graphs, distributed min-label
propagation past the bound — so the 100-TB path exists and is the
same tested code.

Identifier namespaces must be disjoint in the shared long id space —
callers offset each namespace (the query layer does device+10^7); the
canonical identity is the component's min id, which with user ids in
the lowest namespace is always a user id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["stitch_identities"]


def stitch_identities(
    edges: DataFrame,
    left_col: str,
    right_col: str,
) -> DataFrame:
    """(node_id, identity_id) for every node appearing in ≥1 edge;
    identity_id = min node id of the connected component."""
    from cardinalhq_otel_collector_spark.operators.dedup import neardup_components

    out = neardup_components(edges, left_col=left_col, right_col=right_col)
    return out.select(
        F.col("fingerprint").alias("node_id"),
        F.col("cluster_id").alias("identity_id"),
    )
