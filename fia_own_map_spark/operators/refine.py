"""Cluster refinement operators (SURVEY.md §2.5).

  * cluster size (W1/A5): per-cluster row count, used by the cluster-docs
    query (`__spark_entry__._cluster_docs`).

Address refinement (W4, `Name_Matching_opt.py:115-129,225-227`) and the
pipeline's own cluster sizes come from one (node cluster, address) summary
in `plans.pipeline.label_records`. The other window idioms of SURVEY.md
§2.5 — priority dedupe (W2), first-wins dedupe under an explicit order (W3)
and the stratified sample (W5) — are written inline as the windows of the
contract queries that use them (`__spark_entry__.q_priority_dedupe_orders`,
`q_stratified_sample_orders`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cluster_size(df: DataFrame, cluster_col: str = "cluster_id") -> DataFrame:
    """W1/A5: `Total_Parcels_Owned` analogue — per-cluster row count
    (`Name_Matching_opt.py:242`). groupBy + join back rather than a count
    window: transitive closure produces a giant head component (31k+ nodes
    at the 800k-page bench corpus), and a window puts that cluster's every
    row in ONE spilling task (AQE cannot split window partitions); the
    groupBy reduces map-side and the join back is skew-splittable. Cluster
    ids are non-null by construction (url-derived)."""
    counts = df.groupBy(cluster_col).agg(F.count(F.lit(1)).alias("cluster_size"))
    return df.join(counts, cluster_col).select(*df.columns, "cluster_size")
