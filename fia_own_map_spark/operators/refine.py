"""Cluster refinement operators (SURVEY.md §2.5).

  * address refinement (W4, `Name_Matching_opt.py:115-129,225-227`): within a
    family/juniors cluster, if more than one distinct mailing address exists,
    split the cluster by address. The reference assigns fresh uuid4s per
    address; here the split id is the deterministic min(id) within
    (cluster, address) — groupBy aggregations joined back, no UDF.
  * cluster size (W1/A5): per-cluster row count.

The other window idioms of SURVEY.md §2.5 — priority dedupe (W2), first-wins
dedupe under an explicit order (W3) and the stratified sample (W5) — are
written inline as the windows of the contract queries that use them
(`__spark_entry__.q_priority_dedupe_orders`, `q_stratified_sample_orders`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fia_own_map_spark.config import CLASS_FAMILY


def refine_clusters_by_address(
    clustered: DataFrame,
    id_col: str = "url",
    cluster_col: str = "cluster_id",
    addr_col: str = "comb_addr",
    class_col: str = "own_type",
    refine_classes: tuple[int, ...] = (CLASS_FAMILY,),
) -> DataFrame:
    """Split multi-address clusters for the refine_classes (family + juniors
    are both own_type 45 in the reference, split via initial_class==3).

    Implemented as groupBy aggregations joined back, NOT windows over the
    cluster partition: transitive closure produces a giant head component
    (31k+ nodes at the 800k-page bench corpus), and a window puts that
    cluster's every record in ONE spilling task (AQE cannot split window
    partitions). The groupBy reduces map-side; the join back is
    skew-splittable. ``_addr_k`` coalesces NULL addresses so the join
    reproduces the window's null-as-a-group semantics exactly."""
    cols = clustered.columns
    df = clustered.withColumn("_addr_k", F.coalesce(F.col(addr_col), F.lit("\x00null")))
    # count_distinct ignores NULL addresses — the collect_set semantics of
    # the original window formulation (a NULL addr never triggers a split;
    # the _addr_k sentinel below only groups NULL rows for the split id)
    addr_counts = df.groupBy(cluster_col).agg(
        F.count_distinct(addr_col).alias("_n_addr")
    )
    split_ids = df.groupBy(cluster_col, "_addr_k").agg(F.min(id_col).alias("_split_id"))
    out = (
        df.join(addr_counts, cluster_col)
        .join(split_ids, [cluster_col, "_addr_k"])
    )
    needs_split = F.col(class_col).isin(list(refine_classes)) & (F.col("_n_addr") > 1)
    return out.withColumn(
        cluster_col, F.when(needs_split, F.col("_split_id")).otherwise(F.col(cluster_col))
    ).select(*cols)


def cluster_size(df: DataFrame, cluster_col: str = "cluster_id") -> DataFrame:
    """W1/A5: `Total_Parcels_Owned` analogue — per-cluster row count
    (`Name_Matching_opt.py:242`). groupBy + join back rather than a count
    window: the giant head cluster would otherwise be a single spilling
    window task (see refine_clusters_by_address). Cluster ids are non-null
    by construction (url-derived)."""
    counts = df.groupBy(cluster_col).agg(F.count(F.lit(1)).alias("cluster_size"))
    return df.join(counts, cluster_col).select(*df.columns, "cluster_size")
