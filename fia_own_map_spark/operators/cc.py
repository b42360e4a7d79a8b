"""Stage 3 — transitive closure via large-star / small-star connected
components on a DataFrame edge list (north_star stage 3).

Replaces the reference's order-dependent single sequential pass
(`Name_Matching_opt.py:71-98,191-195` — a mutable {place_id -> uid} dict
updated row by row) with the deterministic fixpoint it approximates
(SURVEY.md §7.4.1). Labels are ``min(id)`` per component, consistent with the
reference's own lexicographic-min tie-break (`Name_Matching_opt.py:92`) and
replacing its nondeterministic uuid4 ids (`:80,92,231`).

Algorithm (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14): alternate

  large-star(u): for every neighbor v > u, emit (v, min(N(u) ∪ {u}))
  small-star(u): over edges oriented high->low, emit (v, m) for
                 v ∈ N(u) ∪ {u}, m = min(N(u) ∪ {u})

until the edge set is stable — O(log n) rounds. Each round is two
skew-safe groupBy+join min computations plus one distinct (see
_large_star for why NOT windows); lineage is truncated per round with
``localCheckpoint`` (on a production cluster: reliable checkpoint / Iceberg
iteration table, SURVEY.md §7.4.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fia_own_map_spark.session import release_checkpoints


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set, canonical (min, max) orientation, no self-loops."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """min(N(u) ∪ u) via groupBy + join, deliberately NOT a window: the
    hub of a large component has degree ≈ component size, and a window over
    partitionBy(src) puts that hub's whole neighborhood in ONE task with no
    remedy (AQE cannot split window partitions) — measured 22x anti-scaling
    at the 800k-page bench corpus. The groupBy computes partial (map-side)
    mins, so the skewed key reduces to one tiny row, and the join back is a
    plain equi-join that AQE's skew-join splitting CAN divide. No
    .distinct() on large-star output: it is bounded by |sym| = 2|E| rows
    either way; small-star's final distinct (which defines the round's
    canonical edge set for the convergence signature) dedups once per round
    instead of twice."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
    mins = mins.select("src", F.least("_mn", F.col("src")).alias("m"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    nbrs = oriented.join(mins, "src").select(F.col("dst").alias("v"), F.col("m"))
    selfs = mins.select(F.col("src").alias("v"), F.col("m"))
    return (
        nbrs.unionByName(selfs)
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int, int]:
    """(count, xor-hash, xor-hash') — two INDEPENDENT xxhash64 families (a
    salt literal reseeds the second), so a between-rounds collision needs a
    simultaneous collision in both 64-bit folds (~2^-128 per round); the
    aggregation is the same single job that materializes the lazy
    localCheckpoint."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
        F.coalesce(F.bit_xor(F.xxhash64(F.lit(0x9E3779B9), "src", "dst")), F.lit(0)).alias("h2"),
    ).collect()[0]
    return int(row["n"]), int(row["h"]), int(row["h2"])


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    id_col: str = "id",
    component_col: str = "component",
    max_iterations: int = 50,
) -> DataFrame:
    """Return (id, component) with component = min(id) of the component.

    edges: (src, dst). vertices (optional): one column `id_col` holding ONE
    row per id (a key projection); vertices with no edges come back as
    singletons (component = own id). The vertex table is not deduplicated
    here: a duplicated id comes back as duplicated label rows.
    """
    # Round 0 IS a small-star pass, replacing the old _canonical step:
    # _small_star's own orient + self-loop filter + distinct subsume
    # canonicalization for ANY input (component-preserving by the Kiveris
    # operator property), and on star-shaped inputs — blocking's
    # star_edges, the engine's main producer — it performs the first real
    # contraction for free, where the alternating loop's opening
    # large-star is a near-identity pass (a star's members have no
    # neighbor above them to re-point). Measured at sf0.1:
    # 4 rounds -> 3, label hashes identical.
    # lazy localCheckpoint: the signature aggregation triggers materialization,
    # so each round costs ONE job (checkpoint + convergence check combined)
    cur = _small_star(edges.select("src", "dst")).localCheckpoint(eager=False)
    sig = _signature(cur)

    for _ in range(max_iterations):
        if sig[0] == 0:
            break
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        nsig = _signature(nxt)
        release_checkpoints(cur)
        cur = nxt
        if nsig == sig:
            break
        sig = nsig
        # star-forest early exit: if no dst is also a src the edge set is a
        # forest of stars, and small-star edges always point DOWNWARD
        # (dst = min(N(v) ∪ v) < v), so every star is rooted at its
        # component minimum — the fixpoint, one confirmation round early.
        # One cheap semi-join probe per round buys back the whole
        # large-star+small-star confirmation pass.
        nonstar = (
            nxt.join(nxt.select(F.col("src").alias("dst")), "dst", "left_semi")
            .limit(1)
            .count()
        )
        if nonstar == 0:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iterations} rounds")

    # At fixpoint every edge is (node, component-min); roots map to themselves.
    # No .distinct() on the root projection: the groupBy-min below dedups
    # anyway, so the extra exchange bought nothing.
    labels = cur.select(F.col("src").alias(id_col), F.col("dst").alias(component_col))
    roots = cur.select(F.col("dst").alias(id_col)).withColumn(
        component_col, F.col(id_col)
    )
    labels = labels.unionByName(roots).groupBy(id_col).agg(
        F.min(component_col).alias(component_col)
    )
    if vertices is not None:
        labels = (
            vertices.select(F.col(id_col)).join(labels, id_col, "left")
            .withColumn(component_col, F.coalesce(F.col(component_col), F.col(id_col)))
        )
    return labels
