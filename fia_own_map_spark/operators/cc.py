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

until a round leaves the edge set unchanged — O(log n) rounds. That
fixpoint is the only stop rule: there every component is a star rooted at
its minimum. An edge set with no ``dst`` that is also a ``src`` (a star
forest) is NOT necessarily the fixpoint, because one leaf can point at two
roots of the same component: after one round the path 1–3–4–5–6–2 is
{(3, 1), (3, 2), (4, 1), (5, 2), (6, 2)}, and stopping there splits it into
{1, 3, 4} and {2, 5, 6}.

Each round is two skew-safe groupBy+join min computations plus one distinct
(see _large_star for why NOT windows); lineage is truncated per round with
``localCheckpoint`` (on a production cluster: reliable checkpoint / Iceberg
iteration table, SURVEY.md §7.4.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fia_own_map_spark.session import release_checkpoints

# Rounds before connected_components gives up: O(log n) rounds suffice, and
# a 300-node path, the worst case for label propagation, takes 11.
MAX_ROUNDS = 50


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
) -> tuple[DataFrame, int]:
    """Return ((id, component), rounds) with component = min(id) of the
    component, and rounds the number of passes over the edge set (round 0's
    small-star included), each one Spark job.

    edges: (src, dst). vertices (optional): one column `id_col` holding ONE
    row per id (a key projection); vertices with no edges come back as
    singletons (component = own id). The vertex table is not deduplicated
    here: a duplicated id comes back as duplicated label rows.
    """
    # Round 0 is a small-star pass: its orient + self-loop filter + distinct
    # canonicalize ANY input (component-preserving by the Kiveris operator
    # property), and on star-shaped inputs — blocking's star_edges, the
    # engine's main producer — it performs the first real contraction,
    # where the alternating loop's opening large-star is a near-identity
    # pass (a star's members have no neighbor above them to re-point).
    # lazy localCheckpoint: the signature aggregation triggers materialization,
    # so each round costs ONE job (checkpoint + convergence check combined)
    cur = _small_star(edges.select("src", "dst")).localCheckpoint(eager=False)
    sig = _signature(cur)
    rounds = 1

    # The one stop rule: the edge set is empty, or a round left it
    # unchanged. Not "no dst is also a src": that star forest can still
    # give one leaf two roots of the same component (module docstring).
    while sig[0] > 0:
        if rounds > MAX_ROUNDS:
            raise RuntimeError(f"connected_components did not converge in {MAX_ROUNDS} rounds")
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        nsig = _signature(nxt)
        release_checkpoints(cur)
        cur, rounds = nxt, rounds + 1
        if nsig == sig:
            break
        sig = nsig

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
    return labels, rounds
