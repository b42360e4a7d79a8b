"""Stage 2 — pairwise scoring inside blocks (north_star stage 2).

Reference parity mode (`score_mode="exact"`): the reference scores pairs by
*exact equality of phonetic keys* (`Name_Matching_opt.py:78` — sharing any
Meta_name key IS the match), so every candidate pair is an edge with score
1.0 and the scale path skips pair materialization entirely (star edges).

Similarity mode (`score_mode="similarity"`, the north-star extension): join
candidate pairs back to the normalized name strings and compute Jaro-Winkler,
Levenshtein ratio and token-set Jaccard, all three in the fused vectorized
Python kernel (``similarity.similarity_scores_batch``), one Arrow round-trip.
``score_name_pairs`` is the engine's one scoring surface: the pipeline calls
it through ``score_pairs`` (below), the ``er_score_pairs`` contract query and
bench.py call it directly.

Scale design:
  * **No name-pair dedup**: the pipeline blocks distinct (bucket, name)
    nodes, so its distinct node pairs already are distinct name pairs;
    each is joined to its two names once and scored once.
  * The named pair table is round-robined to one partition per core
    (``session.per_core``) before the kernel — AQE's partition coalescing
    targets shuffle *bytes* and would otherwise under-parallelize a CPU-bound
    Python stage (few MB of strings can cost minutes of CPU).
  * The kernel runs in ``mapInPandas``: Catalyst would push the
    ``match_edges`` threshold (a filter on UDF outputs) below the pair
    dedup and re-run a pandas UDF in extra stages; it pushes nothing
    through mapInPandas.
  * Single pass: no count() of the scored table; the candidate-pair count is
    taken from the cheap pre-UDF pair table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from fia_own_map_spark.config import EngineConfig
from fia_own_map_spark.functions.similarity import similarity_scores_batch
from fia_own_map_spark.session import per_core


def _score_batches(batches):
    for pdf in batches:
        scores = similarity_scores_batch(
            pdf["name_a"].to_numpy(dtype=object), pdf["name_b"].to_numpy(dtype=object)
        )
        yield pd.concat([pdf, scores], axis=1)


def score_name_pairs(pairs: DataFrame) -> DataFrame:
    """Append jw / lev_ratio / jaccard to a frame with ``name_a`` / ``name_b``
    columns, through the one ``mapInPandas`` scoring kernel. Every row is
    kept; a row with a null name gets null scores. No dedup and no
    repartition: no caller dedups name pairs; ``score_pairs`` adds ``per_core``.
    """
    # every field nullable, like a DDL schema string: what a Python stage
    # returns carries no non-null guarantee for the optimizer to rely on
    schema = StructType(
        [StructField(f.name, f.dataType) for f in pairs.schema]
        + [StructField(c, DoubleType()) for c in ("jw", "lev_ratio", "jaccard")]
    )
    return pairs.mapInPandas(_score_batches, schema)


def score_pairs(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str = "url",
    name_col: str = "simple_owners",
) -> DataFrame:
    """Attach jw / lev_ratio / jaccard scores to candidate pairs.

    ``pairs``: distinct (id_a, id_b), as ``candidate_pairs`` returns them.
    Returns (id_a, id_b, jw, lev_ratio, jaccard).
    """
    names = records.select(F.col(id_col).alias("_id"), F.col(name_col).alias("_name"))
    with_names = (
        pairs.join(
            names.select(F.col("_id").alias("id_a"), F.col("_name").alias("name_a")), "id_a"
        ).join(
            names.select(F.col("_id").alias("id_b"), F.col("_name").alias("name_b")), "id_b"
        )
    )
    return score_name_pairs(per_core(with_names)).select(
        "id_a", "id_b", "jw", "lev_ratio", "jaccard"
    )


def match_edges(scored: DataFrame, cfg: EngineConfig = EngineConfig()) -> DataFrame:
    """Threshold scored pairs into match edges (src, dst)."""
    keep = (
        (F.col("jw") >= cfg.jw_threshold)
        | (F.col("lev_ratio") >= cfg.lev_ratio_threshold)
        | (F.col("jaccard") >= cfg.jaccard_threshold)
    )
    return scored.filter(keep).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
