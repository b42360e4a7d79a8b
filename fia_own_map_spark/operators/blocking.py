"""Stage 1 — blocking: normalized-name token combos -> phonetic keys ->
salted blocking-key edge list (SURVEY.md §2.3 J6, §4 skew notes).

Reference semantics: an inverted index {metaphone_key -> [place_id]}
(`Name_Matching_opt.py:108-113`) built per class bucket
(`Name_Matching_opt.py:158-183`). Here the index *is* the exploded
(id, block_key) DataFrame; class partitioning becomes a key prefix so one
distributed job covers all buckets (no manual splits — SURVEY.md §2.7 U1).

Skew (north_rule: "partitioning / shuffle / skew handled explicitly"):
blocking keys are Zipfian — a common surname token or a mega-owner forms a
mega-block, and pair generation is |B|² in block size. AQE's skew-join only
splits the *join*, not the pair blowup, so mega-blocks are handled here:

  * blocks with count > max_block_size are split into ceil(count/max) salted
    sub-blocks via ``pmod(xxhash64(id), n_salt)``;
  * each sub-block elects a representative (min id) and all representatives
    of one mega-block share an extra ``key#REP`` block, so transitive
    *connectivity* of the block is preserved exactly (salt-invariance is a
    tested invariant) while candidate pairs drop from |B|² to
    ~|B|·max_block_size;
  * dropped cross-sub-block pairs are counted in metrics, never silent
    (SURVEY.md §7.4.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fia_own_map_spark.config import EngineConfig
from fia_own_map_spark.functions.combos import exploded_metaphone_keys, with_blocking_fingerprints
from fia_own_map_spark.functions.normalize import normalize_name, tokens_from_normalized


def prepare_records(
    df: DataFrame,
    id_col: str = "url",
    owner1: str = "owner1",
    owner2: str = "owner2",
) -> DataFrame:
    """Add simple_owners (normalized name) + tokens + name_keys columns."""
    out = df.withColumn("simple_owners", normalize_name(owner1, owner2))
    out = out.withColumn("tokens", tokens_from_normalized("simple_owners"))
    return with_blocking_fingerprints(out, "tokens", "name_keys")


def blocking_keys(
    records: DataFrame,
    id_col: str = "url",
    class_col: str | None = "own_type",
    include_soundex: bool = False,
    tokens_col: str = "tokens",
) -> DataFrame:
    """(id, block_key) pairs; key is class-prefixed so clusters never span
    ownership classes (the reference matches within class buckets only,
    `Name_Matching_opt.py:158-227`).

    include_soundex adds the second key family from the north rule: one
    soundex key per name token (prefix ``SX:``), built-in JVM soundex —
    generous recall blocking meant to be pruned by similarity scoring
    (a metaphone-breaking typo usually keeps most tokens' soundex intact).
    """
    keys = exploded_metaphone_keys(records, id_col=id_col)
    if include_soundex:
        sx = (
            records.select(F.col(id_col), F.explode(tokens_col).alias("_tok"))
            .filter(F.length("_tok") > 1)
            .select(
                id_col,
                F.concat(F.lit("SX:"), F.soundex(F.col("_tok"))).alias("block_key"),
            )
            .distinct()
        )
        keys = keys.unionByName(sx)
    if class_col is not None:
        cls = records.select(id_col, F.col(class_col).cast("string").alias("_cls"))
        keys = keys.join(cls, id_col).withColumn(
            "block_key", F.concat_ws("|", "_cls", "block_key")
        ).drop("_cls")
    return keys


def block_stats(keys: DataFrame) -> DataFrame:
    """Per-key block sizes — drives mega-block detection and metrics."""
    return keys.groupBy("block_key").agg(F.count(F.lit(1)).alias("block_size"))


def salt_mega_blocks(
    keys: DataFrame,
    id_col: str = "url",
    cfg: EngineConfig = EngineConfig(),
) -> tuple[DataFrame, DataFrame]:
    """Return (salted_keys, mega_stats).

    salted_keys has the same (id, block_key) schema; mega-block rows are
    rewritten to ``key#<salt>`` sub-blocks plus ``key#REP`` representative
    rows. mega_stats (block_key, block_size, n_salt) is small by construction
    (only keys above the threshold) and is broadcast.
    """
    stats = block_stats(keys)
    mega = stats.filter(F.col("block_size") > cfg.max_block_size).withColumn(
        "n_salt", F.ceil(F.col("block_size") / cfg.max_block_size).cast("int")
    )
    # dropped-pair accounting (SURVEY §7.4.4 — silent truncation is a
    # correctness bug): similarity mode loses cross-sub-block pairs inside a
    # mega-block; exact mode loses nothing (REP keys preserve connectivity).
    b, s = F.col("block_size").cast("double"), F.col("n_salt").cast("double")
    sub = F.ceil(b / s)
    mega = mega.withColumn(
        "est_dropped_pairs",
        (b * (b - 1) / 2 - s * (sub * (sub - 1) / 2) - s * (s - 1) / 2).cast("long"),
    )
    annotated = keys.join(F.broadcast(mega), "block_key", "left")
    normal = annotated.filter(F.col("n_salt").isNull()).select(id_col, "block_key")

    salted = annotated.filter(F.col("n_salt").isNotNull()).withColumn(
        "salt", F.pmod(F.xxhash64(F.col(id_col)), F.col("n_salt")).cast("int")
    )
    sub_blocks = salted.select(
        id_col, F.concat_ws("#", "block_key", "salt").alias("block_key")
    )
    # representatives: min id per (key, salt) all share key#REP — preserves
    # transitive connectivity across sub-blocks with ≤ n_salt extra rows.
    reps = (
        salted.groupBy("block_key", "salt")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, F.concat_ws("#", "block_key", F.lit("REP")).alias("block_key"))
    )
    return normal.unionByName(sub_blocks).unionByName(reps), mega


def star_edges(keys: DataFrame, id_col: str = "url") -> DataFrame:
    """Spanning edges per block: (min_id_of_block, id) for every other id.

    For exact-key-equality scoring (reference parity,
    `Name_Matching_opt.py:78` — records match iff they share a key) a block
    of n records needs only n-1 edges to produce the identical connected
    components; this replaces the |B|² self-join entirely and is the scale
    path for the clustering job.
    """
    roots = keys.groupBy("block_key").agg(F.min(id_col).alias("src"))
    return (
        keys.join(roots, "block_key")
        .filter(F.col(id_col) != F.col("src"))
        .select("src", F.col(id_col).alias("dst"))
        .distinct()
    )


def candidate_pairs(keys: DataFrame, id_col: str = "url") -> DataFrame:
    """All within-block pairs (id_a < id_b), deduped across keys.

    Mega-blocks must be salted first (`salt_mega_blocks`) or this is |B|²;
    the equi self-join shuffles both sides on block_key and AQE handles any
    residual skew (`spark.sql.adaptive.skewJoin.enabled`).
    """
    left = keys.select(F.col("block_key"), F.col(id_col).alias("id_a"))
    right = keys.select(F.col("block_key"), F.col(id_col).alias("id_b"))
    return (
        left.join(right, "block_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
