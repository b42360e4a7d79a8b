"""Focused parity tests for the r8 optimization-round internals changes.

Every change this round must be output-identical to the pre-round code;
these tests pin the equivalences directly (the oracle contract pins them
end-to-end, but only at the call sites the contract exercises):

  * connected_components' assume_unique_vertices fast path == the
    defensive default path, on both edge producers the engine uses
    (star_edges, candidate-pair match edges) — round 0 is a small-star
    for every input, so no canonicalization flag exists anymore;
  * minhash_lsh_pairs' slim-pair plan == the documented unique-output
    contract on unique-id input.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fia_own_map_spark.operators import dedup
from fia_own_map_spark.operators.blocking import candidate_pairs, star_edges
from fia_own_map_spark.operators.cc import connected_components


def _docs(spark):
    rows = [
        # two blocks sharing member d3 -> one component {d1,d2,d3,d4,d5};
        # d6/d7 a separate pair; d8 keyless singleton
        ("d1", ["k1"]), ("d2", ["k1"]), ("d3", ["k1", "k2"]),
        ("d4", ["k2"]), ("d5", ["k2"]), ("d6", ["k3"]), ("d7", ["k3"]),
        ("d8", []),
    ]
    return spark.createDataFrame(rows, "url string, ks array<string>")


def _keys(spark):
    return _docs(spark).select("url", F.explode("ks").alias("block_key"))


def _collect_labels(df):
    return sorted((r["id"], r["component"]) for r in df.collect())


def test_cc_fast_paths_match_default_on_star_edges(spark):
    edges = star_edges(_keys(spark), "url")
    vertices = _docs(spark).select(F.col("url").alias("id"))
    base = connected_components(edges, vertices=vertices)
    fast = connected_components(
        edges, vertices=vertices, assume_unique_vertices=True,
    )
    assert _collect_labels(fast) == _collect_labels(base)
    # keyless d8 stays a singleton labelled by itself
    assert ("d8", "d8") in _collect_labels(fast)


def test_cc_fast_paths_match_default_on_candidate_pair_edges(spark):
    pairs = candidate_pairs(_keys(spark), "url")
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    vertices = _docs(spark).select(F.col("url").alias("id"))
    base = connected_components(edges, vertices=vertices)
    fast = connected_components(
        edges, vertices=vertices, assume_unique_vertices=True,
    )
    assert _collect_labels(fast) == _collect_labels(base)


def test_cc_assume_unique_vertices_contract_documents_misuse(spark):
    """The flag is a caller PROMISE: duplicated vertices duplicate label
    rows (this test pins the misuse mode so a future 5th call site checks
    its producer instead of cargo-culting the flag)."""
    edges = star_edges(_keys(spark), "url")
    dup_vertices = _docs(spark).select(F.col("url").alias("id")).unionAll(
        _docs(spark).select(F.col("url").alias("id")).limit(2)
    )
    base = connected_components(edges, vertices=dup_vertices)  # distincts
    fast = connected_components(
        edges, vertices=dup_vertices, assume_unique_vertices=True,
    )
    assert len(_collect_labels(base)) == 8
    assert len(_collect_labels(fast)) == 10  # promise violated -> dup rows


def test_minhash_unique_pairs_on_unique_ids(spark):
    rows = [
        (1, "the quick brown fox jumps"),
        (2, "the quick brown fox jumps"),
        (3, "the quick brown fox leaps"),
        (4, "something else entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.minhash_lsh_pairs(
        df, n_hashes=8, n_bands=4, shingle_k=1, jaccard_threshold=0.5
    ).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in out]
    assert len(pairs) == len(set(pairs))  # documented uniqueness contract
    assert (1, 2) in pairs
    assert all(a < b for a, b in pairs)
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert exact[(1, 2)] == 1.0
