"""Focused parity tests for the r8 optimization-round internals changes.

Every change this round must be output-identical to the pre-round code;
these tests pin the equivalences directly (the oracle contract pins them
end-to-end, but only at the call sites the contract exercises):

  * connected_components' labels on both edge producers the engine uses
    (star_edges, candidate-pair match edges) — round 0 is a small-star
    for every input, so no canonicalization flag exists anymore — and its
    one-row-per-vertex contract;
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


def _collect_labels(cc_result):
    labels, _ = cc_result
    return sorted((r["id"], r["component"]) for r in labels.collect())


_WANT = [
    ("d1", "d1"), ("d2", "d1"), ("d3", "d1"), ("d4", "d1"), ("d5", "d1"),
    ("d6", "d6"), ("d7", "d6"),
    ("d8", "d8"),  # keyless: a singleton labelled by itself
]


def _labels_match_deduplicated_vertices(spark, edges):
    """CC over a one-row-per-id vertex table gives the expected labels, the
    same as over that table explicitly deduplicated."""
    vertices = _docs(spark).select(F.col("url").alias("id"))
    got = _collect_labels(connected_components(edges, vertices=vertices))
    assert got == _WANT
    assert _collect_labels(
        connected_components(edges, vertices=vertices.distinct())
    ) == got


def test_cc_fast_paths_match_default_on_star_edges(spark):
    _labels_match_deduplicated_vertices(spark, star_edges(_keys(spark), "url"))


def test_cc_fast_paths_match_default_on_candidate_pair_edges(spark):
    pairs = candidate_pairs(_keys(spark), "url")
    _labels_match_deduplicated_vertices(
        spark, pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
    )


def test_cc_assume_unique_vertices_contract_documents_misuse(spark):
    """The vertex table must hold one row per id: CC does not deduplicate
    it, so a duplicated vertex comes back as duplicated label rows."""
    vertices = _docs(spark).select(F.col("url").alias("id"))
    dup_vertices = vertices.unionAll(vertices.filter(F.col("id").isin("d1", "d8")))
    got = _collect_labels(
        connected_components(star_edges(_keys(spark), "url"), vertices=dup_vertices)
    )
    assert got == sorted(_WANT + [("d1", "d1"), ("d8", "d8")])


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
