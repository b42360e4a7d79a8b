"""Connected components: correctness vs a trivial union-find, determinism."""

import random

import pandas as pd

from fia_own_map_spark.operators.blocking import star_edges
from fia_own_map_spark.operators.cc import connected_components
from fia_own_map_spark.testing.oracle import _UnionFind


def _oracle_cc(edge_list, vertices):
    uf = _UnionFind()
    for v in vertices:
        uf.find(v)
    for a, b in edge_list:
        uf.union(a, b)
    comp = {}
    for v in vertices:
        comp.setdefault(uf.find(v), []).append(v)
    out = {}
    for members in comp.values():
        lab = min(members)
        for m in members:
            out[m] = lab
    return out


def _cc_matches_oracle(spark, edf, edges, vertices):
    vdf = spark.createDataFrame(pd.DataFrame({"id": vertices}))
    labels, _ = connected_components(edf, vertices=vdf)
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert got == _oracle_cc(edges, vertices)


def test_cc_matches_union_find(spark):
    rng = random.Random(42)
    vertices = [f"v{i:04d}" for i in range(500)]
    edges = [(rng.choice(vertices), rng.choice(vertices)) for _ in range(400)]
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    _cc_matches_oracle(spark, edf, edges, vertices)

    # After one round the path n1-n3-n4-n5-n6-n2 is a star forest in which
    # n3 points at two roots, n1 and n2: a stop there split it into
    # {n1,n3,n4} and {n2,n5,n6}. Each shape runs alone, since in a union
    # with other graphs the whole edge set is no star forest at that round.
    path = [("n1", "n3"), ("n3", "n4"), ("n4", "n5"), ("n5", "n6"), ("n2", "n6")]
    vertices = [f"n{i}" for i in range(1, 7)]
    edf = spark.createDataFrame(pd.DataFrame(path, columns=["src", "dst"]))
    _cc_matches_oracle(spark, edf, path, vertices)
    # five chained two-member blocks: star_edges emits that same path
    keys = spark.createDataFrame(
        [(u, f"b{i}") for i, block in enumerate(path) for u in block],
        "url string, block_key string",
    )
    _cc_matches_oracle(spark, star_edges(keys, "url"), path, vertices)


def test_cc_chain_converges_logarithmically(spark):
    # a 300-long path is the worst case for plain label propagation;
    # large-star/small-star must converge well under the round limit
    n = 300
    edges = [(f"n{i:05d}", f"n{i+1:05d}") for i in range(n - 1)]
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    labels, rounds = connected_components(edf)
    labels = labels.collect()
    comps = {r["component"] for r in labels}
    assert comps == {"n00000"}
    assert len(labels) == n
    assert rounds <= 15


def test_cc_empty_edges(spark):
    vdf = spark.createDataFrame(pd.DataFrame({"id": ["a", "b"]}))
    edf = spark.createDataFrame([], "src string, dst string")
    labels, _ = connected_components(edf, vertices=vdf)
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert got == {"a": "a", "b": "b"}
