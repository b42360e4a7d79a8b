"""Plan shape of the two keyed Python stages: each runs ONCE, above its
dedup (metaphone: the fingerprint aggregate; scoring: the distinct pairs
`candidate_pairs` returns, joined to their names once). A filter on a
pandas UDF's output is pushed below `distinct` and inferred across
equi-joins, which re-runs the UDF over undeduplicated rows in extra stages;
these tests pin the mapInPandas boundary that prevents it. The
er_score_pairs contract query calls the same scoring kernel directly."""

import re

import pandas as pd

from fia_own_map_spark.config import EngineConfig
from fia_own_map_spark.functions.combos import (
    exploded_metaphone_keys,
    metaphone_keys_py,
    with_blocking_fingerprints,
)
from fia_own_map_spark.functions.similarity import (
    jaro_winkler,
    levenshtein_ratio_py,
    token_set_jaccard_py,
)
from fia_own_map_spark.operators.scoring import match_edges, score_pairs

_PYTHON_NODE = re.compile(r"\w*(EvalPython|InPandas|InArrow)$")


def _plan_nodes(df):
    """[(depth, node name, line)] of the executed plan's tree string."""
    nodes = []
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        m = re.match(r"^((?:   |:  )*)(\+- |:- )?(?:\*\(\d+\) )?(\w+)", line)
        if m is None:
            continue
        depth = len(m.group(1)) // 3 + (1 if m.group(2) else 0)
        nodes.append((depth, m.group(3), line))
    return nodes


def _subtree(nodes, i):
    depth = nodes[i][0]
    out = []
    for node in nodes[i + 1:]:
        if node[0] <= depth:
            break
        out.append(node)
    return out


def _one_python_node(nodes):
    """The index of the plan's only Python evaluation node."""
    python = [i for i, n in enumerate(nodes) if _PYTHON_NODE.match(n[1])]
    assert len(python) == 1, "\n".join(line for _, _, line in nodes)
    return python[0]


def _assert_one_python_stage_above(df, dedup_keys):
    """Exactly one Python evaluation node, with the dedup aggregate on
    ``dedup_keys`` below it and no Python node below that aggregate."""
    nodes = _plan_nodes(df)
    plan = "\n".join(line for _, _, line in nodes)
    python = _one_python_node(nodes)
    dedup = re.compile(
        r"HashAggregate\(keys=\[" + ", ".join(rf"{k}#\d+" for k in dedup_keys) + r"\]"
    )
    aggs = [i for i, n in enumerate(nodes) if dedup.search(n[2])]
    assert aggs, plan
    for i in aggs:
        assert not any(_PYTHON_NODE.match(n[1]) for n in _subtree(nodes, i)), plan
    assert any(dedup.search(n[2]) for n in _subtree(nodes, python)), plan


def test_metaphone_keys_run_one_python_stage_above_the_dedup(spark):
    names = {
        "u1": ["JOHN", "SMITH"],
        "u2": ["SMITH", "JOHN"],  # same fingerprint as u1
        "u3": ["CASCADE", "TIMBER", "HOLDINGS"],
        "u4": ["12345"],  # digits-only fingerprint: empty metaphone code
        "u5": ["JOHN", "SMITH"],
    }
    df = with_blocking_fingerprints(
        spark.createDataFrame(
            pd.DataFrame({"url": list(names), "tokens": list(names.values())})
        )
    )
    keys = exploded_metaphone_keys(df, id_col="url")
    _assert_one_python_stage_above(keys, ["_fp"])

    got = {(r["url"], r["block_key"]) for r in keys.collect()}
    want = {(u, k) for u, toks in names.items() for k in metaphone_keys_py(toks)}
    assert metaphone_keys_py(names["u4"]) == []
    assert got == want


def test_match_edges_run_one_python_stage_above_the_dedup(spark):
    names = {
        "a": "JOHN SMITH",
        "b": "JON SMITH",
        "c": "JOHN SMITH",
        "d": "CASCADE TIMBER HOLDINGS",
        "e": "ALPHA OMEGA",
        "f": "JON SMITH",
    }
    pairs = [("a", "b"), ("a", "c"), ("c", "f"), ("a", "d"), ("d", "e"), ("b", "f")]
    records = spark.createDataFrame(
        pd.DataFrame({"url": list(names), "simple_owners": list(names.values())})
    )
    cfg = EngineConfig(score_mode="similarity")
    edges = match_edges(
        score_pairs(spark.createDataFrame(pd.DataFrame(pairs, columns=["id_a", "id_b"])), records),
        cfg,
    )
    nodes = _plan_nodes(edges)
    plan = "\n".join(line for _, _, line in nodes)
    _one_python_node(nodes)
    # scored as the pairs come: no aggregate keyed on a name, and the
    # pairs ⋈ names ⋈ names subtree planned once, not once per consumer
    assert not any(
        re.search(r"Aggregate\(keys=\[[^\]]*name_[ab]#", line) for _, _, line in nodes
    ), plan
    for key in ("id_a", "id_b"):
        joins = [
            n for n in nodes
            if n[1].endswith("Join") and re.search(rf"\[{key}#\d+\], \[{key}#\d+\]", n[2])
        ]
        assert len(joins) == 1, plan

    def matches(x, y):
        return (
            jaro_winkler(x, y) >= cfg.jw_threshold
            or levenshtein_ratio_py(x, y) >= cfg.lev_ratio_threshold
            or token_set_jaccard_py(x.split(" "), y.split(" ")) >= cfg.jaccard_threshold
        )

    got = {(r["src"], r["dst"]) for r in edges.collect()}
    want = {(a, b) for a, b in pairs if matches(names[a], names[b])}
    assert ("a", "d") not in want and ("a", "c") in want
    assert got == want


def test_er_score_pairs_runs_the_one_scoring_kernel(spark, tmp_path):
    import __spark_entry__ as entrymod

    docs = pd.DataFrame({"doc_id": [0, 1, 2], "text": ["John Smith", "Jon Smith", None]})
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    nodes = _plan_nodes(entrymod.queries()["er_score_pairs"](spark, str(tmp_path)))
    plan = "\n".join(line for _, _, line in nodes)
    _one_python_node(nodes)
    assert not any(n[1] == "ArrowEvalPython" for n in nodes), plan
