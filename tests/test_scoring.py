"""Stage-2 scoring: similarity measures + similarity-mode pipeline."""

import pytest
from pyspark.sql import functions as F

from fia_own_map_spark.config import EngineConfig
from fia_own_map_spark.functions.similarity import jaro_winkler, levenshtein_ratio_py
from fia_own_map_spark.operators.scoring import score_name_pairs
from fia_own_map_spark.plans.pipeline import run_pipeline
from fia_own_map_spark.sources.checkpoint import CheckpointStore
from fia_own_map_spark.testing.oracle import oracle_clusters, pairwise_prf


def test_jaro_winkler_known_values():
    assert jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-4)
    assert jaro_winkler("DWAYNE", "DUANE") == pytest.approx(0.84, abs=1e-2)
    assert jaro_winkler("DIXON", "DICKSONX") == pytest.approx(0.8133, abs=1e-3)
    assert jaro_winkler("SAME", "SAME") == 1.0
    assert jaro_winkler("ABC", "XYZ") == 0.0


def test_spark_similarity_matches_py(spark):
    """The one scoring surface (score_name_pairs, the mapInPandas kernel)
    against the scalar references: every row kept, null names -> null
    scores."""
    pairs = [
        ("JOHN SMITH", "JON SMITH"),
        ("CASCADE HOLDINGS", "CASCADE HOLDING"),
        ("ALPHA", "OMEGA"),
        ("", "X"),
        ("", ""),
        ("ACME TRUST", "ACME TRUST"),
        (None, "X"),
    ]
    sdf = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i int, name_a string, name_b string"
    )
    scored = score_name_pairs(sdf)
    null_rows = scored.filter(
        F.col("jw").isNull() & F.col("lev_ratio").isNull() & F.col("jaccard").isNull()
    )
    assert [r.i for r in null_rows.collect()] == [6]
    got = scored.orderBy("i").toPandas()
    assert got["i"].tolist() == list(range(len(pairs)))
    for i, (a, b) in enumerate(pairs):
        row = got.iloc[i]
        assert (row["name_a"], row["name_b"]) == (a, b)
        if a is None:
            continue
        assert row["jw"] == pytest.approx(jaro_winkler(a, b), abs=1e-12)
        assert row["lev_ratio"] == pytest.approx(levenshtein_ratio_py(a, b), abs=1e-12)
        sa, sb = set(a.split(" ")), set(b.split(" "))
        want_jc = len(sa & sb) / len(sa | sb) if (sa | sb) else 1.0
        assert row["jaccard"] == pytest.approx(want_jc, abs=1e-12)
    # strcmp95 empty-before-equality: two empty names score jw 0.0
    assert tuple(got.iloc[4][["jw", "lev_ratio", "jaccard"]]) == (0.0, 1.0, 1.0)
    assert tuple(got.iloc[5][["jw", "lev_ratio", "jaccard"]]) == (1.0, 1.0, 1.0)


def test_similarity_mode_pipeline(spark, tmp_path):
    """Similarity mode scores all within-block pairs; with near-1 thresholds
    it refines (never coarsens) the exact-mode partition, and with generous
    thresholds it should stay close to the fixpoint oracle on clean data."""
    from fia_own_map_spark.sources.webpages import generate_web_pages

    pages, _ = generate_web_pages(n_pages=800, seed=11)
    sdf = spark.createDataFrame(pages)
    store = CheckpointStore(str(tmp_path), "sim")
    cfg = EngineConfig(score_mode="similarity", jw_threshold=0.85,
                       jaccard_threshold=0.5, lev_ratio_threshold=0.75)
    clusters, metrics = run_pipeline(spark, sdf, cfg, checkpoints=store)
    assert metrics["stages"]["edges"]["pairs_scored"] > 0
    pred = clusters.select("url", "cluster_id").toPandas()

    records = store.read(spark, "records").select(
        "url", "owner1", "owner2", "own_type", "initial_class", "comb_addr"
    ).toPandas()
    golden = oracle_clusters(records)
    prf = pairwise_prf(pred, golden)
    # similarity scoring is a refinement of key-equality blocking: precision
    # against the fixpoint stays 1.0-ish; recall dips only where phonetic-equal
    # names are textually dissimilar.
    assert prf["precision"] >= 0.99, prf
    assert prf["recall"] >= 0.90, prf
