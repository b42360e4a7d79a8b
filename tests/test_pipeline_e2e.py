"""End-to-end cluster equivalence (FIXTURES.md §6 / BASELINE.json targets):

  * pairwise F1 >= 0.99 vs the oracle fixpoint (exact parity mode gives 1.0)
  * partition equality (label-invariant)
  * permutation invariance (the reference is order-dependent at
    `Name_Matching_opt.py:194`; the rebuild must NOT be)
  * salt invariance (mega-block salting must not change the partition)
  * resume idempotence from checkpoints
  * stage 3's job count, and release of its caches when a stage raises
"""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fia_own_map_spark.config import EngineConfig
from fia_own_map_spark.plans.pipeline import run_pipeline
from fia_own_map_spark.sources.checkpoint import CheckpointStore
from fia_own_map_spark.testing.oracle import oracle_clusters, pairwise_prf


def _partition_signature(df: pd.DataFrame) -> set[frozenset]:
    return {
        frozenset(g)
        for _, g in df.groupby("cluster_id")["url"]
    }


@pytest.fixture(scope="module")
def e2e(spark, tmp_path_factory):
    from fia_own_map_spark.sources.webpages import generate_web_pages

    pages, truth = generate_web_pages(n_pages=1500, seed=42)
    sdf = spark.createDataFrame(pages)
    store = CheckpointStore(str(tmp_path_factory.mktemp("ckpt")), "e2e")
    clusters, metrics = run_pipeline(spark, sdf, EngineConfig(), checkpoints=store)
    records = store.read(spark, "records").select(
        "url", "owner1", "owner2", "own_type", "initial_class", "comb_addr"
    ).toPandas()
    golden = oracle_clusters(records)
    pred = clusters.select("url", "cluster_id").toPandas()
    return pages, sdf, store, clusters, metrics, records, golden, pred


def test_pairwise_f1(e2e):
    *_, golden, pred = e2e
    prf = pairwise_prf(pred, golden)
    assert prf["f1"] >= 0.99, prf
    # exact parity mode reproduces the fixpoint exactly
    assert prf["f1"] == 1.0, prf


def test_partition_equality(e2e):
    *_, golden, pred = e2e
    assert _partition_signature(pred) == _partition_signature(golden)


def test_row_count_preserved_and_urls_unique(e2e):
    pages, _, _, clusters, metrics, *_ = e2e
    assert metrics["rows_in"] == metrics["rows_out"] == len(pages)
    n = clusters.count()
    assert clusters.select("url").distinct().count() == n


def test_unknowns_are_singletons(e2e):
    _, _, _, clusters, *_ = e2e
    bad = (
        clusters.filter(F.col("own_type") == -99)
        .filter(F.col("cluster_id") != F.col("url"))
        .count()
    )
    assert bad == 0


def test_permutation_invariance(spark, e2e, tmp_path):
    pages, _, _, _, _, _, golden, pred = e2e
    shuffled = pages.sample(frac=1.0, random_state=99).reset_index(drop=True)
    store = CheckpointStore(str(tmp_path), "perm")
    clusters2, _ = run_pipeline(
        spark, spark.createDataFrame(shuffled), EngineConfig(), checkpoints=store
    )
    pred2 = clusters2.select("url", "cluster_id").toPandas()
    assert _partition_signature(pred2) == _partition_signature(pred)


def test_salt_invariance(spark, e2e, tmp_path):
    """Forcing aggressive mega-block salting must not change the partition
    (connectivity-preserving REP keys, SURVEY.md §7.4.4)."""
    pages, sdf, _, _, _, _, _, pred = e2e
    store = CheckpointStore(str(tmp_path), "salted")
    cfg = EngineConfig(max_block_size=10)
    clusters2, metrics2 = run_pipeline(spark, sdf, cfg, checkpoints=store)
    assert metrics2["stages"]["block_keys"]["mega_blocks"] > 0
    pred2 = clusters2.select("url", "cluster_id").toPandas()
    assert _partition_signature(pred2) == _partition_signature(pred)


def test_resume_idempotence(spark, e2e):
    pages, sdf, store, _, _, _, _, pred = e2e
    clusters2, metrics2 = run_pipeline(spark, sdf, EngineConfig(), checkpoints=store)
    pred2 = clusters2.select("url", "cluster_id").toPandas()
    assert pred2.sort_values("url").reset_index(drop=True).equals(
        pred.sort_values("url").reset_index(drop=True)
    )


def _copy_upstream_stages(store, root):
    """A store holding ``store``'s records, block_keys and edges, so a run
    recomputes only stage 3."""
    shutil.copytree(store.root, os.path.join(root, "e2e"))
    rerun = CheckpointStore(root, "e2e")
    rerun.invalidate("clusters")
    return rerun


def test_stage3_write_reads_cached_record_tables(spark, e2e, tmp_path):
    """Stage 3 nests three groupBy + join-backs (min(url) 2 reads, address
    refinement 3, cluster_size 2). Without the two cached record tables the
    write plan carries 2 x 3 x 2 = 12 copies of the CC-labels x records
    subtree: 61 jobs on this fixture, against 23 with the caches."""
    _, sdf, store, *_ = e2e
    rerun = _copy_upstream_stages(store, str(tmp_path))
    sc = spark.sparkContext
    group = f"stage3-write-{tmp_path.name}"
    write = rerun.write

    def grouped_write(stage, df, **kwargs):
        if stage != "clusters":
            return write(stage, df, **kwargs)
        sc.setJobGroup(group, group)
        try:
            return write(stage, df, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    rerun.write = grouped_write
    run_pipeline(spark, sdf, EngineConfig(), checkpoints=rerun)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 30, n_jobs
    pred, pred2 = e2e[-1], rerun.read(spark, "clusters").select("url", "cluster_id").toPandas()
    assert pred2.sort_values("url").reset_index(drop=True).equals(
        pred.sort_values("url").reset_index(drop=True)
    )


def test_failed_stage_releases_cached_tables(spark, e2e, tmp_path):
    """A stage that raises must leave nothing pinned in the session: the
    run's persisted tables and the CC labels' checkpoint are released."""
    _, sdf, store, *_ = e2e
    rerun = _copy_upstream_stages(store, str(tmp_path))
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    write = rerun.write

    def failing_write(stage, df, **kwargs):
        if stage != "clusters":
            return write(stage, df, **kwargs)
        df.write.format("noop").mode("overwrite").save()  # builds the caches
        raise RuntimeError("injected stage-3 failure")

    rerun.write = failing_write
    with pytest.raises(RuntimeError, match="injected"):
        run_pipeline(spark, sdf, EngineConfig(), checkpoints=rerun)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= before
    assert not rerun.exists("clusters")
