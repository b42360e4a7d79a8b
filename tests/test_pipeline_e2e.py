"""End-to-end cluster equivalence (FIXTURES.md §6 / BASELINE.json targets):

  * pairwise F1 >= 0.99 vs the oracle fixpoint (exact parity mode gives 1.0)
  * partition equality (label-invariant)
  * permutation invariance (the reference is order-dependent at
    `Name_Matching_opt.py:194`; the rebuild must NOT be)
  * salt invariance (mega-block salting must not change the partition)
  * resume idempotence from checkpoints, and no stale reuse: a config or
    process change, a crash at any stage boundary and an input file
    rewritten in place all resume correctly
  * stage 3's job count, and release of its caches when a stage raises
  * every job of a run carries its stage name, or ``qa``, as its description
"""

import os
import shutil
import subprocess
import sys

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


STAGES = ["records", "block_keys", "edges", "clusters"]


def _snapshot_ids(store):
    return {s: store.read_metrics(s)["snapshot_id"] for s in STAGES}


def test_config_change_recomputes_downstream_stages(spark, e2e, tmp_path):
    """An exact run, then a similarity run on the same store: the second
    returns a fresh similarity run's clusters, reusing only the stages the
    score mode does not reach, and keeping both generations in history."""
    _, sdf, store, *_ = e2e
    shutil.copytree(store.root, os.path.join(str(tmp_path), "e2e"))
    rerun = CheckpointStore(str(tmp_path), "e2e")
    before = _snapshot_ids(rerun)
    cfg = EngineConfig(score_mode="similarity")
    clusters, metrics = run_pipeline(spark, sdf, cfg, checkpoints=rerun)
    fresh, _ = run_pipeline(
        spark, sdf, cfg, checkpoints=CheckpointStore(str(tmp_path), "fresh")
    )
    got = clusters.select("url", "cluster_id").toPandas()
    want = fresh.select("url", "cluster_id").toPandas()
    assert _partition_signature(got) == _partition_signature(want)
    assert metrics["stages"]["edges"]["pairs_scored"] > 0
    after = _snapshot_ids(rerun)
    assert {s: after[s] == before[s] for s in STAGES} == {
        "records": True, "block_keys": True, "edges": False, "clusters": False,
    }
    for s in ("edges", "clusters"):
        assert [h["snapshot_id"] for h in rerun.history(s)] == [before[s], after[s]]


def test_crash_at_each_stage_boundary_resumes_identically(spark, e2e, tmp_path):
    """Kill the run after each stage's parquet write, before its manifest
    flip, in turn: every resume ignores the orphan dir, and the final
    clusters equal an uninterrupted run's. A crashed recompute of a
    committed stage leaves an orphan next to it, which expiry collects."""
    _, sdf, _, *_, pred = e2e
    store = CheckpointStore(str(tmp_path), "crash")
    commit = store._commit

    def run(cfg, crash_at=None):
        def crashing_commit(stage, manifest):
            if stage == crash_at:
                raise RuntimeError(f"injected crash after the {stage} write")
            commit(stage, manifest)

        store._commit = crashing_commit
        if crash_at is None:
            return run_pipeline(spark, sdf, cfg, checkpoints=store)[0]
        with pytest.raises(RuntimeError, match="injected crash"):
            run_pipeline(spark, sdf, cfg, checkpoints=store)

    def assert_pred(clusters):
        got = clusters.select("url", "cluster_id").toPandas()
        assert got.sort_values("url").reset_index(drop=True).equals(
            pred.sort_values("url").reset_index(drop=True)
        )

    for stage in STAGES:
        run(EngineConfig(), crash_at=stage)
        assert os.listdir(os.path.join(store.root, stage)) == ["snap-0"]
        assert not store.exists(stage)
    assert_pred(run(EngineConfig()))
    assert _snapshot_ids(store) == dict.fromkeys(STAGES, 0)

    run(EngineConfig(score_mode="similarity"), crash_at="edges")
    assert sorted(os.listdir(os.path.join(store.root, "edges"))) == ["snap-0", "snap-1"]
    assert_pred(run(EngineConfig()))
    assert _snapshot_ids(store) == dict.fromkeys(STAGES, 0)
    assert store.expire_snapshots("edges", keep=1) == []
    assert os.listdir(os.path.join(store.root, "edges")) == ["snap-0"]


def _job_descriptions(sc) -> dict:
    """Job id -> description (None if unset) of every job in the status
    store, once the listener bus has delivered all events."""
    jvm_sc = sc._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty()
    jobs = jvm_sc.statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        description = jobs.apply(i).description()
        out[jobs.apply(i).jobId()] = description.get() if description.isDefined() else None
    return out


def test_stage_jobs_carry_stage_description(spark, e2e, tmp_path):
    """run_pipeline labels each stage's jobs with the stage name and its
    closing QA collect with ``qa``, so no job of a run is unlabelled, and
    puts the caller's description back afterwards."""
    _, sdf, store, *_ = e2e
    shutil.copytree(store.root, os.path.join(str(tmp_path), "e2e"))
    rerun = CheckpointStore(str(tmp_path), "e2e")
    sc = spark.sparkContext
    seen = []
    write = rerun.write

    def recording_write(stage, df, **kwargs):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return write(stage, df, **kwargs)

    rerun.write = recording_write
    before = max(_job_descriptions(sc), default=-1)
    sc.setJobDescription("caller")
    try:
        run_pipeline(spark, sdf, EngineConfig(), checkpoints=rerun)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert seen == STAGES
    run_jobs = [d for j, d in _job_descriptions(sc).items() if j > before]
    assert set(run_jobs) == {*STAGES, "qa"}, run_jobs


def test_cross_process_resume_follows_the_config(tmp_path):
    """jobs/run_er.py in fresh processes on one parquet input and one
    checkpoint root: exact, then similarity, then similarity again. The
    similarity run must not return the exact run's stages, and the repeat
    reuses all four snapshots (the input is identified by its files, which
    a new process sees the same way)."""
    from fia_own_map_spark.sources.webpages import generate_web_pages

    pages, _ = generate_web_pages(n_pages=400, seed=5)
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    src = tmp_path / "pages.parquet"
    pages.to_parquet(src, index=False)
    repo = os.path.join(os.path.dirname(__file__), "..")
    ckpt = str(tmp_path / "ckpt")

    def run(mode, out):
        r = subprocess.run(
            [
                sys.executable, os.path.join(repo, "jobs", "run_er.py"),
                "--input", str(src), "--output", str(tmp_path / out),
                "--checkpoints", ckpt, "--mode", mode, "--local", "2",
            ],
            capture_output=True, text=True, cwd=str(tmp_path),
            env=dict(os.environ, PYTHONPATH=os.path.abspath(repo)),
        )
        assert r.returncode == 0, r.stderr[-3000:]
        return _partition_signature(pd.read_parquet(tmp_path / out))

    store = CheckpointStore(ckpt, "er_job")
    exact = run("exact", "out_exact")
    exact_ids = _snapshot_ids(store)
    similarity = run("similarity", "out_sim")
    sim_ids = _snapshot_ids(store)
    assert similarity != exact
    assert sim_ids["records"] == exact_ids["records"]
    assert sim_ids["clusters"] != exact_ids["clusters"]
    assert run("similarity", "out_sim2") == similarity
    assert _snapshot_ids(store) == sim_ids
    assert len(store.history("clusters")) == 2


def test_rewritten_input_file_is_not_reused(spark, tmp_path):
    """A parquet file rewritten in place under the same name is a new input:
    the rerun recomputes `records` instead of returning the old pages'
    clusters (the input identity carries each file's length and
    modification time, not only its name)."""
    from fia_own_map_spark.sources.readers import read_web_pages
    from fia_own_map_spark.sources.webpages import generate_web_pages

    src = tmp_path / "pages"
    src.mkdir()
    store = CheckpointStore(str(tmp_path / "ckpt"), "rewrite")

    def run(seed):
        pages, _ = generate_web_pages(n_pages=60, seed=seed)
        pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
        pages.to_parquet(src / "part-0.parquet", index=False)
        clusters, _ = run_pipeline(
            spark, read_web_pages(spark, str(src)), EngineConfig(), checkpoints=store
        )
        got = sorted(r["url"] for r in clusters.select("url").collect())
        return got, sorted(pages["url"])

    got, want = run(1)
    assert got == want
    got, want = run(2)
    assert got == want
    assert [h["snapshot_id"] for h in store.history("records")] == [0, 1]


def test_differently_filtered_input_is_not_reused(spark, tmp_path):
    """Two filters over one unchanged parquet dir are two inputs: the second
    run recomputes `records` and returns its own urls (the input identity
    carries a digest of the canonicalized plan, not only the file
    statuses)."""
    from fia_own_map_spark.sources.readers import read_web_pages
    from fia_own_map_spark.sources.webpages import generate_web_pages

    src = tmp_path / "pages"
    src.mkdir()
    pages, _ = generate_web_pages(n_pages=60, seed=3)
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    pages.to_parquet(src / "part-0.parquet", index=False)
    pivot = sorted(pages["url"])[30]
    store = CheckpointStore(str(tmp_path / "ckpt"), "filtered")

    def run(keep):
        clusters, _ = run_pipeline(
            spark, read_web_pages(spark, str(src)).filter(keep), EngineConfig(),
            checkpoints=store,
        )
        return sorted(r["url"] for r in clusters.select("url").collect())

    assert run(F.col("url") < pivot) == sorted(u for u in pages["url"] if u < pivot)
    assert run(F.col("url") >= pivot) == sorted(u for u in pages["url"] if u >= pivot)
    assert [h["snapshot_id"] for h in store.history("records")] == [0, 1]
