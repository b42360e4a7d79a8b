"""A small traced run of the batch pipeline: every Spark job carries the
label of a span. Takes about a minute (one cold pipeline pass)."""

import pytest

from perfbench import eventlog, tracing

ER_GROUPS = {
    "er_batch/records", "er_batch/block_keys", "er_batch/edges",
    "er_batch/clusters", "er_batch/clusters/cc",
}


@pytest.mark.slow
def test_every_job_of_a_traced_pipeline_is_labelled(tmp_path):
    from fia_own_map_spark.config import EngineConfig
    from fia_own_map_spark.plans.pipeline import run_pipeline
    from fia_own_map_spark.session import build_session
    from fia_own_map_spark.sources.checkpoint import CheckpointStore
    from fia_own_map_spark.sources.webpages import generate_web_pages

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = build_session(
        "perfbench-tests", master="local[2]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log_dir),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    assert spark.conf.get("spark.eventLog.dir") == str(log_dir)
    tracer = tracing.Tracer(spark.sparkContext)
    try:
        with tracer.span("input"):
            pages = spark.createDataFrame(generate_web_pages(n_pages=120, seed=3)[0])
        with tracer.span("er_batch"), tracing.er_stage_spans(tracer):
            clusters, _ = run_pipeline(
                spark, pages, EngineConfig(score_mode="similarity"),
                checkpoints=CheckpointStore(str(tmp_path / "ckpt"), "t"),
            )
        with tracer.span("check"):
            assert clusters.count() == 120
    finally:
        spark.stop()

    groups = eventlog.reduce_log(str(log_dir))
    assert groups.get(None, {}).get("jobs", 0) == 0, "unlabelled jobs"
    assert ER_GROUPS <= set(groups)
    assert all(groups[g]["jobs"] > 0 for g in ER_GROUPS)
    # the cc span is a child of the clusters stage span
    (cc,) = tracer.by_name("cc")
    assert cc.parent.name == "clusters"
    assert cc.parent.self_s == pytest.approx(cc.parent.wall_s - cc.wall_s)
