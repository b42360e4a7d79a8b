"""bench.py's bookkeeping: kernel level derivation, the scaling block,
BASELINE.md claims and incremental emission — all pure python, no Spark
session needed."""

from __future__ import annotations

import json
import os

import bench


def _k(cores, pps):
    return {"cores": cores, "pairs": 100000, "matches": 5, "wall_s": 100000 / pps,
            "pairs_per_sec": pps}


def _rounds(*pairs):
    return [(_k(1, lo), _k(4, hi)) for lo, hi in pairs]


def _result(scaling):
    q = {"cold_s": 2.0, "wall_s": 1.0, "wall_s_min": 0.9, "wall_s_max": 1.2, "reps": 3,
         "jobs": 4.0, "tasks": 12.0, "executor_run_s": 3.1, "executor_cpu_s": 2.5,
         "python_init_s": 0.4, "python_run_s": 1.7}
    queries = {name: dict(q) for name in bench.HEADLINE}
    queries["er_cluster_documents"]["wall_s"] = 8.07
    return {
        "host": {"nproc": 4, "mem_gib": 15.7, "spark": "4.1.2", "pyspark": "4.1.2",
                 "python": "3.11.7", "java": "17"},
        "sf": "0.1", "value": 19.07, "value_cold_total": 30.0, "elapsed_s": 1500.0,
        "ledger": {"queries": queries, "jobs": 300, "job_coverage": 1.0},
        "scaling": scaling,
        "ann_recall_at_10": {"ann_ivf_lloyd_topk": 0.8, "ann_lsh_multi_topk": 0.6,
                             "ivf_lloyd_frac": 0.1, "lsh_multi_frac": 0.2},
        "codec": {"codec_images_per_sec": 400.0, "codec_px_per_sec": 3.7e6},
    }


def test_kernel_levels_follow_nproc(monkeypatch):
    assert bench.kernel_levels(4) == (1, 4)
    assert bench.kernel_levels(32) == (8, 32)
    assert bench.kernel_levels(6) == (1, 4)  # the pair stays N -> 4N
    assert bench.kernel_levels(2) is None

    def no_run(*args):
        raise AssertionError("a skipped pair must not build or run anything")

    monkeypatch.setattr(bench, "_pinned_run", no_run)
    assert "skipped" in bench.run_scaling("/nonexistent", 2)


def test_assemble_full_computes_efficiencies():
    """efficiency is the median of the per-round ratios, not a ratio of
    best-of legs; every round is reported."""
    rounds = _rounds((100_000.0, 360_000.0), (110_000.0, 330_000.0), (90_000.0, 342_000.0))
    s = bench.assemble_scaling(1, 4, rounds, {"pps_lo": 1.0, "pps_hi": 3.6, "efficiency": 0.9})
    effs = [0.9, 0.75, 0.95]
    assert [r["efficiency"] for r in s["rounds"]] == effs
    assert s["efficiency"] == 0.9
    assert (s["efficiency_min"], s["efficiency_max"]) == (0.75, 0.95)
    assert s["efficiency_vs_kernel_mp_ceiling"] == 1.0
    assert s["pairs"] == 100000 and (s["lo"], s["hi"]) == (1, 4)
    json.dumps(s)  # must be serializable as emitted


def test_baseline_md_full_and_partial(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    scaling = bench.assemble_scaling(1, 4, _rounds((100_000.0, 360_000.0)))
    bench.write_baseline_md(_result(scaling))
    md = open(tmp_path / "BENCH" / "BASELINE.md").read()
    assert "4 CPUs, 15.7 GiB" in md and "Spark 4.1.2" in md and "1500.0s" in md
    for name in bench.HEADLINE:
        assert f"`{name}`" in md
    assert "local[1] -> local[4]" in md and "meets the 0.8 target" in md
    assert "8.07s, which does NOT meet" in md
    assert "ANN quality" in md and "400.0 images/s" in md
    # a host too small for the pair: the md says why instead of raising
    bench.write_baseline_md(_result({"skipped": "2 CPU(s): too few"}))
    md = open(tmp_path / "BENCH" / "BASELINE.md").read()
    assert "not measured" in md and "2 CPU(s): too few" in md


def test_baseline_md_regression_claim_follows_numbers(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    scaling = bench.assemble_scaling(1, 4, _rounds((100_000.0, 280_000.0)))
    assert scaling["efficiency"] == 0.7
    bench.write_baseline_md(_result(scaling))
    md = open(tmp_path / "BENCH" / "BASELINE.md").read()
    assert "`0.7`" in md and "below the 0.8 target" in md
    assert "meets the 0.8 target" not in md


def test_emit_writes_superset_lines(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(bench, "RESULT", {"metric": "headline_suite_e2e",
                                          "value": None})
    bench.emit("big_pair")
    bench.RESULT["value"] = 28.5
    bench.emit("final")
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 2
    assert lines[0]["phase_completed"] == "big_pair" and lines[0]["value"] is None
    assert lines[1]["phase_completed"] == "final" and lines[1]["value"] == 28.5
    # the on-disk mirror is the LAST emission
    disk = json.loads(open(os.path.join(str(tmp_path), "bench_out.json")).read())
    assert disk == lines[1]
