"""The r6 bench-ledger machinery (r5 verdict #1/#6): partial assembly,
compact export, shed notes, and BASELINE.md generation from exactly the
run's measured blocks — all pure python, no Spark session needed."""

from __future__ import annotations

import json
import os

import bench


def _er(cores, e2e):
    return {
        "cores": cores, "e2e_s": e2e, "stage_records_s": e2e * 0.4,
        "stage_block_s": e2e * 0.1, "stage_score_s": e2e * 0.3,
        "stage_cluster_s": e2e * 0.2, "pairs_scored": 1000, "pairs_per_sec": 5000.0,
        "rows": 100, "n_clusters": 10, "mega_blocks": 0,
    }


def _k(cores, pps):
    return {"cores": cores, "pairs": 100000, "matches": 5, "wall_s": 10.0,
            "pairs_per_sec": pps}


def _big():
    return {
        "er_pages_big": 1_600_000,
        "local8_big": _er(8, 150.0),
        "local32_big": _er(32, 100.0),
        "big_repeats": 2,
        "big_history": {"e2e_8": [150.0, 160.0], "e2e_32": [100.0, 110.0],
                        "records_8": [60.0, 64.0], "records_32": [40.0, 44.0],
                        "throttle_probe_mops": [11.2, 11.4, 11.1, 11.3]},
        "scaling_efficiency_e2e_big": round((150.0 / 100.0) / 4.0, 3),
    }


def _kruns():
    return {
        ("criterion", 2): [_k(2, 250_000.0)],
        ("criterion", 8): [_k(8, 900_000.0)],
        ("saturation", 8): [_k(8, 950_000.0)],
        ("saturation", 32): [_k(32, 3_100_000.0)],
    }


def _calib():
    return {"ratio_2_8": 3.9, "ratio_8_32": 3.2,
            "ceiling_efficiency_2_8": 0.975, "ceiling_efficiency_8_32": 0.8,
            "kernel_mp_pps_8": 1_000_000.0, "kernel_mp_pps_32": 3_300_000.0,
            "kernel_mp_ceiling_8_32": 0.825}


def test_assemble_big_only_has_no_fabricated_keys():
    s = bench.assemble_scaling(_big())
    assert s["scaling_efficiency_e2e_big"] == 0.375
    assert "kernel_best" not in s and "local8" not in s
    exported = bench._export_scaling(s)
    assert exported["e2e_s_local8_big"] == 150.0
    assert "pairs_per_sec_local2" not in exported
    assert "e2e_s_local8" not in exported
    json.dumps(exported)  # must be serializable as emitted


def test_assemble_full_computes_efficiencies():
    s = bench.assemble_scaling(_big(), _kruns(), _calib(),
                               ([_er(8, 60.0)], [_er(32, 40.0)]))
    assert s["scaling_efficiency_criterion_2_8"] == round(900_000 / 250_000 / 4, 3)
    assert s["scaling_efficiency_8_32"] == round(3_100_000 / 950_000 / 4, 3)
    assert s["scaling_efficiency_8_32_vs_host_ceiling"] == round(
        s["scaling_efficiency_8_32"] / 0.8, 3)
    assert s["scaling_efficiency_e2e"] == round((60.0 / 40.0) / 4.0, 3)
    exported = bench._export_scaling(s)
    assert exported["efficiency"] == s["scaling_efficiency_criterion_2_8"]
    assert exported["e2e_s_local8"] == 60.0


def test_baseline_md_full_and_partial(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(bench, "SHED", ["context_pair_200k"])
    # partial run: no kernel round, no context pair — the md must say so
    # instead of raising or citing stale numbers
    bench.write_baseline_md(bench.assemble_scaling(_big()))
    md = open(tmp_path / "BENCH" / "BASELINE.md").read()
    assert "Run provenance" in md and "context_pair_200k" in md
    assert "NOT MEASURED in this run" in md
    assert "200k context pair): SHED" in md
    assert "150.0" in md  # big-pair table is present
    # full run: all sections render
    bench.write_baseline_md(
        bench.assemble_scaling(_big(), _kruns(), _calib(),
                               ([_er(8, 60.0)], [_er(32, 40.0)])),
        ann_recall={"ann_ivf_topk": 0.8,
                    "ann_lsh_topk": 0.3, "ann_lsh_multi_topk": 0.6,
                    "lsh_frac": 0.1, "lsh_multi_frac": 0.2,
                    "ivf_seeded_frac": 0.19},
        codec={"codec_images_per_sec": 400.0, "codec_px_per_sec": 3.7e6},
    )
    md = open(tmp_path / "BENCH" / "BASELINE.md").read()
    assert "Criterion metric: candidate-pairs-scored/sec" in md
    assert "IVF seeded quantizer" in md
    assert "local[32] wins outright" in md  # claim computed from the numbers


def test_baseline_md_regression_claim_follows_numbers(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    big = _big()
    big["local32_big"] = _er(32, 200.0)  # 32 LOSES in this synthetic run
    big["scaling_efficiency_e2e_big"] = round((150.0 / 200.0) / 4.0, 3)
    bench.write_baseline_md(bench.assemble_scaling(big, _kruns(), _calib()))
    md = open(tmp_path / "BENCH" / "BASELINE.md").read()
    assert "REGRESSION" in md and "does NOT beat" in md


def test_emit_writes_superset_lines(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(bench, "RESULT", {"metric": "headline_suite_e2e",
                                          "value": None})
    monkeypatch.setattr(bench, "SHED", [])
    bench.emit("big_pair")
    bench.RESULT["value"] = 28.5
    bench.SHED.append("codec")
    bench.emit("final")
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 2
    assert lines[0]["phase_completed"] == "big_pair" and lines[0]["value"] is None
    assert lines[1]["phase_completed"] == "final" and lines[1]["value"] == 28.5
    assert lines[1]["shed"] == ["codec"]
    # the on-disk mirror is the LAST emission
    disk = json.loads(open(os.path.join(str(tmp_path), "bench_out.json")).read())
    assert disk == lines[1]


def test_saturation_shed_criterion_survives(tmp_path, monkeypatch):
    """Pathological-run fallback: if the saturation rounds were shed, the
    criterion block (the graded metric) still assembles, exports, and
    renders without fabricating 8->32 numbers."""
    kruns = _kruns()
    kruns[("saturation", 8)] = []
    kruns[("saturation", 32)] = []
    s = bench.assemble_scaling(_big(), kruns, _calib())
    assert s["scaling_efficiency_criterion_2_8"] == 0.9
    assert "scaling_efficiency_8_32" not in s
    exported = bench._export_scaling(s)
    assert exported["efficiency"] == 0.9
    assert "pairs_per_sec_local32" not in exported
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(bench, "SHED", ["saturation_round_mandatory"])
    bench.write_baseline_md(s)
    md = open(tmp_path / "BENCH" / "BASELINE.md").read()
    assert "criterion pair only" in md and "0.9" in md
    assert "NOT MEASURED" not in md


def _patch_big_pair(monkeypatch, probes, elapsed=100.0):
    """Script run_big_pair's environment: probes consumed in call order."""
    it = iter(probes)
    monkeypatch.setattr(bench, "wait_out_throttle",
                        lambda tag, **kw: next(it) * 1e6)
    monkeypatch.setattr(bench, "_settle", lambda: None)
    monkeypatch.setattr(bench, "_bench_corpus_path", lambda n: "/dev/null")
    monkeypatch.setattr(bench, "elapsed", lambda: elapsed)
    calls = []

    def fake_run(kind, cores, path, env=None):
        calls.append(cores)
        return _er(cores, 150.0 if cores == 8 else 100.0)

    monkeypatch.setattr(bench, "_pinned_run", fake_run)
    return calls


def test_big_pair_no_retry_when_probes_healthy(monkeypatch):
    calls = _patch_big_pair(monkeypatch, [20.0, 20.1, 19.8, 20.3])
    out = bench.run_big_pair()
    assert calls == [8, 32, 8, 32]
    assert out["big_history"]["probe_retries"] == []
    assert out["big_repeats"] == 2


def test_big_pair_retries_worst_throttled_leg_once(monkeypatch):
    # rep-2 32-leg probed deep inside a throttle window (20 / 1.5 > 9)
    calls = _patch_big_pair(monkeypatch, [20.0, 20.1, 19.8, 9.0, 20.2])
    out = bench.run_big_pair()
    assert calls == [8, 32, 8, 32, 32]  # exactly one extra 32 rep
    assert out["big_history"]["probe_retries"] == ["@32"]
    assert len(out["big_history"]["e2e_32"]) == 3
    assert len(out["big_history"]["e2e_8"]) == 2


def test_big_pair_retry_sheds_when_budget_deep(monkeypatch):
    shed_log = []
    monkeypatch.setattr(bench, "SHED", shed_log)
    calls = _patch_big_pair(
        monkeypatch, [20.0, 20.1, 19.8, 9.0],
        elapsed=0.55 * bench.TOTAL_BUDGET - 50.0,  # no room for a retry leg
    )
    out = bench.run_big_pair()
    assert calls == [8, 32, 8, 32]
    assert out["big_history"]["probe_retries"] == []
    assert any("probe_retry" in s for s in shed_log)


def test_big_pair_retries_on_mp_quota_window(monkeypatch):
    """Single-core probes healthy, but rep-2 32-leg's MULTI-CORE health is
    deep in a quota window -> that leg (and only it) gets the retry."""
    probes = iter([20.0, 20.1, 19.8, 20.2, 20.1])
    mp_fracs = iter([1.0, 0.98, 0.99, 0.41, 0.97])

    def fake_wait(tag, **kw):
        bench._LAST_MP_FRAC = next(mp_fracs)
        return next(probes) * 1e6

    monkeypatch.setattr(bench, "wait_out_throttle", fake_wait)
    monkeypatch.setattr(bench, "_settle", lambda: None)
    monkeypatch.setattr(bench, "_bench_corpus_path", lambda n: "/dev/null")
    monkeypatch.setattr(bench, "elapsed", lambda: 100.0)
    calls = []
    monkeypatch.setattr(
        bench, "_pinned_run",
        lambda kind, cores, path, env=None: (calls.append(cores),
                                             _er(cores, 120.0))[1],
    )
    out = bench.run_big_pair()
    assert calls == [8, 32, 8, 32, 32]
    assert out["big_history"]["probe_retries"] == ["@32"]
    assert out["big_history"]["mp_probe_health"] == [1.0, 0.99, 0.98, 0.41, 0.97]
