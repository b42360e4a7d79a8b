"""Span arithmetic and failure counting; no Spark needed."""

import pandas as pd
import pytest

from perfbench import run, tracing
from perfbench.workloads import (
    ORACLE_DIGESTS,
    check_er_clusters,
    compare_frames,
    frame_digest,
    oracle_digests,
)


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_self_time_subtracts_children():
    clock = FakeClock()
    tr = tracing.Tracer(clock=clock)
    with tr.span("root"):
        clock.now = 1.0
        with tr.span("a"):
            clock.now = 3.0
        with tr.span("b"):
            clock.now = 4.0
            with tr.span("c"):
                clock.now = 4.5
            clock.now = 6.0
        clock.now = 10.0
    root, a, b, c = tr.spans
    assert (root.wall_s, root.self_s) == (10.0, 10.0 - 2.0 - 3.0)
    assert (a.wall_s, a.self_s) == (2.0, 2.0)
    assert (b.wall_s, b.self_s) == (3.0, 2.5)
    assert c.path == "root/b/c" and c.parent is b


def test_span_metrics_sum_over_repeats_and_merge_groups():
    clock = FakeClock()
    tr = tracing.Tracer(clock=clock)
    for _ in range(2):
        with tr.span("pass"):
            with tr.span("cc"):
                clock.now += 1.5
    groups = {"pass/cc": {"jobs": 3, "executor_run_s": 0.25}}
    m = tr.span_metrics("cc", groups)
    assert m["wall_s"] == 3.0 and m["self_s"] == 3.0
    assert m["jobs"] == 6 and m["executor_run_s"] == 0.5
    assert tr.span_metrics("missing", groups)["wall_s"] == 0


def test_spans_close_in_order():
    tr = tracing.Tracer()
    outer = tr.open("outer")
    tr.open("inner")
    with pytest.raises(RuntimeError):
        tr.close(outer)


def test_labels_follow_spans():
    class FakeContext:
        def __init__(self):
            self.group = None

        def setJobGroup(self, group, description):
            self.group = group

        def setLocalProperty(self, key, value):
            if key == "spark.jobGroup.id":
                self.group = value

    sc = FakeContext()
    tr = tracing.Tracer(sc)
    with tr.span("a"):
        with tr.span("b"):
            assert sc.group == "a/b"
        assert sc.group == "a"  # the parent's group comes back
    assert sc.group is None


def _partition(pairs):
    return pd.DataFrame(pairs, columns=["url", "cluster_id"])


def test_wrong_clusters_are_a_failure_not_a_crash():
    gold = _partition([("u1", "u1"), ("u2", "u1"), ("u3", "u3")])
    singletons = _partition([("u1", "u1"), ("u2", "u2"), ("u3", "u3")])
    merged = _partition([("u1", "u1"), ("u2", "u1"), ("u3", "u1")])
    assert check_er_clusters(gold, gold, 3)[0] is None
    # a split keeps precision at 1.0; losing every match fails on recall
    problem, prf = check_er_clusters(singletons, gold, 3)
    assert "recall" in problem and prf["precision"] == 1.0
    problem, prf = check_er_clusters(merged, gold, 3)
    assert "precision" in problem and prf["precision"] < 1.0
    assert "labelled rows" in check_er_clusters(merged.iloc[:2], gold, 3)[0]


def test_failed_pass_and_failing_check_count_every_operation():
    class Workload:
        ops_per_pass = 3

        def check(self, spark, out):
            raise KeyError("broken output")

    problems, _ = run.check_pass(Workload(), None, RuntimeError("boom"))
    assert len(problems) == 3 and all("boom" in p for p in problems)
    problems, _ = run.check_pass(Workload(), None, {"some": "output"})
    assert len(problems) == 3 and all("broken output" in p for p in problems)


def test_compare_frames():
    a = pd.DataFrame({"id": [2, 1], "x": [0.5, 0.25]})
    assert compare_frames(a, a.iloc[::-1]) is None  # order-insensitive
    assert "rows" in compare_frames(a, a.iloc[:1])
    assert "column x" in compare_frames(a, a.assign(x=[0.5, 0.3]))
    assert "column id" in compare_frames(a, a.assign(id=[2.0, 1.0]))  # int vs float


def test_frame_digest_differs_where_compare_frames_does():
    a = pd.DataFrame({"id": [2, 1], "x": [0.5, 0.25]})
    assert frame_digest(a) == frame_digest(a.iloc[::-1])
    assert frame_digest(a) != frame_digest(a.iloc[:1])
    assert frame_digest(a) != frame_digest(a.assign(x=[0.5, 0.3]))
    assert frame_digest(a) != frame_digest(a.assign(id=[2.0, 1.0]))


def test_stored_oracle_digests_match_the_oracle_sql():
    import json

    with open(ORACLE_DIGESTS) as f:
        assert json.load(f) == oracle_digests()


def test_benchmark_json_lists_what_a_run_reports():
    import json
    import os

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert listed == {n: run.unit_of(n) for n in run.per_layer_names()}
    assert len(listed) <= 128
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
