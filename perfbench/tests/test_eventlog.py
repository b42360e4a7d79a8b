"""The event-log reducer, on a tiny log recorded from Spark 4.1.

``data/eventlog`` was written by a local[2] session with
``spark.eventLog.enabled`` that ran two labelled jobs: group ``tiny/udf``
applied a pandas UDF to 64 rows in 4 partitions, and group ``tiny/shuffle``
ran a groupBy count. One job ran with no group.
"""

import os

import pyarrow as pa
import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog")


@pytest.fixture(scope="module")
def groups():
    return eventlog.reduce_log(DATA)


def test_jobs_and_tasks_per_group(groups):
    assert set(groups) == {"tiny/udf", "tiny/shuffle", None}
    assert groups["tiny/udf"]["jobs"] == 1 and groups["tiny/udf"]["tasks"] == 4
    assert groups["tiny/shuffle"]["jobs"] >= 1
    assert groups[None]["jobs"] >= 1


def test_python_metrics_are_seconds_within_task_time(groups):
    udf = groups["tiny/udf"]
    assert udf["python_bytes_sent"] > 0 and udf["python_run_s"] > 0
    # clipped init can never exceed the group's task time
    assert 0 < udf["python_init_s"] <= udf["executor_run_s"] + 4
    assert groups["tiny/shuffle"]["python_run_s"] == 0
    assert groups["tiny/shuffle"]["shuffle_write_bytes"] > 0


def test_rolled_files_are_read_in_order(tmp_path, groups):
    """Split the recorded log into three rolled files; the result is the same."""
    lines = [
        line
        for path in eventlog.event_files(DATA)
        for line in _read(path).splitlines(keepends=True)
    ]
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    third = len(lines) // 3
    chunks = [lines[:third], lines[third:2 * third], lines[2 * third:]]
    # written out of order on purpose: index 10 must sort after index 2
    for n, chunk in zip((10, 1, 2), (chunks[2], chunks[0], chunks[1])):
        path = app / f"events_{n}_local-1.zstd"
        with pa.CompressedOutputStream(pa.OSFile(str(path), "wb"), "zstd") as out:
            out.write("".join(chunk).encode())
    assert [os.path.basename(p)[:9] for p in eventlog.event_files(str(tmp_path))] == [
        "events_1_", "events_2_", "events_10"
    ]
    assert eventlog.reduce_log(str(tmp_path)) == groups


def test_undeclared_unit_is_an_error():
    task = {
        "Event": "SparkListenerTaskEnd", "Stage ID": 0,
        "Task Info": {
            "Launch Time": 0, "Finish Time": 10,
            "Accumulables": [{"ID": 7, "Name": eventlog.PY_RUN, "Update": "5"}],
        },
        "Task Metrics": {},
    }
    with pytest.raises(ValueError, match="unit"):
        eventlog.reduce_events([task])


def _read(path):
    if path.endswith(".zstd"):
        with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
            return s.read().decode()
    with open(path) as f:
        return f.read()


def test_plain_files_are_read(tmp_path, groups):
    for path in eventlog.event_files(DATA):
        with open(tmp_path / os.path.basename(path).removesuffix(".zstd"), "w") as f:
            f.write(_read(path))
    assert eventlog.reduce_log(str(tmp_path)) == groups
