"""Reduce a Spark event log to per-job-group totals.

Spark 4.1 writes the log as rolling zstd files
(``eventlog_v2_<app>/events_<n>_<app>.zstd``); every file of the app is read,
in roll order. Plain (uncompressed) event files are read as they are.

Task metrics come from ``SparkListenerTaskEnd``. A task is attributed to the
job group (``spark.jobGroup.id``) its stage was submitted under; jobs are
attributed by their own ``SparkListenerJobStart`` properties.

The Python-worker figures are SQL accumulables. Their unit is taken from the
``metricType`` the SQL plan declares for the accumulator ("timing" is ms,
"nsTiming" is ns, "size" is bytes), never assumed. One caveat on
"time to initialize Python workers": a reused worker stamps its boot time when
it starts waiting for its next task, so the raw value also holds the time the
worker sat idle in the pool (values of 27 s were seen on 1.5 s tasks). Each
task's value is therefore clipped to the task's own duration. The sums are
worker-seconds over every Python evaluation node of a task, so they can exceed
the task's executor run time when chained UDF nodes run side by side.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from collections.abc import Iterable, Iterator

PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
_PY_METRICS = (PY_INIT, PY_RUN, PY_SENT)
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}

FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "python_init_s", "python_run_s", "python_bytes_sent", "shuffle_write_bytes",
)


def event_files(log_dir: str) -> list[str]:
    """Every event file of every app under ``log_dir``, in write order."""

    def roll_index(path: str) -> tuple[str, int]:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return os.path.dirname(path), int(m.group(1)) if m else 0

    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    plain = [
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    ]
    return sorted(rolled, key=roll_index) + sorted(plain)


def read_events(log_dir: str) -> Iterator[dict]:
    import pyarrow as pa

    for path in event_files(log_dir):
        if path.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(path), "zstd") as stream:
                data = stream.read()
        else:
            with open(path, "rb") as f:
                data = f.read()
        for line in data.decode("utf-8").splitlines():
            if line.strip():
                yield json.loads(line)


def _metric_types(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in plan.get("children", []):
        _metric_types(child, out)


def _declared_units(events: list[dict]) -> tuple[dict, dict]:
    """Metric type per accumulator id, and per metric name where every
    declaration of that name agrees."""
    by_id: dict[int, tuple[str, str]] = {}
    for e in events:
        if "sparkPlanInfo" in e:
            _metric_types(e["sparkPlanInfo"], by_id)
        for m in e.get("sqlPlanMetrics", []):
            by_id[m["accumulatorId"]] = (m["name"], m["metricType"])
    names: dict[str, set[str]] = defaultdict(set)
    for name, mtype in by_id.values():
        names[name].add(mtype)
    by_name = {n: t.pop() for n, t in names.items() if len(t) == 1}
    return {i: t for i, (_, t) in by_id.items()}, by_name


def reduce_events(events: Iterable[dict]) -> dict:
    """Per job group: the FIELDS totals. Jobs without a group land under
    the key None. Raises ValueError on a Python timing metric whose unit the
    log does not declare."""
    events = list(events)
    units = _declared_units(events)
    groups: dict = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    stage_group: dict[int, str | None] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            groups[props.get("spark.jobGroup.id")]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            groups[props.get("spark.jobGroup.id")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            _add_task(groups[stage_group.get(e["Stage ID"])], e, units)
    return dict(groups)


def _add_task(g: dict, e: dict, units: tuple[dict, dict]) -> None:
    info = e["Task Info"]
    tm = e.get("Task Metrics") or {}
    g["tasks"] += 1
    g["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    duration_s = max(info["Finish Time"] - info["Launch Time"], 0) / 1e3
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name not in _PY_METRICS:
            continue
        value = int(acc.get("Update", 0))
        if name == PY_SENT:
            g["python_bytes_sent"] += value
            continue
        mtype = units[0].get(acc["ID"]) or units[1].get(name)
        if mtype not in _TIME_SCALE:
            raise ValueError(f"unit of {name!r} (accumulator {acc['ID']}) is {mtype!r}")
        seconds = value * _TIME_SCALE[mtype]
        if name == PY_INIT:
            g["python_init_s"] += min(seconds, duration_s)
        else:
            g["python_run_s"] += seconds


def reduce_log(log_dir: str) -> dict:
    return reduce_events(read_events(log_dir))
