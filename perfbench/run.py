"""Benchmark for the ER engine: one workload, one seed, one result line.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 1 --trace 0

Run from the repository root. The engine runs on ``local[<cpus>]`` in this
process's Spark driver, with the engine's own session defaults. Timed passes
repeat until ``--seconds`` have been measured (at least one pass). Every
pass's output is checked after the timed window.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` Spark's event log is written to a run-local directory, every
job is labelled with the span that ran it, and the line carries the
per-layer metrics. All files go to ``.perfbench/`` under the repository root
and are removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import calibrate, eventlog, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

END_TO_END = ("pass_s", "pass_cpu_s", "setup_s")
_STOP_STARTING_PASSES_S = 120  # keeps a run inside its 180 s limit


def process_start_time() -> float:
    """Wall-clock time this process was created, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other machines while this one's
    CPUs had work, summed over its CPUs: the steal column of /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def unit_of(metric: str) -> str:
    tail = metric.rsplit(".", 1)[-1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_mb"):
        return "MB"
    if "bytes" in tail:
        return "B"
    if tail in ("match_ratio", "job_coverage"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, on every workload; a
    span the workload does not run reports 0."""
    names = [f"{s}.{k}" for w in WORKLOADS.values() for s in w.spans for k in w.span_metrics]
    names += [k for w in WORKLOADS.values() for k in w.count_names]
    return names + [
        "memory.jvm_peak_rss_mb", "memory.peak_rss_mb",
        "trace.pass_s", "trace.pass_cpu_s", "trace.job_coverage",
    ]


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and its
    Python workers), sampled from /proc every ``period`` seconds, and the
    JVM's own high-water RSS."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.sample_kb())
            self._stop.wait(self.period)

    @staticmethod
    def descendants() -> set[int]:
        parents: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
        tree, frontier = set(), {os.getpid()}
        while frontier:
            frontier = {p for p, pp in parents.items() if pp in frontier} - tree
            tree |= frontier
        return tree

    @staticmethod
    def status_kb(pid: int, field: str) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                return next((int(line.split()[1]) for line in f if line.startswith(field)), 0)
        except OSError:
            return 0

    def sample_kb(self) -> int:
        return sum(self.status_kb(pid, "VmRSS:") for pid in self.descendants())

    @classmethod
    def cpu_s(cls) -> float:
        """CPU seconds used so far by this process and its descendants,
        including the children they have reaped (exited Python workers)."""
        ticks = 0
        for pid in cls.descendants() | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        return ticks / os.sysconf("SC_CLK_TCK")

    @classmethod
    def jvm_peak_kb(cls) -> int:
        """High-water RSS of the Spark JVM, exact (the kernel keeps it)."""
        for pid in cls.descendants():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        return cls.status_kb(pid, "VmHWM:")
            except OSError:
                continue
        return 0


def host_fingerprint(spark, seed: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gib": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "seed": seed,
    }


def start_spark(run_dir: str, trace: bool):
    from fia_own_map_spark.session import build_session

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers need the package; every scratch file stays in run_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir})
    cpus = len(os.sched_getaffinity(0))
    return build_session("perfbench", master=f"local[{cpus}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — any wait failure: make sure it ends
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(workload, tracer, groups: dict, passes: list, pass_s, pass_cpu_s) -> dict:
    """Per-pass span figures of every workload's spans (0 for spans this
    workload did not run), the pipeline's counts and the label coverage."""
    n = len(passes)
    out: dict[str, float] = {}
    for w in WORKLOADS.values():
        for span in w.spans:
            m = tracer.span_metrics(span, groups)
            out.update({f"{span}.{k}": m[k] / n for k in w.span_metrics})
    counts = [workload.counts(p) for p in passes if not isinstance(p, Exception)]
    for w in WORKLOADS.values():
        for k in w.count_names:
            out[k] = statistics.median(c.get(k, 0) for c in counts) if counts else 0
    total_jobs = sum(g["jobs"] for g in groups.values())
    labelled = total_jobs - groups.get(None, {}).get("jobs", 0)
    out["trace.pass_s"] = pass_s
    out["trace.pass_cpu_s"] = pass_cpu_s
    out["trace.job_coverage"] = labelled / total_jobs if total_jobs else 0.0
    return out


def check_pass(workload, spark, out) -> tuple[list[str | None], dict]:
    """One entry per attempted operation: None if its output is right.
    A pass that raised, or whose check raised, fails all its operations."""
    if isinstance(out, Exception):
        return [f"pass raised {type(out).__name__}: {out}"] * workload.ops_per_pass, {}
    try:
        return workload.check(spark, out)
    except Exception as e:  # noqa: BLE001 — a broken output must not end the run
        return [f"check raised {type(e).__name__}: {e}"] * workload.ops_per_pass, {}


def run(args) -> int:
    t_proc = process_start_time()
    if not (
        os.path.isfile(os.path.join(ROOT, "fia_own_map_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: the engine sources are not under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return _run(args, t_proc, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, t_proc: float, run_dir: str) -> int:
    workload = WORKLOADS[args.workload](run_dir)
    # host CPU speed before Spark starts and after it has stopped; its time is
    # left out of set-up, like input generation
    t_cal, cpu_cal = time.perf_counter(), RssSampler.cpu_s()
    speed = [calibrate.measure()]
    cal_s, cal_cpu_s = time.perf_counter() - t_cal, RssSampler.cpu_s() - cpu_cal
    # the /proc sampler only runs in traced runs, where its metric is reported
    with RssSampler() if args.trace else contextlib.nullcontext() as rss:
        spark = start_spark(run_dir, args.trace)
        try:
            tracer = tracing.Tracer(spark.sparkContext if args.trace else None)
            host = host_fingerprint(spark, args.seed)
            t_in, cpu_in = time.perf_counter(), RssSampler.cpu_s()
            with tracer.span("input"):
                workload.prepare(spark, args.seed)
            input_s = time.perf_counter() - t_in
            input_cpu_s = RssSampler.cpu_s() - cpu_in
            setup_wall_s = time.time() - t_proc - input_s - cal_s
            setup_cpu_s = RssSampler.cpu_s() - input_cpu_s - cal_cpu_s

            passes, walls, cpus, steals = [], [], [], []
            t_measure = time.perf_counter()
            while not walls or (
                sum(walls) < args.seconds
                and time.time() - t_proc < _STOP_STARTING_PASSES_S
            ):
                instrument = workload.instrument if args.trace else contextlib.nullcontext
                cpu_before, steal_before = RssSampler.cpu_s(), steal_s()
                with tracer.span(workload.name) as root:
                    try:
                        with instrument(tracer):
                            out = workload.run_pass(spark, len(walls), tracer)
                    except Exception as e:  # noqa: BLE001 — counted as failed
                        out = e
                passes.append(out)
                walls.append(root.wall_s)
                cpus.append(RssSampler.cpu_s() - cpu_before)
                steals.append(steal_s() - steal_before)
            measured_s = time.perf_counter() - t_measure
            jvm_peak_rss_mb = RssSampler.jvm_peak_kb() / 1024

            problems, quality = [], {}
            with tracer.span("check"):
                for out in passes:
                    p, q = check_pass(workload, spark, out)
                    problems += p
                    quality = q or quality
        finally:
            t_stop = time.perf_counter()
            stop_spark(spark)
            stop_s = time.perf_counter() - t_stop
    speed.append(calibrate.measure())

    # every figure in reference-host seconds; the wall also without the
    # hypervisor's steal: the share of the pass's runnable CPU time that it
    # actually ran, applied to its wall time
    scale = calibrate.REF_CPU_S / statistics.mean(speed)
    pass_s = scale * statistics.median(w * c / (c + s) for w, c, s in zip(walls, cpus, steals))
    pass_cpu_s = scale * statistics.median(cpus)
    setup_s = scale * setup_cpu_s

    failed = [p for p in problems if p]
    for p in failed:
        print(f"FAILED {p}", file=sys.stderr)
    if args.trace:
        groups = eventlog.reduce_log(os.path.join(run_dir, "eventlog"))
        metrics = layer_metrics(workload, tracer, groups, passes, pass_s, pass_cpu_s)
        metrics["memory.jvm_peak_rss_mb"] = jvm_peak_rss_mb
        metrics["memory.peak_rss_mb"] = rss.peak_kb / 1024
        metrics = {k: metrics[k] for k in per_layer_names()}
    else:
        metrics = dict(zip(END_TO_END, (pass_s, pass_cpu_s, setup_s)))

    print(json.dumps({"host": host}))
    print(
        f"{workload.name}: {len(walls)} pass(es) in {measured_s:.2f}s; raw: pass wall median "
        f"{statistics.median(walls):.3f} s, pass CPU median {statistics.median(cpus):.3f} s, "
        f"pass steal median {statistics.median(steals):.3f} s, "
        f"setup CPU {setup_cpu_s:.3f} s, setup wall {setup_wall_s:.3f} s (input "
        f"{input_s:.3f} s wall, {input_cpu_s:.3f} s CPU, excluded); calibration CPU "
        f"{' '.join(f'{c:.4f}' for c in speed)} s; check {tracer.by_name('check')[0].wall_s:.3f} s, "
        f"stop {stop_s:.3f} s; jvm_peak_rss_mb {jvm_peak_rss_mb:.1f}, "
        f"failed {len(failed)}/{len(problems)} (failed_share {len(failed) / len(problems):.3f})"
    )
    for k, v in quality.items():
        print(f"{workload.name}: {k} {v:.6f}")
    for name in workload.spans:
        spans = tracer.by_name(name)
        if spans:
            print(f"  {name}: wall_s {statistics.median(s.wall_s for s in spans):.3f} n={len(spans)}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(problems),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
