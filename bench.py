"""Benchmark of the engine on the host it runs on.

    python bench.py

Run from the repository root. The only setting is ``SPARK_GRAFT_SF_DIR``, the
directory of the headline tables (sf0.1 by default). Three blocks run in this
order:

1. The headline suite on ``local[<cpus>]``, ``<cpus>`` being the CPUs this
   process may run on: one cold pass, then WARM_REPS warm passes over the
   same queries, then the codec row and the ANN recall/candidate-fraction
   sweep. Every query, the session warm-up, the codec block and the ANN
   block run in a perfbench tracer span, so every Spark job of the session
   carries its span's label in the session's event log. The log is reduced
   into the ``ledger`` key: per query, the warm wall median and range, and
   the per-rep jobs, tasks, executor run and CPU time and Python-worker init
   and run time.
2. The scoring-kernel N -> 4N pair, with 4N the largest multiple of 4 CPUs
   available. ROUNDS rounds each run the two legs back to back, alternating
   which leg goes first; each leg is a subprocess pinned with ``taskset`` to
   its CPUs. ``scaling.efficiency`` is the median over rounds of
   ``(pps_4N / pps_N) / 4``. ``kernel_cpu_calibration`` runs the same kernel
   without Spark, in N and 4N processes: the host's own ceiling for that
   ratio. Below 4 CPUs the pair cannot run and ``scaling`` says why.
3. BENCH/BASELINE.md, regenerated from this run's numbers only.

The summary JSON line is printed after each block (each a superset of the
last; the last line is the complete result) and mirrored to bench_out.json,
and a SIGTERM/SIGINT prints the latest one on the way down. Every input the
run builds lives in a per-run temporary directory, removed at exit.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from perfbench import eventlog, tracing  # noqa: E402
from perfbench.run import host_fingerprint, start_spark, stop_spark  # noqa: E402
from perfbench.workloads import HEADLINE  # noqa: E402

WARM_REPS = 3
ROUNDS = 3
# the kernel's input: the naive within-block pair table of a seed-42 corpus
# (no name dedup), crossed with KERNEL_REPLICATE copies so that the 4N leg
# runs long enough for per-pass fixed costs to stay inside the noise
KERNEL_PAGES = 60_000
KERNEL_REPLICATE = 4
# fewer Arrow batch boundaries, less per-batch Python overhead in the kernel
KERNEL_ARROW_BATCH = "40000"
EFFICIENCY_TARGET = 0.8
ER_CLUSTER_TARGET_S = 6.0
LEDGER_FIELDS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "python_init_s", "python_run_s",
)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


T_START = time.time()  # reset at main() entry

# the latest COMPLETE summary (every emitted line is valid on its own);
# also the payload the SIGTERM handler prints on the way down
RESULT: dict = {}


def elapsed() -> float:
    return time.time() - T_START


def emit(phase: str) -> None:
    """Print the current full summary as one JSON line (each emission
    supersedes the previous) and mirror it to bench_out.json so even a
    SIGKILL leaves an artifact on disk."""
    RESULT["phase_completed"] = phase
    RESULT["elapsed_s"] = round(elapsed(), 1)
    line = json.dumps(RESULT)
    print(line, flush=True)
    try:
        with open(os.path.join(REPO, "bench_out.json"), "w") as f:
            f.write(line + "\n")
    except OSError:
        pass


def _install_signal_net(run_dir: str) -> None:
    import signal

    main_pid = os.getpid()

    def _dump(signum, frame):  # noqa: ARG001
        # re-entry guard: a killpg often delivers TERM more than once, and
        # a forked child would inherit this handler — only the main process
        # emits, exactly once
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
        if os.getpid() != main_pid:
            os._exit(1)
        if RESULT:
            RESULT["killed_by_signal"] = signum
            emit(RESULT.get("phase_completed", "partial") + "+signal")
        shutil.rmtree(run_dir, ignore_errors=True)
        # os._exit, not sys.exit: SystemExit raised from a handler while the
        # main thread is blocked in subprocess machinery gets swallowed (the
        # run would go on benching after "exiting"); emit() already flushed,
        # so the hard exit loses nothing
        os._exit(1)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _dump)


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_up(spark, cores: int) -> None:
    """Start the Python UDF workers and JIT the scan path once, so the first
    timed operation does not absorb session start-up."""
    from fia_own_map_spark.operators.scoring import score_name_pairs
    from pyspark.sql import functions as F

    s = F.concat(F.lit("W"), F.col("id"))
    warm = spark.range(cores * 4).select(s.alias("name_a"), s.alias("name_b"))
    score_name_pairs(warm.repartition(cores)).agg(F.sum("jw")).collect()


def phase_a(sf_dir: str, run_dir: str) -> dict:
    """Headline suite (one cold pass, WARM_REPS warm passes), codec row and
    ANN sweep in one traced session. Returns the host fingerprint, the
    ledger, the cold pass's wall, the ANN recall dict and the codec dict."""
    import __spark_entry__ as entrymod

    spark = start_spark(run_dir, trace=True)
    try:
        tracer = tracing.Tracer(spark.sparkContext)
        host = host_fingerprint(spark, None)
        del host["seed"]
        cpus = spark.sparkContext.defaultParallelism
        qs = entrymod.queries()
        with tracer.span("warmup"):
            _warm_up(spark, cpus)
            _materialize(qs["text_token_counts"](spark, sf_dir))
        # the cold pass is the suite as a fresh session sees it; the warm
        # passes re-time each query with every JIT, shuffle-path and
        # Python-worker ramp already paid, so per-query numbers do not
        # depend on the suite order
        for pass_name, reps in (("cold", 1), ("warm", WARM_REPS)):
            for _ in range(reps):
                with tracer.span(pass_name):
                    for name in HEADLINE:
                        with tracer.span(name):
                            _materialize(qs[name](spark, sf_dir))
        with tracer.span("codec"):
            codec = codec_bench(spark, cpus, tracer)
        with tracer.span("ann_recall"):
            recall = ann_recall(qs, spark, sf_dir)
    finally:
        stop_spark(spark)
    # the event log is complete once the session has stopped
    groups = eventlog.reduce_log(os.path.join(run_dir, "eventlog"))
    return {
        "host": host,
        "ledger": build_ledger(tracer, groups),
        "cold_total": round(tracer.by_name("cold")[0].wall_s, 3),
        "recall": recall,
        "codec": codec,
    }


def build_ledger(tracer: tracing.Tracer, groups: dict) -> dict:
    """Per headline query: the cold wall, the warm walls' median and range,
    and the event-log figures of its warm spans as per-rep means. Plus the
    session's job count and the share of its jobs that carry a span label."""
    queries = {}
    for name in HEADLINE:
        cold = [s.wall_s for s in tracer.spans if s.path == f"cold/{name}"]
        warm = [s.wall_s for s in tracer.spans if s.path == f"warm/{name}"]
        totals = groups.get(f"warm/{name}", {})
        row = {
            "cold_s": round(cold[0], 3),
            "wall_s": round(statistics.median(warm), 3),
            "wall_s_min": round(min(warm), 3),
            "wall_s_max": round(max(warm), 3),
            "reps": len(warm),
        }
        row.update({k: round(totals.get(k, 0) / len(warm), 3) for k in LEDGER_FIELDS})
        queries[name] = row
    jobs = sum(g["jobs"] for g in groups.values())
    unlabelled = groups.get(None, {}).get("jobs", 0)
    return {
        "queries": queries,
        "jobs": jobs,
        "job_coverage": round((jobs - unlabelled) / jobs, 4) if jobs else 0.0,
    }


def codec_bench(spark, cpus: int, tracer: tracing.Tracer) -> dict:
    """Image-decode throughput through the real Spark surface (mapInPandas
    decode_and_featurize): deterministic 96x96 RGB PNG corpus, half
    filter-0 (None) and half filter-4 (Paeth) scanlines, so the wavefront
    unfilter path is on the clock. Reports the warm repeat — the corpus is
    tiny, so rep 1 would be all scheduling."""
    import numpy as np
    import pandas as pd

    from fia_own_map_spark.operators import multimodal

    n_images, side = 192, 96
    yy, xx = np.mgrid[0:side, 0:side]
    blobs = []
    for i in range(n_images):
        img = np.stack(
            [
                (128 + 100 * np.sin(xx / (3 + (i + b) % 7) + b) * np.cos(yy / (4 + i % 5)))
                .astype(np.uint8)
                for b in range(3)
            ],
            axis=2,
        )
        blobs.append((f"img{i}", multimodal.encode_png(img, filter_type=4 if i % 2 else 0)))
    df = spark.createDataFrame(pd.DataFrame(blobs, columns=["media_id", "blob"])).repartition(
        cpus
    )
    for _ in range(2):
        with tracer.span("decode") as rep:
            _materialize(multimodal.decode_and_featurize(df, codec="auto"))
    out = {
        "codec_images_per_sec": round(n_images / rep.wall_s, 1),
        "codec_px_per_sec": round(n_images * side * side / rep.wall_s, 0),
    }
    log(f"  [A] codec decode: {out['codec_images_per_sec']} images/s "
        f"({n_images} x {side}x{side} PNG, half Paeth)")
    return out


def ann_recall(qs, spark, sf_dir: str) -> dict:
    """recall@k of the approximate ANN paths vs brute-force cosine, at bench
    scale — the quality side of the quality/speed dial, next to the
    throughput numbers. Tiny result sets: toPandas feeds a local set
    comparison, not a compute path."""
    truth = qs["ann_cosine_topk"](spark, sf_dir).toPandas()

    def _recall(approx) -> float:
        recalls = []
        for qid, grp in truth.groupby("query_id"):
            want = set(grp["vec_id"])
            got = set(approx[approx["query_id"] == qid]["vec_id"])
            recalls.append(len(want & got) / len(want))
        return round(sum(recalls) / len(recalls), 3)

    out: dict[str, float] = {}
    for name in ("ann_ivf_lloyd_topk", "ann_lsh_multi_topk"):
        out[name] = _recall(qs[name](spark, sf_dir).toPandas())
        log(f"  [A] recall@10 {name}: {out[name]}")
    out.update(lsh_candidate_fractions(spark, sf_dir))
    return out


def lsh_candidate_fractions(spark, sf_dir: str) -> dict:
    """Measured corpus fraction scored per (query, LSH config) — the probe
    budget the recall numbers are bought with. Same configs as the
    ann_lsh_multi_topk / ann_ivf_lloyd_topk contract queries."""
    from fia_own_map_spark.operators.ann import lsh_candidates
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_corpus = emb.count()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    n_queries = queries.count()
    out = {}
    n_cand = lsh_candidates(emb, queries, multiprobe=1, n_planes=8, n_tables=7).count()
    out["lsh_multi_frac"] = round(n_cand / (n_corpus * n_queries), 4)
    log(f"  [A] candidate fraction lsh_multi_frac: {out['lsh_multi_frac']}")
    # IVF: same budget accounting — candidates = corpus rows in probed cells
    # (32 cells / nprobe 6, chosen on the r5 frontier sweep: equal recall to
    # LSH-multi at a smaller fraction). Integer-L2 assignment/probe as in
    # ivf_lloyd_cosine_topk, with the ann_ivf_lloyd_topk quantizer.
    from pyspark.sql import Window as _W

    from fia_own_map_spark.operators.ann import _int_l2, _int_qvec, lloyd_centroids

    wq = _W.partitionBy("query_id").orderBy("_d", "_cell")
    cent = lloyd_centroids(emb, n_cells=32, n_iters=2)
    asn = (
        emb.select("vec_id", _int_qvec("embedding").alias("_q"))
        .crossJoin(F.broadcast(cent))
        .withColumn("_d", _int_l2(F.col("_q"), F.col("_c")))
        .groupBy("vec_id")
        .agg(F.min(F.struct("_d", "_cell")).alias("_m"))
        .select(F.col("_m._cell").alias("_cell"))
    )
    qp = (
        queries.select("query_id", _int_qvec("embedding").alias("_qq"))
        .crossJoin(F.broadcast(cent))
        .withColumn("_d", _int_l2(F.col("_qq"), F.col("_c")))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= 6)
        .select("query_id", "_cell")
    )
    n_cand = asn.join(F.broadcast(qp), "_cell").count()
    out["ivf_lloyd_frac"] = round(n_cand / (n_corpus * n_queries), 4)
    log(f"  [A] candidate fraction ivf_lloyd_frac: {out['ivf_lloyd_frac']}")
    return out


def build_pair_table(cores: int, run_dir: str) -> dict:
    """Generate the KERNEL_PAGES corpus and materialize its candidate
    ID-PAIR table (no name dedup — the naive within-block pair volume)
    joined to names, under ``run_dir``. Returns the table's path."""
    from fia_own_map_spark.config import EngineConfig
    from fia_own_map_spark.operators.blocking import (
        blocking_keys,
        candidate_pairs,
        salt_mega_blocks,
    )
    from fia_own_map_spark.plans.pipeline import stage0_records
    from fia_own_map_spark.session import build_session
    from fia_own_map_spark.sources.webpages import generate_web_pages
    from pyspark.sql import functions as F

    pages, _ = generate_web_pages(n_pages=KERNEL_PAGES, seed=42)
    # Spark rejects TIMESTAMP(NANOS); write microsecond precision
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    corpus = os.path.join(run_dir, f"web_pages_{KERNEL_PAGES}.parquet")
    # small row groups: parquet cannot split INSIDE a row group, so one
    # giant group would serialize the scan+extract stage no matter what
    # maxPartitionBytes says — this stands in for a table of many files
    pages.to_parquet(corpus, index=False, row_group_size=2000)
    del pages

    spark = build_session(
        "bench-pairs", master=f"local[{cores}]",
        extra_conf={"spark.sql.files.maxPartitionBytes": str(8 << 20)},
    )
    records = stage0_records(spark.read.parquet(corpus)).filter(
        F.col("own_type") != -99
    ).withColumn(
        "match_bucket", F.col("own_type").cast("string")
    ).select("url", "match_bucket", "simple_owners", "name_keys").persist()
    keys, _ = salt_mega_blocks(
        blocking_keys(records, id_col="url", class_col="match_bucket"),
        "url", EngineConfig(),
    )
    pairs = candidate_pairs(keys, "url")
    names = records.select(F.col("url").alias("_id"), F.col("simple_owners").alias("_n"))
    path = os.path.join(run_dir, "score_pairs")
    (
        pairs.join(names.select(F.col("_id").alias("id_a"), F.col("_n").alias("name_a")), "id_a")
        .join(names.select(F.col("_id").alias("id_b"), F.col("_n").alias("name_b")), "id_b")
        .select("name_a", "name_b")
        .write.mode("overwrite").parquet(path)
    )
    spark.stop()
    return {"path": path}


def scoring_kernel_run(cores: int, pairs_path: str) -> dict:
    """Compute-bound stage-2 scoring kernel: JW + levenshtein ratio +
    token-set jaccard + threshold (``score_name_pairs``, no name dedup) over
    the pair table, cached first, so one timed pass is pure compute:
    candidate pairs scored per second, isolated from checkpoint IO and
    job-scheduling constants."""
    from fia_own_map_spark.config import EngineConfig
    from fia_own_map_spark.operators.scoring import score_name_pairs
    from fia_own_map_spark.session import build_session
    from pyspark.sql import functions as F

    cfg = EngineConfig()
    spark = build_session(
        f"bench-kernel-{cores}",
        master=f"local[{cores}]",
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": KERNEL_ARROW_BATCH},
    )
    _warm_up(spark, cores)
    pairs = (
        spark.read.parquet(pairs_path)
        .crossJoin(spark.range(KERNEL_REPLICATE).select(F.col("id").alias("_rep")))
        .repartition(cores * 3)
        .persist()
    )
    n = pairs.count()
    t0 = time.perf_counter()
    scored = score_name_pairs(pairs.select("name_a", "name_b"))
    matches = scored.filter(
        (F.col("jw") >= cfg.jw_threshold)
        | (F.col("lev_ratio") >= cfg.lev_ratio_threshold)
        | (F.col("jaccard") >= cfg.jaccard_threshold)
    ).count()
    wall = time.perf_counter() - t0
    spark.stop()
    out = {
        "cores": cores,
        "pairs": n,
        "matches": matches,
        "wall_s": round(wall, 2),
        "pairs_per_sec": round(n / wall, 1),
    }
    log(f"  [B] kernel local[{cores}]: {n} pairs in {out['wall_s']}s "
        f"({out['pairs_per_sec']}/s)")
    return out


def _kernel_burn(args: tuple) -> float:
    names_a, names_b, reps = args
    import numpy as np

    from fia_own_map_spark.functions.similarity import similarity_scores_batch

    a = np.array(names_a, dtype=object)
    b = np.array(names_b, dtype=object)
    t0 = time.time()
    for _ in range(reps):
        similarity_scores_batch(a, b)
    return time.time() - t0


def kernel_cpu_calibration(
    pairs_path: str, lo: int, hi: int, n_pairs: int = 40_000, reps: int = 4,
) -> dict:
    """The host's scaling ceiling for THE EXACT kernel compute, Spark-free:
    P independent python processes each run similarity_scores_batch over the
    same name chunk, best of 2 at P = lo and P = hi. If Spark's measured
    efficiency matches this ceiling, the engine's orchestration adds no
    scaling overhead — the residual gap is the host's (memory bandwidth,
    shared cores), not the job's."""
    import multiprocessing as mp

    import pyarrow.parquet as pq

    tbl = pq.read_table(pairs_path, columns=["name_a", "name_b"])
    work = (tbl["name_a"].to_pylist()[:n_pairs], tbl["name_b"].to_pylist()[:n_pairs], reps)
    warm = (work[0][:100], work[1][:100], 1)
    best: dict[int, float] = {}
    for procs in (lo, hi):
        best[procs] = 0.0
        for _ in range(2):
            # spawn, not fork: this process still holds pyarrow's threads,
            # and a forked worker can inherit one of their locks held
            with mp.get_context("spawn").Pool(procs) as pool:
                # every worker imports the kernel before the timed map
                pool.map(_kernel_burn, [warm] * procs)
                t0 = time.time()
                pool.map(_kernel_burn, [work] * procs)
                wall = time.time() - t0
            best[procs] = max(best[procs], procs * reps * len(work[0]) / wall)
    return {
        "pps_lo": round(best[lo], 1),
        "pps_hi": round(best[hi], 1),
        "efficiency": round(best[hi] / best[lo] / (hi / lo), 3),
    }


def _pinned_run(kind: str, cores: int, path: str) -> dict:
    """Run one worker (``kind`` is "pairs" or "kernel") in a subprocess
    pinned to exactly `cores` CPUs.

    Pinning is essential for a faithful N-core simulation: pandas-UDF python
    workers are separate processes, so an unpinned local[N] JVM quietly uses
    up to 2N cores (N task threads + N python workers) and inflates the
    small-level baseline. A real N-core executor node cannot do that.
    Subprocesses also give each measurement a fresh JVM with identical heap.
    """
    cpu_list = ",".join(str(c) for c in sorted(os.sched_getaffinity(0))[:cores])
    cmd = [
        "taskset", "-c", cpu_list,
        sys.executable, os.path.abspath(__file__),
        "--worker", kind, "--cores", str(cores), "--path", path,
    ]
    t0 = time.time()
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, check=False)
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            log(f"  [B] {kind}@{cores}: {round(time.time() - t0, 1)}s total")
            return json.loads(line)
    raise RuntimeError(f"pinned {kind} run failed: {out.stderr[-2000:]}")


def kernel_levels(nproc: int) -> tuple[int, int] | None:
    """(N, 4N) for the scoring-kernel pair on ``nproc`` CPUs, with 4N the
    largest multiple of 4 that fits; None below 4 CPUs."""
    lo = nproc // 4
    return (lo, 4 * lo) if lo >= 1 else None


def assemble_scaling(
    lo: int, hi: int, rounds: list[tuple[dict, dict]], ceiling: dict | None = None
) -> dict:
    """The scaling block from the kernel rounds measured so far; each round
    is its (N leg, 4N leg) pair of scoring_kernel_run results."""
    rows = []
    for r_lo, r_hi in rounds:
        rows.append({
            "pps_lo": r_lo["pairs_per_sec"],
            "pps_hi": r_hi["pairs_per_sec"],
            "wall_s_lo": r_lo["wall_s"],
            "wall_s_hi": r_hi["wall_s"],
            "efficiency": round(r_hi["pairs_per_sec"] / r_lo["pairs_per_sec"] / (hi / lo), 3),
        })
    effs = [r["efficiency"] for r in rows]
    out = {
        "lo": lo,
        "hi": hi,
        "pairs": rounds[0][0]["pairs"],
        "rounds": rows,
        "efficiency": round(statistics.median(effs), 3),
        "efficiency_min": min(effs),
        "efficiency_max": max(effs),
    }
    if ceiling:
        out["kernel_mp_ceiling"] = ceiling
        out["efficiency_vs_kernel_mp_ceiling"] = round(
            out["efficiency"] / ceiling["efficiency"], 3
        )
    return out


def _ledger_md(result: dict) -> str:
    ledger = result["ledger"]
    head = (
        "| query | cold (s) | warm median (s) | warm range (s) | jobs | tasks "
        "| executor run (s) | executor CPU (s) | Python init (s) | Python run (s) |\n"
        "|---|---|---|---|---|---|---|---|---|---|\n"
    )
    rows = "".join(
        f"| `{name}` | {q['cold_s']} | **{q['wall_s']}** | {q['wall_s_min']}-{q['wall_s_max']} "
        f"| {q['jobs']} | {q['tasks']} | {q['executor_run_s']} | {q['executor_cpu_s']} "
        f"| {q['python_init_s']} | {q['python_run_s']} |\n"
        for name, q in ledger["queries"].items()
    )
    er = ledger["queries"]["er_cluster_documents"]["wall_s"]
    verdict = "meets" if er <= ER_CLUSTER_TARGET_S else "does NOT meet"
    return f"""
## Headline suite (sf{result['sf']}, local[{result['host']['nproc']}])

Warm suite total **{result['value']}s** (sum of the per-query warm medians);
the cold pass took {result['value_cold_total']}s. One cold pass, then
{WARM_REPS} warm passes of the whole suite. Each query ran in a perfbench
tracer span; the walls are the spans', and the columns after them are the
event log's figures for the query's warm spans, as per-rep means (Python
times are worker-seconds, summed over tasks). {ledger['job_coverage']:.0%} of
the session's {ledger['jobs']} Spark jobs carry a span label.

{head}{rows}
`er_cluster_documents` warm median: {er}s, which {verdict} the
ROADMAP target of <= {ER_CLUSTER_TARGET_S:g}s.
"""


def _scaling_md(scaling: dict) -> str:
    if "skipped" in scaling:
        return f"\n## Scoring-kernel scaling: not measured\n\n{scaling['skipped']}\n"
    lo, hi = scaling["lo"], scaling["hi"]
    eff = scaling["efficiency"]
    verdict = (
        f"meets the {EFFICIENCY_TARGET} target" if eff >= EFFICIENCY_TARGET
        else f"is **below the {EFFICIENCY_TARGET} target**"
    )
    rows = "".join(
        f"| {i + 1} | {r['pps_lo']} | {r['pps_hi']} | {r['wall_s_lo']} | {r['wall_s_hi']} "
        f"| {r['efficiency']} |\n"
        for i, r in enumerate(scaling["rounds"])
    )
    md = f"""
## Scoring-kernel scaling: local[{lo}] -> local[{hi}]

The stage-2 scoring kernel (`score_name_pairs`, one mapInPandas stage:
numpy-batched Jaro-Winkler + Levenshtein ratio + token-set Jaccard +
thresholds) over
{scaling['pairs']} cached candidate pairs: the naive within-block pair table
of a {KERNEL_PAGES}-page seed-42 corpus, replicated {KERNEL_REPLICATE}x. Each
leg is one timed pass in a fresh subprocess pinned with `taskset` to exactly
its CPUs (unpinned, local[N]'s Python workers would run on more than N).
The two legs of a round run back to back, alternating which goes first.

| round | pairs/s local[{lo}] | pairs/s local[{hi}] | wall local[{lo}] (s) | wall local[{hi}] (s) | efficiency |
|---|---|---|---|---|---|
{rows}
**Efficiency = median over rounds of (pps_{hi} / pps_{lo}) / {hi // lo} =
`{eff}`** (range {scaling['efficiency_min']}-{scaling['efficiency_max']}),
which {verdict}.
"""
    ceiling = scaling.get("kernel_mp_ceiling")
    if ceiling:
        md += f"""
Spark-free ceiling, same run: the same kernel as {lo} and {hi} independent
Python processes (no Spark) scales `{ceiling['efficiency']}` of ideal
({ceiling['pps_lo']} -> {ceiling['pps_hi']} pairs/s). Spark's efficiency is
`{scaling['efficiency_vs_kernel_mp_ceiling']}` of that ceiling; at or above
1.0 the engine's orchestration adds no scaling cost over the bare compute.
"""
    return md


def write_baseline_md(result: dict) -> None:
    """Regenerate BENCH/BASELINE.md from one emitted summary: every table
    and claim below interpolates that run's numbers."""
    import datetime

    host = result["host"]
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    md = f"""# BENCH — measured results

Generated {stamp} by one `python bench.py` run; every number below comes
from that run. Host: {host['nproc']} CPUs, {host['mem_gib']} GiB memory,
Spark {host['spark']}, Python {host['python']}, Java {host['java']}. Total
wall: {result['elapsed_s']}s.
"""
    md += _ledger_md(result)
    md += _scaling_md(result["scaling"])
    recall = result.get("ann_recall_at_10")
    if recall:
        md += f"""
## ANN quality at bench scale (recall@10 vs brute-force cosine)

| path | recall@10 | corpus fraction scored |
|---|---|---|
| IVF integer-Lloyd quantizer, 2 iterations (32 cells, nprobe=6; `ann_ivf_lloyd_topk`) | {recall.get('ann_ivf_lloyd_topk')} | {recall.get('ivf_lloyd_frac')} |
| LSH OR-amplified (7 tables x 8 planes, flip-1; `ann_lsh_multi_topk`) | {recall.get('ann_lsh_multi_topk')} | {recall.get('lsh_multi_frac')} |

Brute force (`ann_cosine_topk`) is the exactness baseline; the approximate
paths trade recall for never shuffling the corpus at query time. The
synthetic embeddings' true top-10 neighbours sit at mean cosine ~0.35, so
sign-LSH selectivity is intrinsically weak on this table.
"""
    codec = result.get("codec")
    if codec:
        md += f"""
## Codec decode throughput (Spark mapInPandas surface)

{codec.get('codec_images_per_sec')} images/s ({codec.get('codec_px_per_sec')}
px/s) on a 192 x 96x96 RGB PNG corpus, alternating filter-0 and filter-4
(Paeth) scanlines, through `decode_and_featurize` (warm repeat).
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(md)


def run_scaling(run_dir: str, nproc: int) -> dict:
    """The kernel pair's ROUNDS rounds, emitting after each; the returned
    block says why when the pair cannot run on ``nproc`` CPUs."""
    levels = kernel_levels(nproc)
    if levels is None:
        return {"skipped": f"{nproc} CPU(s): the N -> 4N kernel pair needs at least 4"}
    lo, hi = levels
    pairs_path = _pinned_run("pairs", hi, run_dir)["path"]
    rounds = []
    for i in range(ROUNDS):
        order = (lo, hi) if i % 2 == 0 else (hi, lo)
        legs = {c: _pinned_run("kernel", c, pairs_path) for c in order}
        rounds.append((legs[lo], legs[hi]))
        RESULT["scaling"] = assemble_scaling(lo, hi, rounds)
        emit(f"kernel_round{i + 1}")
    return assemble_scaling(lo, hi, rounds, kernel_cpu_calibration(pairs_path, lo, hi))


def main() -> None:
    global T_START
    T_START = time.time()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    run_dir = tempfile.mkdtemp(prefix="bench-")
    _install_signal_net(run_dir)
    try:
        RESULT.update({
            "metric": "headline_suite_e2e",
            "value": None,
            "unit": "sec",
            "queries": {},
            "sf": sf_dir.rstrip("/").split("sf")[-1],
        })
        a = phase_a(sf_dir, run_dir)
        per_query = a["ledger"]["queries"]
        RESULT.update({
            "host": a["host"],
            # value = the warm suite total: the steady-state number that
            # stays comparable across runs; the cold pass wall ships alongside
            "value": round(sum(q["wall_s"] for q in per_query.values()), 3),
            "value_cold_total": a["cold_total"],
            "queries": {n: q["cold_s"] for n, q in per_query.items()},
            "queries_warm": {n: q["wall_s"] for n, q in per_query.items()},
            "ledger": a["ledger"],
            "ann_recall_at_10": a["recall"],
            "codec": a["codec"],
        })
        emit("phase_a")
        RESULT["scaling"] = run_scaling(run_dir, len(os.sched_getaffinity(0)))
        emit("final")
        write_baseline_md(RESULT)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _worker_main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", choices=["pairs", "kernel"], required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--path", required=True)
    args = ap.parse_args()
    run = build_pair_table if args.worker == "pairs" else scoring_kernel_run
    print(json.dumps(run(args.cores, args.path)))


if __name__ == "__main__":
    if "--worker" in sys.argv:
        _worker_main()
    else:
        main()
