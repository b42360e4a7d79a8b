"""SparkSession builders tuned for this engine.

Defaults target the sandbox (single JVM, ``local[N]``) but every knob is the
one you would set on a real 1000-executor cluster: AQE on (skew-join + coalesce
partitions), shuffle and cached-table widths sized by data bytes, Arrow on for
pandas UDFs, and Python-UDF stages sized to cores (``per_core``).
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


def build_session(
    app_name: str = "fia_own_map_spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    master defaults to ``local[<n>]``, ``n`` being the number of CPUs this
    process may run on (``os.sched_getaffinity``).
    shuffle_partitions defaults to a JOB-level constant, 32, that does NOT
    vary with the session's core count: on a real cluster the shuffle width
    is a property of the data/job, not of how many executors happen to be
    attached, and AQE (parallelismFirst=false below) coalesces down to data
    size from there.
    Deriving it from cores — the previous behavior — gave different task
    counts (and checkpoint file counts) at every parallelism level, which
    both skewed the N vs 4N scaling comparison and made small cached tables
    explode into per-core micro-tasks at high core counts. Measured on the
    200k-page ER bench: constant 32 gives every level its near-best time
    (local[8] 44s, local[32] 39s vs 41/50 with the per-core derivation).
    """
    if master is None:
        master = f"local[{len(os.sched_getaffinity(0))}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-planning, skew-join splitting, partition coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Coalesce by DATA SIZE, not core count: with the default
        # parallelismFirst=true AQE keeps ~one (tiny) partition per core, so
        # doubling cores doubles the per-task fixed costs (scheduling, python
        # worker Arrow streams, output files) of every small shuffle — the
        # measured cause of the full-ER-job anti-scaling from 8 to 32 cores
        # at the 200k-page bench size. Partition count now follows input
        # bytes (identical at every core count); compute-bound Python-UDF
        # stages keep full parallelism via ``per_core`` below.
        # Spark's own docs recommend parallelismFirst=false in production.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # Run AQE inside cached plans too. Spark's default (false) builds
        # every persisted plan with AQE switched off, so a cached table
        # keeps the full shuffle width: a 100-row cached distinct holds 32
        # partitions, and every scan of it (nodes, raw_keys, pairs, the
        # stage-3 record tables, minhash_prepared) is 32 tasks, as is a
        # localCheckpoint of a plan that reads it. With true, a cached
        # table is coalesced by the same bytes rule as any shuffle. Spark's
        # documented cost: a query reading the cache may need an extra
        # shuffle, since the cache no longer promises the planned
        # partitioning.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow for pandas UDFs / toPandas — the only Python hot path allowed.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Byte cap on Arrow batches (whichever of the two limits hits first):
        # the record cap alone lets a binary-blob column (html in stage 0,
        # media blobs) balloon a 10k-row batch to row_bytes*10k per
        # concurrent task — at production html sizes (~100 KB) that is ~1 GiB
        # per task in flight. 64 MiB bounds the per-task working set of every
        # pandas-UDF stage independently of blob size (r4 verdict item #1).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Broadcast threshold: dimension tables (keyword maps, block stats)
        # should broadcast; 64MB is a deliberate bump from the 10MB default.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # applies to the first session of a process only; extra_conf overrides
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def per_core(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` into one partition per core: the width rule for
    every Python-UDF stage. Apply it AFTER the stage's dedup, so the shuffle
    moves only distinct rows and the UDF runs once per distinct input.

    One task per core: Python-worker start-up is paid per task, so 32 tasks
    on 4 cores spend more on start-up than on a few thousand rows of work.
    Round-robin (REPARTITION_BY_NUM) because a hash repartition on the dedup
    key is collapsed into the aggregate's own exchange, which AQE then
    coalesces toward one partition.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def release_checkpoints(df: DataFrame) -> None:
    """Free the blocks of every localCheckpoint that ``df`` reads.

    ``DataFrame.unpersist`` does not: a checkpoint is a plan leaf over a
    persisted RDD, not a cache entry, so its blocks stay pinned until the
    JVM happens to collect the RDD. Call it once nothing reads ``df`` again.
    Best-effort: on any API drift the blocks just age out."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        leaves = [leaves.apply(i) for i in range(leaves.size())]
        # one RDD can sit under several leaves (a self-union): free it once
        rdds = {
            leaf.rdd().id(): leaf.rdd()
            for leaf in leaves
            if leaf.getClass().getSimpleName() == "LogicalRDD"
        }
        for rdd in rdds.values():
            rdd.unpersist(False)
    except (AttributeError, Py4JError):
        pass

