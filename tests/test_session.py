"""Engine defaults of session.build_session: the master's width, the
driver memory, and the widths of cached tables.

A persisted or localCheckpointed table is coalesced by AQE to the size of
its data, like any shuffle, and a join against such a table still returns
the rows of the uncached query.
"""

import contextlib
import os

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fia_own_map_spark.session import build_session, release_checkpoints


@contextlib.contextmanager
def _conf(spark, **settings):
    old = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


# build_session's job-level shuffle width (the test session runs at 8)
_DEFAULT_WIDTH = {"spark.sql.shuffle.partitions": "32"}


@pytest.mark.parametrize(
    "how", ["persist", "lazy_checkpoint", "eager_checkpoint", "checkpoint_of_cached"]
)
def test_cached_table_takes_its_data_width(spark, how):
    """Spark's default builds a cached plan without AQE, so a persisted
    100-row distinct keeps 30 non-empty partitions of 32, and so does a
    checkpoint of a plan that reads it. A checkpoint of an uncached plan
    is coalesced either way."""
    with _conf(spark, **_DEFAULT_WIDTH):
        df = spark.range(1000).select((F.col("id") % 100).alias("k")).distinct()
        pinned = [df.persist()] if how in ("persist", "checkpoint_of_cached") else []
        if how == "persist":
            cached = df
        elif how == "checkpoint_of_cached":
            cached = df.select("k").localCheckpoint()
        else:
            cached = df.localCheckpoint(eager=how == "eager_checkpoint")
        try:
            sizes = cached.rdd.glom().map(len).collect()
        finally:
            for p in pinned:
                p.unpersist()
            release_checkpoints(cached)
    assert sum(sizes) == 100
    assert sum(1 for n in sizes if n) == 1


def test_coalesced_cache_joins_like_uncached(spark):
    """The cached side is hash-aggregated on ``k`` at the planned width but
    coalesced when built, so its reported partitioning must not let the
    planner skip the shuffle that lines it up with the other side."""

    def table():
        return (
            spark.range(3000)
            .select((F.col("id") % 300).alias("k"), F.col("id").alias("v"))
            .groupBy("k")
            .agg(F.sum("v").alias("s"))
        )

    def query(left):
        other = (
            spark.range(5000)
            .select((F.col("id") % 400).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return (
            left.join(other, "k")
            .groupBy("k")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )

    # no broadcast: both sides must meet through a shuffle on k
    with _conf(spark, **_DEFAULT_WIDTH, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        cached = table().persist()
        try:
            cached.count()
            assert cached.rdd.getNumPartitions() == 1  # the premise: coalesced
            got = query(cached)
        finally:
            cached.unpersist()
        want = query(table())
    assert len(want) == 300
    assert sorted(got) == sorted(want)


def test_default_master_follows_cpu_affinity(monkeypatch):
    """Without a master, the session gets one task slot per CPU the
    process may run on; no environment variable is read."""
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    assert build_session("affinity")._options["spark.master"] == "local[3]"


def test_driver_memory_is_fixed_unless_extra_conf_sets_it(monkeypatch):
    """8g by default, whatever the environment says; extra_conf wins."""
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    assert build_session("mem")._options["spark.driver.memory"] == "8g"
    two = build_session("mem", extra_conf={"spark.driver.memory": "2g"})
    assert two._options["spark.driver.memory"] == "2g"
