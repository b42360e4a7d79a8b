"""CheckpointStore resume semantics + summary-stage operators."""

import os

import pandas as pd
from pyspark.sql import functions as F

from fia_own_map_spark.plans.summary import (
    ensure_columns,
    reclass_own_type,
    summarize_clusters,
    to_final_schema,
)
from fia_own_map_spark.sources.checkpoint import COMPACT_EVERY, CheckpointStore


def test_checkpoint_skip_if_committed(spark, tmp_path):
    store = CheckpointStore(str(tmp_path), "job")
    df = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 3]}))
    m1 = store.write("s1", df)
    assert m1["rows_out"] == 3
    assert store.exists("s1")
    # second write with DIFFERENT data must be skipped (resume semantics)
    df2 = spark.createDataFrame(pd.DataFrame({"a": [9]}))
    m2 = store.write("s1", df2)
    assert m2["rows_out"] == 3
    assert store.read(spark, "s1").count() == 3
    # invalidate -> rewrite takes effect
    store.invalidate("s1")
    m3 = store.write("s1", df2)
    assert m3["rows_out"] == 1


def test_checkpoint_per_partition_lineage(spark, tmp_path):
    store = CheckpointStore(str(tmp_path), "job")
    df = spark.range(100).repartition(4)
    m = store.write("s", df)
    assert m["n_partitions"] >= 1
    assert sum(p["rows_out"] for p in m["partitions"]) == 100
    assert all("partition_id" in p for p in m["partitions"])


def test_summary_ops(spark):
    pdf = pd.DataFrame(
        {
            "url": ["u1", "u2", "u3", "u4"],
            "cluster_id": ["c1", "c1", "c2", "c3"],
            "own_type": [45, 45, 41, 42],
            "w": [1.5, 2.5, 1.0, 4.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = summarize_clusters(df, weight_col="w").toPandas().set_index("url")
    assert out.loc["u1", "total_parcels_owned"] == 2
    assert out.loc["u1", "total_weight_owned"] == 4.0
    assert out.loc["u1", "own_group"] == "Family"
    assert out.loc["u3", "own_group"] == "Corporate"
    assert out.loc["u4", "own_group"] == "Other Private"

    df2 = ensure_columns(df, {"extra_flag": 0, "own_type": -1})
    assert "extra_flag" in df2.columns
    assert df2.select(F.sum("own_type")).first()[0] == 45 + 45 + 41 + 42  # not overwritten

    df3 = to_final_schema(df2, {"url": "record_id"}, ["record_id", "cluster_id", "extra_flag"])
    assert df3.columns == ["record_id", "cluster_id", "extra_flag"]


def test_snapshot_history_timetravel_rollback(spark, tmp_path):
    """Iceberg-model semantics: immutable snapshots, time travel, rollback,
    expiry keeps the current pointer valid."""
    store = CheckpointStore(str(tmp_path), "job")
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], "id long, v string")
    m1 = store.write("s", df1)
    assert m1["snapshot_id"] == 0 and m1["rows_out"] == 1
    store.invalidate("s")
    m2 = store.write("s", df2)
    assert m2["snapshot_id"] == 1 and m2["rows_out"] == 2
    # current = snapshot 1; time travel to 0
    assert store.read(spark, "s").count() == 2
    assert store.read(spark, "s", snapshot_id=0).count() == 1
    assert [s["snapshot_id"] for s in store.history("s")] == [0, 1]
    # rollback -> snapshot 0 is current again
    store.rollback("s", 0)
    assert store.read(spark, "s").count() == 1
    assert store.read_metrics("s")["snapshot_id"] == 0
    # expiry keeps current (0) even though it is older
    store.rollback("s", 0)
    expired = store.expire_snapshots("s", keep=1)
    assert 0 not in expired
    assert store.read(spark, "s").count() == 1
    # keep=0 means "current only" — snaps[-0:] must not keep everything
    df3 = spark.createDataFrame([(4, "d")], "id long, v string")
    store.invalidate("s")
    store.write("s", df3)
    expired0 = store.expire_snapshots("s", keep=0)
    assert expired0, "keep=0 expired nothing (snaps[-0:] bug)"
    assert [s["snapshot_id"] for s in store.history("s")] == [
        store.read_metrics("s")["snapshot_id"]
    ]


def test_fingerprint_decides_reuse(spark, tmp_path):
    """A write is skipped only while the current snapshot's fingerprint
    matches; another fingerprint commits the next snapshot id and keeps
    the old one in history."""
    store = CheckpointStore(str(tmp_path), "job")
    df1 = spark.createDataFrame([(1,)], "id long")
    df2 = spark.createDataFrame([(2,), (3,)], "id long")
    assert store.write("s", df1, fingerprint={"mode": "a"})["snapshot_id"] == 0
    assert store.write("s", df2, fingerprint={"mode": "a"})["rows_out"] == 1
    m = store.write("s", df2, fingerprint={"mode": "b"})
    assert m["snapshot_id"] == 1 and m["rows_out"] == 2
    assert [s["fingerprint"] for s in store.history("s")] == [{"mode": "a"}, {"mode": "b"}]
    assert store.read(spark, "s", snapshot_id=0).count() == 1


def test_append_snapshots_share_dirs_through_expiry(spark, tmp_path):
    """An append snapshot lists its parent's dirs plus its own, so expiring
    the older snapshots must keep every dir the current one reads."""
    store = CheckpointStore(str(tmp_path), "job")
    for i in range(3):
        store.write(
            "t", spark.createDataFrame([(i,)], "id long"), fingerprint=i, append=True
        )
    assert store.read_metrics("t")["dirs"] == ["snap-0", "snap-1", "snap-2"]
    assert store.expire_snapshots("t", keep=1) == [0, 1]
    assert sorted(r["id"] for r in store.read(spark, "t").collect()) == [0, 1, 2]


def test_keyed_append_compaction(spark, tmp_path):
    """Keyed appends: latest-wins read; the COMPACT_EVERY-th append folds
    the table into one dir and GCs the rest; a replayed batch is skipped;
    appends continue after compaction."""
    store = CheckpointStore(str(tmp_path), "job")

    def append(rows, batch):
        df = spark.createDataFrame(rows, "url string, cluster_id string")
        store.write("labels", df, fingerprint={"batch": batch}, append=True, key=["url"])

    def labels():
        return {r["url"]: r["cluster_id"] for r in store.read(spark, "labels").collect()}

    append([("a", "c1"), ("b", "c1")], 0)
    append([("b", "c2"), ("c", "c2")], 1)
    assert labels() == {"a": "c1", "b": "c2", "c": "c2"}  # latest wins for b
    for batch in range(2, COMPACT_EVERY):
        append([("a", f"c{batch}")], batch)
    # the COMPACT_EVERY-th append triggered compaction: one live dir, old
    # dirs GC'd
    live = store.read_metrics("labels")["dirs"]
    assert len(live) == 1
    assert os.listdir(os.path.join(store.root, "labels")) == live
    assert labels() == {"a": f"c{COMPACT_EVERY - 1}", "b": "c2", "c": "c2"}
    # a replay of the last batch appends nothing
    append([("e", "c9")], COMPACT_EVERY - 1)
    assert "e" not in labels()
    # appends continue after compaction
    append([("d", "c4")], COMPACT_EVERY)
    assert labels() == {"a": f"c{COMPACT_EVERY - 1}", "b": "c2", "c": "c2", "d": "c4"}
