"""Incremental page ingestion — Structured Streaming surface.

The reference has no streaming (SURVEY.md §2.10); its incremental idiom is
append-then-reaggregate (`Full_State_Sample_Generation.py:118-127`). The
engine's streaming surface mirrors that as a `foreachBatch` job:

  new pages (file source / rate source)
    -> stage0 extract + classify (same operators as batch)
    -> incremental blocking keys appended to the key store
    -> affected components re-clustered (only blocks touched by the batch)

Re-clustering only the affected subgraph keeps each micro-batch O(batch +
touched blocks), not O(corpus): union the new (id, key) rows with existing
rows *sharing those keys*, run CC on that slice, and merge labels back
(min-id labels are stable under this merge because components only grow).

The state lives in the same `CheckpointStore` as the batch pipeline's
stage checkpoints, as append commits to keyed (latest-wins) tables: each
batch writes only its delta, and the store compacts and expires old dirs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fia_own_map_spark.operators import sketch
from fia_own_map_spark.operators.blocking import blocking_keys, star_edges
from fia_own_map_spark.operators.cc import connected_components
from fia_own_map_spark.operators.refine import refine_clusters_by_address
from fia_own_map_spark.plans.pipeline import stage0_records
from fia_own_map_spark.sources.checkpoint import CheckpointStore

# state table -> (schema of its read before the first batch, latest-wins key)
_TABLES = {
    "keys": ("url string, block_key string", ["url", "block_key"]),
    "labels": ("url string, cluster_id string, own_type int, comb_addr string", ["url"]),
    # Merged HLL register state: distinct owner names per own_type,
    # maintained by bucket-wise max across batches (sketch.hll_merge is
    # idempotent/commutative/associative, so the merged state equals the
    # whole-corpus sketch exactly — test_streaming.py asserts register
    # bit-equality). The state is bounded at groups x 2**p rows BY
    # CONSTRUCTION, so corpus-level distinct stats never re-read raw pages —
    # the sketch answer to "COUNT(DISTINCT name) over 100 TB of history" in
    # an O(batch)-per-batch pipeline.
    "hll_names": ("own_type int, bucket bigint, maxrank int", ["own_type", "bucket"]),
}


class IncrementalER:
    """Maintains (keys, labels, name-sketch) state across micro-batches.

    The state is three keyed tables of one CheckpointStore under
    ``state_dir``: each batch appends only its delta, reads keep the newest
    row per key, and the store compacts every few appends. An append's
    fingerprint is its batch id, so a `foreachBatch` replay after a restart
    skips the appends that already committed. Used from `foreachBatch` or
    called directly for tests.
    """

    def __init__(self, spark: SparkSession, state_dir: str, hll_p: int = 10):
        self.spark = spark
        self.hll_p = hll_p
        self.store = CheckpointStore(state_dir, "ingest")

    def state(self, table: str) -> DataFrame:
        """The latest-wins rows of a state table."""
        if not self.store.exists(table):
            return self.spark.createDataFrame([], _TABLES[table][0])
        return self.store.read(self.spark, table)

    def _append(self, table: str, delta: DataFrame, batch_id: int) -> None:
        self.store.write(
            table, delta, fingerprint={"batch": batch_id}, append=True,
            key=_TABLES[table][1],
        )

    def process_batch(self, pages: DataFrame, batch_id: int = 0) -> DataFrame:
        """Ingest one micro-batch of pages; returns updated labels table."""
        records = stage0_records(pages, use_html=True).withColumn(
            "match_bucket",
            F.when(
                (F.col("own_type") == 45) & (F.col("initial_class") == 3),
                F.concat(F.col("own_type").cast("string"), F.lit("J")),
            ).otherwise(F.col("own_type").cast("string")),
        )
        new_keys = blocking_keys(
            records.filter(F.col("own_type") != -99), id_col="url",
            class_col="match_bucket",
        )
        old_keys = self.state("keys")
        old_labels = self.state("labels")

        # Affected slice must be closed under the OLD partition: a batch key
        # can merge two old clusters, and every member of a merged cluster
        # must be relabeled together (old clusters are CC fixpoints, so one
        # cluster-expansion hop reaches closure — any cross-cluster old key
        # would already have merged them).
        touched = new_keys.select("block_key").distinct()
        directly_affected = (
            old_keys.join(F.broadcast(touched), "block_key", "left_semi")
            .select("url")
            .distinct()
        )
        affected_clusters = (
            old_labels.join(directly_affected, "url", "left_semi")
            .select("cluster_id")
            .distinct()
        )
        affected_urls = (
            old_labels.join(affected_clusters, "cluster_id", "left_semi")
            .select("url")
            .distinct()
        )
        affected = old_keys.join(affected_urls, "url", "left_semi")
        slice_keys = affected.unionByName(new_keys).distinct()

        edges = star_edges(slice_keys, "url")
        new_labels = connected_components(
            edges,
            vertices=slice_keys.select(F.col("url").alias("id")).distinct(),
            id_col="id",
            component_col="cluster_id",
            assume_unique_vertices=True,  # the vertex arg is distinct'd above
        ).withColumnRenamed("id", "url")

        # merge: re-clustered urls take the new label; others keep theirs;
        # new unknown/singleton pages default to their own url. Per-url
        # attributes (own_type, comb_addr) ride along so the family
        # address refinement can run over the merged table.
        attrs = records.select("url", "own_type", "comb_addr")
        relabeled = (
            old_labels.join(new_labels.select("url"), "url", "left_semi")
            .drop("cluster_id")
            .unionByName(attrs.join(new_labels.select("url"), "url", "left_semi"))
            .distinct()
            .join(new_labels, "url")
        )
        singletons = (
            attrs.join(new_labels.select("url"), "url", "left_anti")
            .join(old_labels.select("url"), "url", "left_anti")
            .withColumn("cluster_id", F.col("url"))
        )
        # state deltas only — per-batch write volume is O(batch + affected
        # slice), never O(corpus); untouched labels persist in older
        # versions (latest-wins read) until compaction folds them forward.
        # Labels first: their delta reads the old keys, whose dirs a keys
        # compaction would delete.
        label_delta = relabeled.select(*old_labels.columns).unionByName(
            singletons.select(*old_labels.columns)
        )
        self._append("labels", label_delta, batch_id)
        self._append("keys", new_keys.distinct(), batch_id)
        # sketch rollup: merge this batch's registers into the state and
        # append ONLY the registers the batch actually changed (anti-join
        # merged vs previous on the full row) — latest-wins read per
        # (own_type, bucket) then yields exactly max(old, batch); unchanged
        # registers survive in older versions until compaction, keeping the
        # per-batch write volume O(batch), not O(groups x 2^p)
        batch_regs = sketch.hll_registers(
            records.filter(F.col("own_type") != -99),
            ["own_type"], "simple_owners", p=self.hll_p,
        )
        old_regs = self.state("hll_names")
        merged_regs = sketch.hll_merge(old_regs, batch_regs)
        self._append(
            "hll_names",
            merged_regs.join(old_regs, ["own_type", "bucket", "maxrank"], "left_anti"),
            batch_id,
        )
        # output view: family/juniors clusters split by address (the batch
        # pipeline applies the same refinement after CC)
        return refine_clusters_by_address(self.state("labels"))

    def distinct_names_estimate(self) -> DataFrame:
        """Approximate COUNT(DISTINCT simple_owners) per own_type from the
        merged register state — answered from the sketch alone (bounded
        rows), never by re-scanning ingested pages."""
        return sketch.hll_estimate(
            self.state("hll_names"), ["own_type"], self.hll_p, "est_distinct_names"
        )

    def attach_stream(self, pages_stream: DataFrame, checkpoint: str):
        """Wire into Structured Streaming via foreachBatch."""
        return (
            pages_stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid)
            )
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
        )
