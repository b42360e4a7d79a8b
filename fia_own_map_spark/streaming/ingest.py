"""Incremental page ingestion — Structured Streaming surface.

The reference has no streaming (SURVEY.md §2.10); its incremental idiom is
append-then-reaggregate (`Full_State_Sample_Generation.py:118-127`). The
engine's streaming surface mirrors that as a `foreachBatch` job that keeps
the batch pipeline's ER graph up to date instead of rebuilding it:

  new pages (file source / rate source)
    -> stage 0 extract + classify (`stage0_records`, as in batch)
    -> the batch's (bucket, name) nodes (`node_table`, as in batch); blocking
       keys only for nodes the state has not seen
    -> CC over the affected slice of the node graph (star edges, as in
       exact mode)
    -> record labels on demand (`clusters()`: `label_records`, batch's
       stage-3 labelling over the whole state)

The slice is every new node plus every old node whose old cluster holds a
node that shares a key with a new node. In exact mode sharing a key
defines a component, and old clusters are CC fixpoints, so one cluster
expansion hop closes the slice: it is a union of complete blocks and whole
old components, its CC labels (min node_id) equal those of a batch run over
the whole corpus, and every node outside it keeps its label. Each batch's
work is O(batch + slice) plus the state reads, never a re-cluster of the
corpus.

The state lives in the same `CheckpointStore` as the batch pipeline's
stage checkpoints, as append commits to keyed (latest-wins) tables: each
batch writes only its delta, and the store compacts and expires old dirs.
A batch commits keys before nodes, so that a replay after a crash between
any two commits rebuilds the deltas that are missing.
A url ingested again takes its newest attributes, but the node its earlier
version introduced stays in the graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fia_own_map_spark.config import CLASS_UNKNOWN
from fia_own_map_spark.operators import sketch
from fia_own_map_spark.operators.blocking import blocking_keys, star_edges
from fia_own_map_spark.operators.cc import connected_components
from fia_own_map_spark.plans.pipeline import label_records, node_table, stage0_records
from fia_own_map_spark.session import release_checkpoints
from fia_own_map_spark.sources.checkpoint import CheckpointStore

# HLL precision of the ``hll_names`` state. A constant: the state does not
# record p, and registers of two precisions would merge into garbage.
HLL_P = 10

# state table -> (schema of its read before the first batch, latest-wins key)
_TABLES = {
    # what stage-3 labelling reads of a record
    "records": (
        "url string, own_type int, initial_class int, simple_owners string,"
        " comb_addr string",
        ["url"],
    ),
    "keys": ("node_id string, block_key string", ["node_id", "block_key"]),
    "nodes": ("node_id string, node_cluster string", ["node_id"]),
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
    """Maintains the ER graph (records, keys, node clusters) and a name
    sketch across micro-batches.

    The state is four keyed tables of one CheckpointStore under
    ``state_dir``: each batch appends only its delta, reads keep the newest
    row per key, and the store compacts every few appends. An append's
    fingerprint is its batch id, so a `foreachBatch` replay after a restart
    skips the appends that already committed and rebuilds the others
    identically. Used from `foreachBatch` or called directly for tests.
    """

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
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

    def clusters(self) -> DataFrame:
        """Record-level clusters of everything ingested so far: the batch
        pipeline's stage-3 labelling over the state. Lazy and uncached, so
        evaluate it once. Columns as `run_pipeline`'s clusters."""
        return label_records(self.state("records"), self.state("nodes"))

    def process_batch(self, pages: DataFrame, batch_id: int = 0) -> DataFrame:
        """Ingest one micro-batch of pages; returns `clusters()`."""
        # Every table read more than once, the CC labels (they read the last
        # round's localCheckpoint) and the nodes delta's checkpoint, released
        # in the finally.
        pinned: list[DataFrame] = []
        labels: DataFrame | None = None
        node_labels: DataFrame | None = None

        def pin(df: DataFrame) -> DataFrame:
            pinned.append(df.persist())
            return df

        try:
            # stage 0 feeds the node table, the records delta and the sketch
            records = pin(stage0_records(pages))
            old_keys = pin(self.state("keys"))
            old_nodes = pin(self.state("nodes"))
            new_nodes = pin(node_table(records).join(old_nodes, "node_id", "left_anti"))
            new_keys = pin(blocking_keys(new_nodes, id_col="node_id", class_col="match_bucket"))

            # the slice: old clusters with a node that shares a key with a
            # new node, in full (one hop closes it, see the module docstring)
            touched = new_keys.select("block_key").distinct()
            hit = old_keys.join(F.broadcast(touched), "block_key", "left_semi")
            hit_clusters = old_nodes.join(hit, "node_id", "left_semi").select("node_cluster")
            slice_nodes = pin(
                old_nodes.join(hit_clusters, "node_cluster", "left_semi").select("node_id")
            )
            slice_keys = old_keys.join(slice_nodes, "node_id", "left_semi").unionByName(new_keys)
            # one row per id: old nodes are keyed by node_id, new nodes are
            # distinct and anti-joined against the old ones
            vertices = slice_nodes.unionByName(new_nodes.select("node_id"))
            labels, _ = connected_components(
                star_edges(slice_keys, "node_id"), vertices=vertices,
                id_col="node_id", component_col="node_cluster",
            )

            # Keys before nodes, so that a replay rebuilds every uncommitted
            # delta: the new nodes (and so the keys delta) are those missing
            # from `nodes`, which holds this batch's nodes only once the last
            # of the two commits. The nodes delta is materialized first: the
            # keys commit may compact the keys dirs it scans.
            node_labels = labels.localCheckpoint(eager=True)
            self._append("keys", new_keys, batch_id)
            self._append("nodes", node_labels, batch_id)
            self._append(
                "records",
                records.select("url", "own_type", "initial_class", "simple_owners", "comb_addr"),
                batch_id,
            )
            # sketch rollup: merge this batch's registers into the state and
            # append ONLY the registers the batch actually changed (anti-join
            # merged vs previous on the full row) — latest-wins read per
            # (own_type, bucket) then yields exactly max(old, batch); unchanged
            # registers survive in older versions until compaction, keeping the
            # per-batch write volume O(batch), not O(groups x 2^p)
            batch_regs = sketch.hll_registers(
                records.filter(F.col("own_type") != CLASS_UNKNOWN),
                ["own_type"], "simple_owners", p=HLL_P,
            )
            old_regs = self.state("hll_names")
            merged_regs = sketch.hll_merge(old_regs, batch_regs)
            self._append(
                "hll_names",
                merged_regs.join(old_regs, ["own_type", "bucket", "maxrank"], "left_anti"),
                batch_id,
            )
        finally:
            for df in pinned:
                df.unpersist()
            for checkpointed in (labels, node_labels):
                if checkpointed is not None:
                    release_checkpoints(checkpointed)
        return self.clusters()

    def distinct_names_estimate(self) -> DataFrame:
        """Approximate COUNT(DISTINCT simple_owners) per own_type from the
        merged register state — answered from the sketch alone (bounded
        rows), never by re-scanning ingested pages."""
        return sketch.hll_estimate(
            self.state("hll_names"), ["own_type"], HLL_P, "est_distinct_names"
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
