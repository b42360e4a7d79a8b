"""The flagship three-stage entity-resolution pipeline (north_star).

    pages --(stage0 extract+parse+classify)--> records  [checkpoint]
    records --(stage1 block: keys+salt)-----> block_keys [checkpoint]
    block_keys --(stage2 score)-------------> match_edges [checkpoint]
    edges --(stage3 CC + refine)------------> clusters  [checkpoint]

Run modes (EngineConfig.score_mode):
  * "exact"      — reference parity: records match iff they share a blocking
                   key (`Name_Matching_opt.py:78`); the scale path uses
                   star edges (n-1 per block) instead of |B|² pairs.
  * "similarity" — north-star extension: all within-block candidate pairs
                   scored with JW / Levenshtein / Jaccard, thresholded.

Each stage is checkpointed with per-partition lineage metrics. A rerun
reuses a stage's snapshot only while its fingerprint matches: the config
fields the stage reads plus the snapshot id of the stage it reads (for
``records``: the input's identity). Any other change
recomputes that stage and everything downstream (resume semantics,
north_rule).

The node table (``node_table``) and stage 3's record labelling
(``label_records``) are module functions because streaming
ingest (`streaming/ingest.py`) builds the same graph on each batch's slice.
"""

from __future__ import annotations

import hashlib
import os
import time
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fia_own_map_spark.config import CLASS_FAMILY, CLASS_UNKNOWN, EngineConfig
from fia_own_map_spark.functions.normalize import combine_addr
from fia_own_map_spark.operators.blocking import (
    blocking_keys,
    candidate_pairs,
    prepare_records,
    salt_mega_blocks,
    star_edges,
)
from fia_own_map_spark.operators.cc import connected_components
from fia_own_map_spark.operators.classify import classify_own_type, with_initial_class
from fia_own_map_spark.operators.extract import parse_mentions, with_extracted_text
from fia_own_map_spark.operators.refine import cluster_size, refine_clusters_by_address
from fia_own_map_spark.operators.scoring import match_edges, score_pairs
from fia_own_map_spark.session import release_checkpoints
from fia_own_map_spark.sources.checkpoint import CheckpointStore


def stage0_records(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> typed records with mentions,
    normalized names, blocking fingerprints, classes, comb_addr."""
    # drop the html binary the moment text exists: Catalyst prunes it
    # from the final plan anyway, but the explicit projection guarantees
    # no downstream operator (or future edit) ever carries blob bytes
    # past the extract UDF — the per-task memory bound at 100 KB+ html
    df = with_extracted_text(pages, "html", "text").drop("html")
    df = parse_mentions(df, "text")
    df = with_initial_class(df, "owner1", "owner2")
    df = classify_own_type(df, "owner1", "owner2")
    df = df.withColumn(
        "comb_addr", combine_addr("addr_num", "addr_predir", "addr_street", "addr_mode")
    )
    return prepare_records(df, id_col="url", owner1="owner1", owner2="owner2")


def _input_identity(pages: DataFrame):
    """What a rerun compares to decide the input is unchanged: for a file
    source, each file's name, length and modification time, read through
    Hadoop's ``FileSystem`` so that any file system Spark reads answers
    (one ``listStatus`` per input directory, not one status call per file),
    plus the sha256 of the canonicalized analyzed plan, which tells two
    filters or projections over the same files apart; for an in-memory
    table, the plan's semantic hash, which covers the rows.
    A file scan's semantic hash differs between processes, so it cannot
    identify a file source; the canonical plan string omits the file paths,
    so it adds to the statuses. It is stable across processes for filters
    and Python UDFs, but not for every plan: canonicalization orders a
    commutative expression's operands by hash code, and stage 0's classify
    CASE WHEN came out in another order in another process. Such an input
    is recomputed by a new process, never reused stale."""
    files = sorted(pages.inputFiles())
    if not files:
        return pages.semanticHash()
    spark = pages.sparkSession
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    by_dir: dict[str, list] = {}
    for name in files:
        path = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(name))
        by_dir.setdefault(path.getParent().toString(), []).append((name, path))
    identity = []
    for members in by_dir.values():
        parent = members[0][1].getParent()
        listed = {s.getPath().getName(): s for s in parent.getFileSystem(conf).listStatus(parent)}
        for name, path in members:
            status = listed[path.getName()]
            identity.append([name, status.getLen(), status.getModificationTime()])
    plan = pages._jdf.queryExecution().analyzed().canonicalized().toString()
    return {"plan": hashlib.sha256(plan.encode("utf-8")).hexdigest(), "files": identity}


def _matchable(records: DataFrame) -> DataFrame:
    """Classified records with their class bucket; unknowns become
    singletons (`Name_Matching_opt.py:230-232`). Matching runs inside class
    buckets, with family (45, ic!=3) and juniors (45, ic==3) as separate
    buckets (`Name_Matching_opt.py:167-171`)."""
    return records.filter(F.col("own_type") != CLASS_UNKNOWN).withColumn(
        "match_bucket",
        F.when(
            (F.col("own_type") == CLASS_FAMILY) & (F.col("initial_class") == 3),
            F.concat(F.col("own_type").cast("string"), F.lit("J")),
        ).otherwise(F.col("own_type").cast("string")),
    )


def _named_records(records: DataFrame) -> DataFrame:
    """The classified records with a non-empty name, each with the
    ``node_id`` of its (bucket, name) node: the ER graph's vertices.

    Mentions repeat heavily (that is what makes blocking work), so the
    entire block/score/cluster graph runs over DISTINCT name nodes and
    record ids re-attach at the end. At web scale this shrinks every
    shuffle by the mention-repetition factor; the emitted partition is
    provably identical (records with equal (bucket, name) share all keys
    and therefore always co-cluster). Records whose name normalizes to ''
    have no keys and stay singletons (excluded from the node graph)."""
    return _matchable(records).filter(F.length("simple_owners") > 0).withColumn(
        "node_id", F.concat_ws("|", "match_bucket", "simple_owners")
    )


def node_table(records: DataFrame) -> DataFrame:
    """The distinct nodes of ``_named_records``, with what blocking and
    scoring read: one row per ``node_id``."""
    return _named_records(records).select(
        "node_id", "match_bucket", "simple_owners", "tokens", "name_keys"
    ).distinct()


def label_records(
    records: DataFrame,
    node_clusters: DataFrame,
    pin: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Stage 3 after CC: record-level clusters from node-level ones.

    node_clusters: (node_id, node_cluster); a node it lacks is its own
    cluster. ``pin`` persists a table and hands it back; the caller
    releases what it pinned. Returns url, cluster_id, own_type,
    simple_owners, comb_addr, cluster_size.
    """
    with_nodes = _named_records(records).join(node_clusters, "node_id", "left").withColumn(
        "node_cluster", F.coalesce(F.col("node_cluster"), F.col("node_id"))
    )
    # stable record-level label: min(url) per node cluster. groupBy +
    # join back, NOT a window over node_cluster: the giant head
    # component (31k+ nodes / 100k+ records at the 800k-page corpus)
    # would be one spilling window task; the agg reduces map-side and
    # the join is AQE-skew-splittable (same rationale as refine.py).
    cluster_mins = with_nodes.groupBy("node_cluster").agg(F.min("url").alias("cluster_id"))
    clustered = with_nodes.join(cluster_mins, "node_cluster")
    # records with empty names: singletons
    empties = _matchable(records).filter(F.length("simple_owners") == 0).withColumn(
        "cluster_id", F.col("url")
    )
    # persist the record table before each nested groupBy + join
    # back, which reads its input 2-3 times: uncached, the min(url)
    # join-back (2 reads) under the address refinement (3) under
    # cluster_size (2) puts 12 copies of the labels x records
    # subtree into the write plan.
    clustered = pin(clustered.select(*empties.columns).unionByName(empties))
    # address refinement for family/juniors (W4)
    clustered = pin(refine_clusters_by_address(clustered))
    # unknowns: singleton clusters (`Name_Matching_opt.py:230-232`,
    # uuid4 replaced by the deterministic own-url label)
    unknowns = records.filter(F.col("own_type") == CLASS_UNKNOWN).withColumn(
        "cluster_id", F.col("url")
    )
    final = clustered.select(
        "url", "cluster_id", "own_type", "simple_owners", "comb_addr"
    ).unionByName(
        unknowns.select("url", "cluster_id", "own_type", "simple_owners", "comb_addr")
    )
    return cluster_size(final)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: EngineConfig = EngineConfig(),
    *,
    checkpoints: CheckpointStore,
) -> tuple[DataFrame, dict]:
    """Run the full ER job; returns (clusters DataFrame, metrics dict).

    ``checkpoints`` holds the stage snapshots; its directory name is the job id.
    clusters: url, cluster_id, own_type, simple_owners, comb_addr, cluster_size
    """
    job_id = os.path.basename(checkpoints.root)
    metrics: dict = {"job_id": job_id, "score_mode": cfg.score_mode, "stages": {}}
    section_walls: dict = {}
    metrics["section_walls"] = section_walls
    _mark = time.time()

    def _section(name: str) -> None:
        nonlocal _mark
        now = time.time()
        section_walls[name] = round(now - _mark, 3)
        _mark = now

    # Every table this run persists, and the CC labels (they read the last
    # round's localCheckpoint). Released in the finally: a stage that raises
    # must not leave them pinned in a long-lived session.
    pinned: list[DataFrame] = []
    labels: DataFrame | None = None

    def pin(df: DataFrame) -> DataFrame:
        pinned.append(df.persist())
        return df

    sc = spark.sparkContext

    @contextmanager
    def described(name: str):
        """The block's Spark jobs carry ``name`` as their description; the
        caller's description is put back afterwards."""
        previous = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.job.description", previous)

    def stage(name: str, fingerprint: dict, build) -> DataFrame:
        """Reuse the stage's snapshot while its fingerprint matches, else
        build and commit it; its Spark jobs carry the stage name as their
        description."""
        n_pinned = len(pinned)
        with described(name):
            df, metrics["stages"][name] = checkpoints.stage(spark, name, fingerprint, build)
        # the tables the build cached are spent once its snapshot is committed
        for cached in pinned[n_pinned:]:
            cached.unpersist()
        del pinned[n_pinned:]
        return df

    def upstream(name: str, *fields: str) -> dict:
        """A stage's fingerprint: the config fields it reads and the
        snapshot id of the stage it reads."""
        return {
            **{f: getattr(cfg, f) for f in fields},
            name: metrics["stages"][name]["snapshot_id"],
        }

    try:
        # ---- stage 0: extract + parse + classify -------------------------------
        t0 = time.time()
        records = stage(
            "records",
            {"input": _input_identity(pages)},
            lambda: (
                stage0_records(pages).select(
                    "url", "warc_ts", "lang", "owner1", "owner2", "simple_owners",
                    "tokens", "name_keys", "comb_addr", "initial_class", "own_type",
                    "rule_matched",
                ),
                None,
            ),
        )
        _section("s0_records")

        # ---- node table: distinct (bucket, name) --------------------------------
        # persist: nodes feeds blocking (stage 1), the scoring name join
        # (stage 2) and the CC vertex set (stage 3) — without the cache each
        # consumer re-reads the records checkpoint and re-runs the distinct
        # shuffle.
        nodes = pin(node_table(records))

        # ---- stage 1: blocking keys + explicit skew handling -------------------
        def build_keys():
            # persist: the raw key table is consumed by the mega-block stats
            # collect, the salting join AND the checkpoint write — without the
            # cache the whole metaphone-UDF key derivation runs three times
            # (the mega.collect() job was also invisible to the stage wall).
            raw_keys = pin(blocking_keys(
                nodes, id_col="node_id", class_col="match_bucket",
                include_soundex=cfg.use_soundex_keys,
            ))
            salted, mega = salt_mega_blocks(raw_keys, "node_id", cfg)
            mega_rows = mega.collect()
            return salted, {
                "mega_blocks": len(mega_rows),
                "largest_block": max((r["block_size"] for r in mega_rows), default=0),
                # candidate pairs unscored in similarity mode due to salting
                # (never silent — SURVEY §7.4.4); zero impact in exact mode
                "est_dropped_pairs": int(
                    sum(max(r["est_dropped_pairs"], 0) for r in mega_rows)
                ),
            }

        keys = stage(
            "block_keys",
            upstream("records", "use_soundex_keys", "max_block_size"),
            build_keys,
        )
        _section("s1_block")

        # ---- stage 2: candidate pairs + scoring -> match edges (node-level) ----
        def build_edges():
            if cfg.score_mode == "exact":
                return star_edges(keys, "node_id"), {
                    "pairs_scored": None, "note": "exact-key parity mode: star edges"
                }
            pairs = pin(candidate_pairs(keys, "node_id"))
            n_pairs = pairs.count()  # pre-UDF: metric without re-running scoring
            scored = score_pairs(pairs, nodes, id_col="node_id", name_col="simple_owners")
            # implied record-level pair volume (diagnostic: the node graph
            # stands in for this many record pairs)
            return match_edges(scored, cfg), {"pairs_scored": n_pairs}

        edges = stage(
            "edges",
            upstream(
                "block_keys", "score_mode", "jw_threshold", "jaccard_threshold",
                "lev_ratio_threshold",
            ),
            build_edges,
        )
        _section("s2_score")

        # ---- stage 3: connected components + refinement ------------------------
        def build_clusters():
            nonlocal labels
            labels, rounds = connected_components(
                edges, vertices=nodes.select("node_id"), id_col="node_id",
                component_col="node_cluster",
            )
            return label_records(records, labels, pin), {"cc_rounds": rounds}

        clusters = stage("clusters", upstream("edges"), build_clusters)
        _section("s3_cluster")

        metrics["wall_s"] = round(time.time() - t0, 3)
        # A7 grouped distinct-count QA metric (`Name_Matching_opt.py:32` nunique
        # logging analogue): clusters per ownership class, one small agg over
        # the final checkpoint. countDistinct is exact here; at 100 TB swap for
        # approx_count_distinct.
        with described("qa"):
            metrics["clusters_per_class"] = {
                int(r["own_type"]): int(r["n_clusters"])
                for r in clusters.groupBy("own_type")
                .agg(F.countDistinct("cluster_id").alias("n_clusters"))
                .collect()
            }
        # row-count preservation guard (`Classify_Unknowns_opt.py:674-690`
        # analogue). Counts come from the committed snapshots' own lineage
        # metrics (parquet footer stats) — no extra scan jobs.
        n_in = metrics["stages"]["records"]["rows_out"]
        n_out = metrics["stages"]["clusters"]["rows_out"]
        metrics["rows_in"], metrics["rows_out"] = n_in, n_out
        _section("s4_qa")
        if n_in != n_out:
            raise RuntimeError(f"row-count invariant violated: in={n_in} out={n_out}")
        return clusters, metrics
    finally:
        for df in pinned:
            df.unpersist()
        if labels is not None:
            release_checkpoints(labels)
