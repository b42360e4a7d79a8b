"""The benchmark's workloads: seeded inputs, the timed operation and the
output check of each.

A workload is driven in three steps: ``prepare`` makes the inputs (not
counted in set-up time), ``run_pass`` is one timed operation and ``check``
verifies a pass's output, untimed. ``check`` returns one entry per attempted
operation: None when the output is right, else what is wrong with it.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os

import numpy as np
import pandas as pd

# the headline contract queries, in suite order
HEADLINE = [
    "tpch_q1_pricing",
    "join_customer_nation_revenue",
    "window_orders_per_customer",
    "priority_dedupe_orders",
    "dedup_exact_keep",
    "text_lang_id",
    "text_quality",
    "ann_cosine_topk",
    "er_score_pairs",
    "dedup_simhash_pairs",
    "dedup_minhash_fast",
    "er_cluster_documents",
]

ER_STAGES = ["records", "block_keys", "edges", "clusters"]
ER_PAGES = 2000
# lowest oracle recall the check accepts: about half the lowest measured
# (0.425 over 106 seeded 2000-page runs; see README "Workloads"). Recall has
# a long low tail: the pairs of the few largest entities dominate it
ER_MIN_RECALL = 0.2
# the contract's own sf0.01 tables (its correctness scale, seed 42), vendored:
# the oracle SQL of er_cluster_documents maps fingerprints through a key table
# (tests/data/dm_keys_sf001.csv) that covers these documents and no others
CONTRACT_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# digests of the oracle SQL's answers on CONTRACT_TABLES, each stored with the
# hash of the SQL it came from: two of the oracles take 5-8 s of DuckDB per
# run. Rewrite with `python3 -m perfbench.workloads` from the repository root
ORACLE_DIGESTS = os.path.join(os.path.dirname(CONTRACT_TABLES), "oracle_digests_sf0.01.json")

# per-span metrics of a traced run; each workload names the subset it reports
SPAN_METRICS = (
    "wall_s", "self_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "python_init_s", "python_run_s", "python_bytes_sent", "shuffle_write_bytes",
)


class ErBatch:
    """``run_pipeline`` in similarity mode over a seeded web-page corpus."""

    name = "er_batch"
    spans = ["records", "block_keys", "edges", "cc", "clusters"]
    span_metrics = SPAN_METRICS
    count_names = (
        "records.rows_out", "block_keys.mega_blocks", "block_keys.est_dropped_pairs",
        "edges.pairs_scored", "edges.match_ratio", "checkpoint.bytes_written",
    )
    ops_per_pass = 1

    def __init__(self, run_dir: str):
        self.run_dir = run_dir

    def prepare(self, spark, seed: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from fia_own_map_spark.sources.readers import read_web_pages
        from fia_own_map_spark.sources.webpages import generate_web_pages

        pages, _ = generate_web_pages(n_pages=ER_PAGES, seed=seed)
        # a multi-file parquet table, written without a Spark job
        path = os.path.join(self.run_dir, "pages")
        os.makedirs(path)
        for i, part in enumerate(np.array_split(pages, 4)):
            pq.write_table(
                pa.Table.from_pandas(part, preserve_index=False),
                os.path.join(path, f"part-{i:05d}.parquet"),
                coerce_timestamps="us",
            )
        self.pages = read_web_pages(spark, path)

    def run_pass(self, spark, index: int, tracer) -> dict:
        from fia_own_map_spark.config import EngineConfig
        from fia_own_map_spark.plans.pipeline import run_pipeline
        from fia_own_map_spark.sources.checkpoint import CheckpointStore

        # a fresh store per pass: committed stages are skipped on rerun
        store = CheckpointStore(os.path.join(self.run_dir, "ckpt"), f"pass{index}")
        clusters, metrics = run_pipeline(
            spark, self.pages, EngineConfig(score_mode="similarity"), checkpoints=store
        )
        return {"store": store, "clusters": clusters, "metrics": metrics}

    def check(self, spark, out: dict) -> tuple[list[str | None], dict]:
        from fia_own_map_spark.testing.oracle import oracle_clusters

        records = out["store"].read(spark, "records").select(
            "url", "owner1", "owner2", "own_type", "initial_class", "comb_addr"
        ).toPandas()
        pred = out["clusters"].select("url", "cluster_id").toPandas()
        problem, prf = check_er_clusters(pred, oracle_clusters(records), ER_PAGES)
        return [problem], {"oracle_recall": prf["recall"], "oracle_precision": prf["precision"]}

    @staticmethod
    def instrument(tracer):
        from perfbench.tracing import er_stage_spans

        return er_stage_spans(tracer)

    @staticmethod
    def counts(out: dict) -> dict:
        """Per-layer counts the pipeline's own metrics dict reports."""
        st = out["metrics"]["stages"]
        pairs = st["edges"].get("pairs_scored") or 0
        return {
            "records.rows_out": st["records"]["rows_out"],
            "block_keys.mega_blocks": st["block_keys"].get("mega_blocks", 0),
            "block_keys.est_dropped_pairs": st["block_keys"].get("est_dropped_pairs", 0),
            "edges.pairs_scored": pairs,
            "edges.match_ratio": st["edges"]["rows_out"] / pairs if pairs else 0.0,
            "checkpoint.bytes_written": sum(
                p["n_bytes"] for s in ER_STAGES for p in st[s]["partitions"]
            ),
        }


def check_er_clusters(
    pred: pd.DataFrame, gold: pd.DataFrame, n_pages: int
) -> tuple[str | None, dict]:
    """Similarity edges only join records that share a blocking key, so they
    may split the oracle's clusters but never merge two of them: pairwise
    precision against the oracle must be exactly 1.0. Recall must reach
    ``ER_MIN_RECALL``, so an output that drops matches (all singletons has
    precision 1.0 too) fails."""
    from fia_own_map_spark.testing.oracle import pairwise_prf

    if len(pred) != n_pages or pred["url"].nunique() != n_pages:
        return f"{len(pred)} labelled rows for {n_pages} pages", {"precision": 0.0, "recall": 0.0}
    prf = pairwise_prf(pred, gold)
    if prf["precision"] != 1.0:
        return f"pairwise precision {prf['precision']:.6f} != 1.0", prf
    if prf["recall"] < ER_MIN_RECALL:
        return f"pairwise recall {prf['recall']:.6f} < {ER_MIN_RECALL}", prf
    return None, prf


class ContractQueries:
    """The headline contract queries over the contract's sf0.01 tables, one
    span each. The tables are fixed, so the seed does not apply."""

    name = "contract_queries"
    spans = HEADLINE
    span_metrics = ("wall_s", "jobs", "executor_run_s", "python_init_s", "python_run_s")
    count_names = ()
    ops_per_pass = len(HEADLINE)

    def __init__(self, run_dir: str):
        self.sf = CONTRACT_TABLES
        self.live = None  # oracle answers computed in this run, by query

    def prepare(self, spark, seed: int) -> None:
        pass

    def run_pass(self, spark, index: int, tracer) -> dict:
        import __spark_entry__

        queries = __spark_entry__.queries()
        results = {}
        for name in HEADLINE:
            with tracer.span(name):
                try:
                    results[name] = queries[name](spark, self.sf).toPandas()
                except Exception as e:  # noqa: BLE001 — counted as a failed query
                    results[name] = e
        return results

    def check(self, spark, out: dict) -> tuple[list[str | None], dict]:
        """Each result against its oracle: by digest where the stored one
        came from the current oracle SQL, else against the SQL's answer,
        computed here in DuckDB."""
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        with open(ORACLE_DIGESTS) as f:
            stored = {
                n: d for n, d in json.load(f).items()
                if n in oracles and d["sql_sha256"] == sql_key(oracles[n])
            }
        if self.live is None:
            self.live = oracle_answers(self.sf, {n: oracles[n] for n in HEADLINE if n not in stored})
        problems = []
        for name in HEADLINE:
            got = out[name]
            if isinstance(got, Exception):
                problems.append(f"{name}: {type(got).__name__}: {got}")
            elif name in stored:
                want = stored[name]
                ok = len(got) == want["rows"] and frame_digest(got) == want["digest"]
                problems.append(None if ok else (
                    f"{name}: {len(got)} rows, {want['rows']} in the oracle's answer; "
                    "digests differ"
                ))
            else:
                problem = compare_frames(got, self.live[name])
                problems.append(f"{name}: {problem}" if problem else None)
        return problems, {}

    @staticmethod
    def instrument(tracer):
        return contextlib.nullcontext()  # each query already runs in its own span

    @staticmethod
    def counts(out: dict) -> dict:
        return {}


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns), ignore_index=True)


def _cell(v) -> str:
    if not isinstance(v, (tuple, list, np.ndarray)) and pd.isna(v):
        return "<null>"
    return str(v)


def frame_digest(df: pd.DataFrame) -> str:
    """sha256 of the column names and every cell as ``compare_frames`` sees
    them: two frames have one digest exactly when it finds no difference."""
    a = _canon(df)
    h = hashlib.sha256("\x1f".join(a.columns).encode())
    for row in zip(*(a[c].map(_cell) for c in a.columns)):
        h.update(("\n" + "\x1f".join(row)).encode())
    return h.hexdigest()


def sql_key(sql: str) -> str:
    """Hash of an oracle SQL text, with the checkout's path (which the key
    map's file name carries) left out."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return hashlib.sha256(sql.replace(root, "<root>").encode()).hexdigest()


def oracle_answers(sf: str, sqls: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Each SQL's answer in DuckDB, over the parquet tables in ``sf``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf)):
            con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{sf}/{f}'")
        return {n: con.execute(sql).fetchdf() for n, sql in sqls.items()}
    finally:
        con.close()


def oracle_digests() -> dict:
    """The headline oracles' answers on CONTRACT_TABLES, as stored in
    ORACLE_DIGESTS."""
    import __spark_entry__

    oracles = {n: __spark_entry__.oracle_sql()[n] for n in HEADLINE}
    return {
        n: {"sql_sha256": sql_key(oracles[n]), "rows": len(a), "digest": frame_digest(a)}
        for n, a in oracle_answers(CONTRACT_TABLES, oracles).items()
    }


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both frames hold the same rows (order-insensitive, floats
    to 6 places, cells compared as strings so int-vs-float differs)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a, b = _canon(got), _canon(want)
    for c in a.columns:
        if not (a[c].map(_cell) == b[c].map(_cell)).all():
            return f"values differ in column {c}"
    return None


WORKLOADS = {w.name: w for w in (ErBatch, ContractQueries)}


if __name__ == "__main__":
    with open(ORACLE_DIGESTS, "w") as f:
        json.dump(oracle_digests(), f, indent=1, sort_keys=True)
        f.write("\n")
