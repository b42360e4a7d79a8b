"""Approximate-nearest-neighbor search over an embedding column.

  * ``cosine_topk``      — brute-force cosine top-k (baseline): broadcast the
    query set, dot products via native higher-order functions
    (zip_with + aggregate, JVM-side), two-phase top-k per query
    (``_global_topk`` — no single-task giant window partitions).
  * ``lsh_cosine_topk``  — random-hyperplane LSH: deterministic seeded
    planes (broadcast literals), sign-bit bucket, candidates searched
    within bucket; multi-probe (flip radius >= 1) and OR-amplification
    (``n_tables`` independent plane sets, candidate union, exact re-rank)
    are the two recall dials when per-plane selectivity is weak.
  * ``ivf_lloyd_cosine_topk`` — IVF (inverted-file) index: an integer-exact
    Lloyd-trained coarse quantizer (``lloyd_centroids``, seeded from the
    id-ordered corpus) assigns every corpus vector to a cell (one shuffle,
    done once and reusable); each query probes its ``nprobe`` nearest
    centroids and scores only those cells' vectors. The standard
    recall/throughput dial for billion-vector corpora.

At 100 TB the brute-force path is O(|corpus| x |queries|) and is only correct
for small query sets with a broadcast side; the LSH/IVF paths shuffle each
corpus row once to its cell and join cell-local.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Native dot product of two array<float/double> columns (no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def _global_topk(
    scored: DataFrame, k: int, query_id_col: str, id_col: str
) -> DataFrame:
    """Two-phase per-query top-k over (query_id, id, score) rows.

    A single window over query_id puts EVERY candidate of a query into one
    task — at corpus scale that task sorts (and spills) the whole scan.
    Phase 1 ranks within (query, input-partition): the exchange key carries
    `spark_partition_id()`, so no post-shuffle partition exceeds an input
    partition's row count, and only k rows per (query, partition) survive.
    Phase 2's per-query window then sees ≤ k x n_partitions tiny rows.
    Same total shuffle volume, no giant sorted partition anywhere."""
    part = scored.withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy(query_id_col, "_pid").orderBy(
        F.desc("score"), F.col(id_col)
    )
    pruned = (
        part.withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= k)
        .drop("_pid", "_r")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.col(id_col))
    return pruned.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force cosine top-k: (query_id, vec_id, score, rank).

    queries: (query_id, embedding). The query side is broadcast — the corpus
    is never shuffled, one scan + two-phase local top-k (_global_topk).
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("score"),
    )
    return _global_topk(scored, k, query_id_col, id_col)


def _seeded_planes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimension from the first row (one Spark job — pass dim
    explicitly on production paths); 0 when the input is empty."""
    row = df.select(vec_col).first()
    return len(row[0]) if row is not None and row[0] is not None else 0


def hyperplane_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket string from deterministic hyperplanes (native exprs)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bits = [
        F.when(dot(v, F.array(*[F.lit(float(x)) for x in plane])) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for plane in planes
    ]
    return F.concat(*bits)


# integer quantization scale for the Lloyd trainer: floor(x * 2^20).
# Multiplying a float by a power of two is EXACT (exponent shift) and floor
# is unambiguous on both engines, so the training input is the identical
# integer grid everywhere — from there every Lloyd step is pure bigint
# arithmetic (order-independent sums, explicit truncating division), which
# is what makes a TRAINED quantizer bit-reproducible across Spark
# partitionings AND in DuckDB SQL. 2^20 keeps sums far inside int64:
# |x| <= 8 -> q <= 2^23, squared diffs <= 2^48, 64-dim sums <= 2^54.
_Q_SCALE = 1 << 20


def _int_qvec(vec_col: Column | str) -> Column:
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        v, lambda x: F.floor(x.cast("double") * F.lit(float(_Q_SCALE))).cast("long")
    )


def _int_l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def lloyd_centroids(
    corpus: DataFrame,
    n_cells: int = 32,
    n_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd-trained coarse quantizer: (``_cell``, ``_c``
    array<long>) after ``n_iters`` fixed iterations from the id-ordered
    seed (the first ``n_cells`` corpus vectors in id order), entirely in
    integer arithmetic; ``n_iters=0`` is that seed itself.

    Per iteration: argmin integer-L2 assignment (ties by smallest cell),
    then centroid = truncated integer mean per dimension
    (sign(s) * (|s| div n) — written explicitly so Spark's `div` and
    DuckDB's `//` agree regardless of their negative-operand conventions);
    empty cells keep their previous centroid. Integer sums are associative,
    so the result is independent of partitioning — the property float
    KMeans can never give — and the whole fit unrolls into DuckDB SQL
    (`_ivf_lloyd_oracle_sql`). Assignment is one groupBy shuffle of slim
    (id, cell) rows per iteration with map-side partial min; at 100 TB you
    train on a sample (same determinism) and write the assignment once."""
    q = corpus.select(F.col(id_col).alias("_id"), _int_qvec(vec_col).alias("_q"))
    w = Window.orderBy("_id")  # bounded: n_cells rows after the limit
    cent = (
        q.orderBy("_id").limit(n_cells)
        .select((F.row_number().over(w) - 1).alias("_cell"), F.col("_q").alias("_c"))
    )
    for _ in range(n_iters):
        asn = (
            q.crossJoin(F.broadcast(cent))
            .withColumn("_d", _int_l2(F.col("_q"), F.col("_c")))
            .groupBy("_id")
            # (d, cell) is a total order per _id (cells are distinct), so
            # the struct-min is the exact tie-by-smallest-cell argmin; _q
            # rides along to avoid a join back
            .agg(F.min(F.struct(F.col("_d"), F.col("_cell"), F.col("_q"))).alias("_m"))
            .select(F.col("_m._cell").alias("_cell"), F.col("_m._q").alias("_q"))
        )
        sums = asn.groupBy("_cell").agg(
            F.count(F.lit(1)).alias("_n"),
            *[F.sum(F.col("_q")[i]).alias(f"_s{i}") for i in range(dim)],
        )
        newc = sums.selectExpr(
            "_cell",
            "array("
            + ",".join(
                f"cast(sign(_s{i}) as bigint) * (abs(_s{i}) div _n)" for i in range(dim)
            )
            + ") as _c_new",
        )
        cent = (
            cent.join(newc, "_cell", "left")
            .select("_cell", F.coalesce(F.col("_c_new"), F.col("_c")).alias("_c"))
        )
    return cent


def ivf_lloyd_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 32,
    nprobe: int = 6,
    n_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k with the integer-exact Lloyd-trained quantizer (seeded init
    + fixed iteration count, so the DuckDB oracle unrolls the iterations
    and value-checks the whole fit). Assignment and probing rank cells by integer L2 on the
    quantized vectors (matching the training metric); the re-rank is exact
    float cosine on the ORIGINAL embeddings, same as every other ANN path.
    Pass a prebuilt `lloyd_centroids` frame to amortize the fit across
    query batches."""
    cent = centroids if centroids is not None else lloyd_centroids(
        corpus, n_cells, n_iters, dim, id_col, vec_col
    )
    asn = (
        corpus.select(id_col, vec_col, _int_qvec(vec_col).alias("_q"))
        .crossJoin(F.broadcast(cent))
        .withColumn("_d", _int_l2(F.col("_q"), F.col("_c")))
        .groupBy(id_col)
        .agg(
            F.min(F.struct(F.col("_d"), F.col("_cell"), F.col(vec_col))).alias("_m")
        )
        .select(
            id_col,
            F.col("_m._cell").alias("_cell"),
            F.col(f"_m.{vec_col}").alias(vec_col),
        )
    )
    qprobe = (
        queries.select(query_id_col, F.col(vec_col).alias("_qvec"))
        .withColumn("_qq", _int_qvec(F.col("_qvec")))
        .crossJoin(F.broadcast(cent))
        .withColumn("_d", _int_l2(F.col("_qq"), F.col("_c")))
    )
    wq = Window.partitionBy(query_id_col).orderBy("_d", "_cell")  # bounded: n_cells rows
    probe = (
        qprobe.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(query_id_col, "_qvec", "_cell")
    )
    scored = asn.join(F.broadcast(probe), "_cell").select(
        query_id_col,
        id_col,
        F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("score"),
    )
    return _global_topk(scored, k, query_id_col, id_col)


def _probe_buckets(bucket: Column, n_planes: int, radius: int) -> Column:
    """array<string> of probe buckets: the query's own sign bucket plus
    every bucket within ``radius`` bit flips (standard multi-probe LSH —
    near-boundary neighbors land in adjacent sign buckets, so probing them
    recovers most of single-probe's recall loss at sum(C(n_planes, r))x the
    candidate volume instead of 2^n_planes). radius >= 2 generates the full
    flip-combination set (r3 ADVICE: it used to silently behave as 1)."""
    import itertools

    def _flip_at(positions: tuple[int, ...]) -> Column:
        parts = []
        prev = 0
        for i in positions:  # 1-based substring positions
            if i - 1 > prev:
                parts.append(F.substring(bucket, prev + 1, i - 1 - prev))
            parts.append(
                F.when(F.substring(bucket, i, 1) == "1", F.lit("0")).otherwise(F.lit("1"))
            )
            prev = i
        if prev < n_planes:
            parts.append(F.substring(bucket, prev + 1, n_planes - prev))
        return F.concat(*parts)

    probes = [bucket]
    for r in range(1, radius + 1):
        for combo in itertools.combinations(range(1, n_planes + 1), r):
            probes.append(_flip_at(combo))
    return F.array(*probes)


def lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multiprobe: int = 1,
    n_tables: int = 1,
) -> DataFrame | None:
    """(query_id, vec_id, vec, _qvec) candidate pairs from ``n_tables``
    independent sign-LSH tables (OR-amplification: each table gets its own
    seeded plane set; a pair is a candidate if ANY table buckets it
    together, so per-neighbor hit probability 1-(1-p_table)^L — the
    standard recall amplifier when per-plane selectivity is weak).

    Per table each corpus vector lands in exactly one ``l|bits`` bucket
    (the explode is x n_tables — at production scale each table is its own
    bucketed index, written once); candidates are deduped on
    (query, vector) before scoring so OR-amplification never re-scores.
    Returns None when the query set is empty and dim cannot be inferred.
    """
    if dim is None:
        dim = _infer_dim(queries, vec_col)
        if dim == 0:
            return None
    tables = [
        (lbl, _seeded_planes(n_planes, dim, seed + 7919 * lbl)) for lbl in range(n_tables)
    ]
    c = corpus.withColumn(
        "_bucket",
        F.explode(
            F.array(
                *[
                    F.concat(F.lit(f"{lbl}|"), hyperplane_bucket(vec_col, planes))
                    for lbl, planes in tables
                ]
            )
        ),
    )
    def _prefixed_probes(lbl: int, planes: list[list[float]]):
        prefix = f"{lbl}|"
        # NB: the transform lambda must stay unary — PySpark passes
        # (element, index) to two-parameter lambdas
        return F.transform(
            _probe_buckets(hyperplane_bucket("_qvec", planes), n_planes, multiprobe),
            lambda b: F.concat(F.lit(prefix), b),
        )

    probe_arrays = [_prefixed_probes(lbl, planes) for lbl, planes in tables]
    q = (
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
        .withColumn("_bucket", F.explode(F.flatten(F.array(*probe_arrays))))
    )
    cand = c.join(q, "_bucket").select(query_id_col, id_col, vec_col, "_qvec")
    if n_tables > 1:
        # within one table probes are distinct buckets and a vector lives in
        # one bucket, so dupes only arise ACROSS tables
        cand = cand.dropDuplicates([query_id_col, id_col])
    return cand


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multiprobe: int = 1,
    n_tables: int = 1,
) -> DataFrame:
    """LSH-bucketed cosine top-k: exact cosine over the union of candidates
    from ``n_tables`` independent tables (see ``lsh_candidates``), each
    probed at flip radius ``multiprobe``.

    Recall < 1 by construction (bucket misses); the bench reports it against
    the brute-force baseline for the OR-amplified configuration, next to
    the corpus fraction scored. The
    corpus is hashed once per table and never shuffled by the query; only
    the small query side explodes. Pass ``dim`` explicitly on production
    paths — inference costs a Spark job and needs a non-empty query set.
    """
    cand = lsh_candidates(
        corpus, queries, n_planes, dim, seed, id_col, vec_col, query_id_col,
        multiprobe, n_tables,
    )
    if cand is None:  # empty query set — empty result
        return queries.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, score double, rank int"
        )
    scored = cand.select(
        query_id_col,
        id_col,
        F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("score"),
    )
    return _global_topk(scored, k, query_id_col, id_col)
