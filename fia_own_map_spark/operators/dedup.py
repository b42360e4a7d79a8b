"""Deduplication operators for large-scale training-data pipelines.

Three hash-based families, each a first-class engine op over a documents
table:

  * exact            — hash-groupBy on normalized text, keep min(id)
  * MinHash + LSH    — shingle -> minhash signature -> banded bucket join.
    Hash family is ``xxhash64(shingle, seed)``; the DuckDB oracle
    reproduces XXH64 in SQL (``testing/xxh64_sql.py``).
  * SimHash          — 64-bit sign-sum of token hashes (Arrow-batched pandas
    UDF), candidate pairs via prefix buckets + Hamming threshold

Scale notes: every family avoids the |corpus|² comparison — exact dedup is
one shuffle on the content hash; MinHash/SimHash pairs are generated only
inside LSH/prefix buckets (bounded, salted the same way as ER mega-blocks if
a bucket explodes); verification joins are equi-joins AQE can skew-split.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from fia_own_map_spark.session import per_core

# One cached intermediate per operator, swapped on re-invocation: persisting
# inside a lazily-returned DataFrame means the callee can't unpersist before
# the caller materializes, so instead each NEW call releases the PREVIOUS
# call's cache. Bounds executor-memory growth at one table per op for the
# session lifetime (unpersisting early only costs a recompute, never
# correctness).
_live_cache: dict[str, DataFrame] = {}


def swap_cached(key: str, df: DataFrame) -> DataFrame:
    """Persist df under key, unpersisting whatever held the key before.

    Lazy on purpose: an eager .count() materialization was A/B-tested this
    round (suspected concurrent-leaf-stage duplicate cache builds) and
    measured neutral-to-worse on every consumer — the broadcast side of
    each consumer's first join already serializes the build in practice,
    so the extra job is pure overhead."""
    prev = _live_cache.get(key)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:  # session may be gone; nothing to release
            pass
    _live_cache[key] = df.persist()
    return _live_cache[key]


def normalized_text(col: Column | str) -> Column:
    """Whitespace/case-normalized view of the text for content hashing.

    Trim runs AFTER the whitespace collapse (r7): F.trim strips the space
    character only, so trimming first left a leading/trailing space behind
    edge tabs/newlines — and splitting that on ' ' produced EMPTY edge
    tokens that the python word mirror (normalized_words_py, which filters
    empties) never saw. Collapse-then-trim guarantees the split yields no
    empty tokens for any non-blank text, keeping every consumer (exact-dup
    hash, shingles, BPE words, LM events) and both mirrors on one
    convention."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


_JAVA_WS = re.compile("[ \t\n\x0b\x0c\r]+")


def normalized_words_py(text: str) -> list[str]:
    """Python mirror of normalized_text + split-into-words, with JVM
    semantics: Java's regex \\s is ASCII-only ([ \\t\\n\\x0B\\f\\r]), so
    NBSP / U+2028 etc. are NOT word separators (python's unicode-aware
    re \\s silently diverges — keep every python-side consumer on this
    helper), and F.trim strips the space character only."""
    t = _JAVA_WS.sub(" ", text.lower().strip(" "))
    return [w for w in t.split(" ") if w]


def exact_keep_ids(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One-column table of the surviving ids (min id per distinct normalized
    content). The survivor ids ARE the per-hash min ids, so the groupBy's
    aggregate output is the answer directly — no join back to every row."""
    h = F.md5(normalized_text(text_col))
    return (
        df.select(F.coalesce(h, F.lit("__null_text__")).alias("_hash_k"), F.col(id_col))
        .groupBy("_hash_k")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row per distinct normalized content (min id wins): a
    semi-join against the keep-id aggregate, so the full (id, hash) table
    is never joined back to its group min."""
    return df.join(exact_keep_ids(df, id_col, text_col), id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def word_shingles(text_col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of the normalized text (native HOFs)."""
    toks = F.split(normalized_text(text_col), " ")
    if k == 1:  # unigram shingles are just the distinct tokens — skip the
        return F.array_distinct(toks)  # per-index slice/join expression tree
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    return F.when(n >= k, F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    )).otherwise(F.array(F.array_join(toks, " ")))


def minhash_signature(shingles: Column, n_hashes: int = 16) -> Column:
    """n-element minhash signature: array<bigint> of
    min(xxhash64(shingle, seed)) — one cheap JVM hash per shingle per seed,
    no string materialization."""
    return F.array(*[
        F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(seed))))
        for seed in range(n_hashes)
    ])


def lsh_bands(sig_col: Column | str, n_bands: int, rows_per_band: int) -> Column:
    """array<string> of band keys: band index + xxhash64 of the typed band
    slice (no string materialization)."""
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.array(*[
        F.concat(
            F.lit(f"b{b}:"),
            F.xxhash64(F.slice(sig, b * rows_per_band + 1, rows_per_band)).cast("string"),
        )
        for b in range(n_bands)
    ])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH, verified with
    exact shingle-set Jaccard. Returns (id_a, id_b, jaccard), id_a < id_b,
    one row per pair PROVIDED id_col is unique in df (the normal document-
    table contract; run exact dedup first otherwise — with duplicated ids
    the shingle-attach joins re-expand pairs, where the old post-attach
    dropDuplicates picked one arbitrary survivor).

    Buckets larger than max_bucket_size are dropped (standard LSH practice: a
    band key shared by thousands of documents carries no discrimination and
    its |B|² verification joins would dominate the job — the same mega-block
    reasoning as ER blocking, SURVEY.md §4)."""
    rows_per_band = n_hashes // n_bands
    # pre-compute repartition (same pattern as the metaphone key stage):
    # the documents table arrives as few parquet splits, and the shingle +
    # n_hashes-signature projection is the compute-heavy part — spread it
    # across the job-level shuffle width instead of the scan's splits
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    prepared = df.repartition(width, id_col).select(
        F.col(id_col),
        word_shingles(text_col, shingle_k).alias("shingles"),
    ).withColumn("sig", minhash_signature(F.col("shingles"), n_hashes))
    # persist the PREPARED table (one slim row per doc, shingles + signature):
    # it feeds the banded bucket pipeline (3 cheap re-projections) and the
    # final shingle attach on both pair sides. At production scale this
    # intermediate is checkpointed to a table instead. swap_cached releases
    # the previous invocation's copy so repeated calls don't leak.
    prepared = swap_cached("minhash_prepared", prepared)
    # every exchange between here and the verified pairs moves (id, band) /
    # (id_a, id_b) only — the shingle arrays never ride through the
    # candidate shuffles (a pair can surface in up to n_bands buckets, so
    # carrying arrays here multiplied the heaviest shuffle's payload by
    # ~2 doc-lengths per appearance); they are joined back exactly once per
    # side from the cached prepared table after the pair dedup.
    banded = prepared.select(
        id_col,
        F.explode(lsh_bands("sig", n_bands, rows_per_band)).alias("band"),
    )
    # bucket-size cap via groupBy + join, not a count window: the window
    # would put a degenerate mega-bucket (the thing the cap exists to
    # catch!) into one spilling task just to count it. The tiny size table
    # broadcasts.
    band_sizes = banded.groupBy("band").agg(F.count(F.lit(1)).alias("_bsz"))
    banded = (
        banded.join(band_sizes, "band")
        .filter(F.col("_bsz") <= max_bucket_size)
        .select(id_col, "band")
    )
    left = banded.select(F.col("band"), F.col(id_col).alias("id_a"))
    right = banded.select(F.col("band"), F.col(id_col).alias("id_b"))
    pairs = (
        left.join(right, "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = prepared.select(F.col(id_col), F.col("shingles"))
    cand = (
        pairs.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")), "id_a"
        ).join(
            sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")), "id_b"
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter / union.cast("double"))
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def _simhash64(tokens: list[str]) -> int:
    acc = np.zeros(64, dtype=np.int64)
    for t in tokens:
        h = np.int64(np.uint64(hash64(t)))
        bits = (np.uint64(h) >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        acc += np.where(bits.astype(bool), 1, -1)
    out = np.uint64(0)
    for i in range(64):
        if acc[i] > 0:
            out |= np.uint64(1) << np.uint64(i)
    return int(np.int64(out))


def hash64(s: str) -> int:
    """Deterministic 64-bit FNV-1a (stable across processes, unlike hash())."""
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def _fnv1a64_batch(tokens: list[str]) -> np.ndarray:
    """Vectorized FNV-1a over a padded uint8 matrix: bit-identical to
    ``hash64`` per token but the Python-level loop is over MAX TOKEN LENGTH
    (byte positions), not total bytes — the same trick as the JW kernel.
    Returns uint64 hashes aligned with the input list."""
    if not tokens:
        return np.empty(0, dtype=np.uint64)
    enc = [t.encode("utf-8") for t in tokens]
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=len(enc))
    maxlen = int(lens.max())
    mat = np.zeros((len(enc), maxlen), dtype=np.uint8)
    for i, b in enumerate(enc):  # row copy, not per byte
        mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    h = np.full(len(enc), 0xCBF29CE484222325, dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    for j in range(maxlen):
        live = j < lens
        h = np.where(live, (h ^ mat[:, j]) * prime, h)
    return h


def _simhash64_batch(token_lists: list[list[str]]) -> np.ndarray:
    """Vectorized simhash over many docs: hash each DISTINCT token once
    (vectorized FNV), expand via inverse indices, per-doc ±1 sign-sums via
    ``np.add.reduceat`` over doc boundaries. Bit-identical to
    ``_simhash64`` per doc (the tested invariant)."""
    ntoks = np.fromiter((len(t) for t in token_lists), dtype=np.int64, count=len(token_lists))
    flat = [t for toks in token_lists for t in toks]
    out = np.zeros(len(token_lists), dtype=np.int64)
    nonempty = ntoks > 0
    if not flat:
        return out
    inverse, uniq = pd.factorize(np.asarray(flat, dtype=object))
    all_hashes = _fnv1a64_batch(list(uniq))[inverse]  # (total_tokens,) uint64
    # doc start offsets over the flattened token stream (non-empty docs only)
    ends = np.cumsum(ntoks)
    offsets = (ends - ntoks)[nonempty]
    ntoks_ne = ntoks[nonempty]
    bitsum = np.empty((len(offsets), 64), dtype=np.int64)
    for b in range(64):  # 64 vectorized passes, not total_tokens iterations
        col = ((all_hashes >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
        bitsum[:, b] = np.add.reduceat(col, offsets)
    # acc = (+1 per set bit, -1 per clear bit) = 2*bitsum - ntok; bit set iff acc > 0
    set_bits = (2 * bitsum) > ntoks_ne[:, None]
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    fp = (set_bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    out[nonempty] = fp.view(np.int64)
    return out


@pandas_udf(LongType())
def _simhash_udf(texts: pd.Series) -> pd.Series:
    mask = texts.notna()
    token_lists = [t.lower().split() for t in texts[mask]]
    vals = _simhash64_batch(token_lists)
    out = pd.Series(np.zeros(len(texts), dtype=np.int64), index=texts.index, dtype="Int64")
    out[~mask] = None
    out[mask] = vals
    return out


def simhash(col: Column | str) -> Column:
    return _simhash_udf(F.col(col) if isinstance(col, str) else col)


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming — FULL recall via
    the pigeonhole block scheme (Manku, Jain & Sarma, WWW 2007, "Detecting
    Near-Duplicates for Web Crawling"): the 64-bit fingerprint is split into
    ``max_hamming + 1`` contiguous blocks, so any pair within the radius
    differs in at most max_hamming blocks and must agree EXACTLY on at least
    one. Each doc explodes into one row per (block_idx, block_value) bucket;
    same-bucket candidates are verified with the true 64-bit Hamming
    distance. Unlike prefix probing this misses nothing, and the join stays
    an equi-join: one shuffle on the bucket key, candidates bounded by
    bucket sizes (buckets above ``max_bucket_size`` — degenerate block
    values such as the all-zero block of near-empty docs — are dropped, the
    same mega-block cap as MinHash-LSH above)."""
    n_blocks = max_hamming + 1
    if n_blocks > 64:
        raise ValueError("max_hamming must be < 64")
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    # persist: the fingerprint table (one slim row per doc) feeds the
    # bucket-size agg AND both sides of the bucket self-join — without it
    # the simhash UDF would run three times over the corpus. The pre-UDF
    # repartition spreads the UDF one task per core instead of over the
    # scan's few parquet splits.
    sh = swap_cached(
        "simhash_fingerprints",
        per_core(df).select(
            F.col(id_col), simhash(text_col).alias("sh")
        ),
    )
    blocks = []
    lo = 0
    for i, wdt in enumerate(widths):
        val = F.shiftrightunsigned("sh", lo)
        if wdt < 64:  # wdt == 64 (max_hamming=0): the shifted word IS the
            # block; the full mask would overflow Spark's signed long literal
            val = val.bitwiseAND(F.lit((1 << wdt) - 1))
        blocks.append(F.concat_ws(":", F.lit(i), val.cast("string")))
        lo += wdt
    bucketed = sh.withColumn("bucket", F.explode(F.array(*blocks)))
    # groupBy + join, not a count window (see minhash_lsh_pairs: the cap
    # must not itself single-task the mega bucket it guards against)
    bucket_sizes = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bsz"))
    bucketed = (
        bucketed.join(bucket_sizes, "bucket")
        .filter(F.col("_bsz") <= max_bucket_size)
        .select(id_col, "sh", "bucket")
    )
    a = bucketed.select("bucket", F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = bucketed.select("bucket", F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    ham = F.bit_count(F.expr("sh_a ^ sh_b"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicates
# ---------------------------------------------------------------------------
def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucket_planes: int = 0,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity.

    bucket_planes=0 is the exact all-pairs path (only for bounded inputs);
    >0 buckets by random-hyperplane signs first (the ANN module's LSH), so
    only same-bucket pairs are compared — the scale path. Pass ``dim``
    explicitly on production paths (inference costs a Spark job and an empty
    input would otherwise have no row to infer from).
    """
    from fia_own_map_spark.operators.ann import cosine, hyperplane_bucket, _infer_dim, _seeded_planes

    base = df.select(F.col(id_col), F.col(vec_col))
    if bucket_planes > 0:
        dim = dim if dim is not None else _infer_dim(base, vec_col)
        if dim == 0:  # empty input — no pairs
            return base.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cosine double"
            )
        planes = _seeded_planes(bucket_planes, dim)
        base = base.withColumn("_bucket", hyperplane_bucket(vec_col, planes))
        join_cols = ["_bucket"]
        a = base.select("_bucket", F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
        b = base.select("_bucket", F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
        joined = a.join(b, join_cols)
    else:
        a = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
        b = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
        joined = a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Exact duplicated-SPAN detection / removal (substring-level dedup)
#
# Document-level dedup (the families above) keeps or drops whole documents;
# training corpora also carry *partial* duplication — boilerplate headers,
# license blocks, quoted passages — that survives document-level passes.
# The published recipe (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better") finds substrings of >= L tokens that appear more
# than once in the corpus with a suffix array and removes every occurrence.
# A suffix array is a single-machine construction; the distributed
# re-expression used here is the standard shingle approximation:
#
#   every k-token shingle occurring >= min_count times in the corpus marks
#   its k positions duplicated; merging overlapping/adjacent marked
#   [pos, pos+k) windows per document recovers the maximal duplicated
#   spans of length >= k.
#
# Scale design: one shuffle on the 64-bit shingle hash (map-side partial
# count; the hash keeps shuffle rows at 8 bytes/key instead of raw k-gram
# strings), one AQE-skew-splittable semi join back to positions, and one
# bounded per-document groupBy (positions per doc <= tokens per doc) whose
# interval merge runs as a native Catalyst fold — no window over an
# unbounded-cardinality key, no crossJoin, no Python in the hot path.
# `stride` subsamples shingle START positions for corpora where even the
# occurrence table is too large (recall trades away; counts stay exact for
# the emitted shingles).
# ---------------------------------------------------------------------------
def _positioned_shingles(text_col: Column | str, k: int) -> Column:
    """Array of k-token shingles where index i covers tokens [i, i+k);
    NULL when the document has fewer than k tokens."""
    toks = F.split(normalized_text(text_col), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - F.lit(k))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")),
    )


def _merged_spans(starts: Column, k: int) -> Column:
    """Fold sorted start positions into merged [s, e) token spans."""
    empty = F.expr("cast(array() as array<struct<s:int,e:int>>)")

    def step(acc: Column, p: Column) -> Column:
        last = F.element_at(acc, -1)
        extended = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(F.struct(
                last["s"].alias("s"),
                F.greatest(last["e"], p + F.lit(k)).alias("e"),
            )),
        )
        appended = F.concat(
            acc, F.array(F.struct(p.alias("s"), (p + F.lit(k)).alias("e")))
        )
        return F.when(
            (F.size(acc) > 0) & (p <= last["e"]), extended
        ).otherwise(appended)

    return F.aggregate(starts, empty, step)


def _duplicated_positions(
    df: DataFrame, id_col: str, text_col: str, k: int, min_count: int,
    stride: int, hash_shingles: bool,
) -> DataFrame:
    """(id, pos) of every shingle start whose shingle repeats in the corpus."""
    occ = df.select(
        F.col(id_col),
        F.posexplode(_positioned_shingles(text_col, k)).alias("pos", "shingle"),
    )
    if stride > 1:
        occ = occ.filter(F.col("pos") % stride == 0)
    key = (F.xxhash64("shingle") if hash_shingles else F.col("shingle")).alias("_sk")
    occ = occ.select(id_col, "pos", key)
    dup_keys = (
        occ.groupBy("_sk").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("_sk")
    )
    return occ.join(dup_keys, "_sk", "left_semi").select(id_col, "pos")


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    stride: int = 1,
    hash_shingles: bool = True,
) -> DataFrame:
    """(id, span_start, span_end) — merged maximal duplicated token spans
    (0-based, end-exclusive) per document; only documents with spans."""
    hits = _duplicated_positions(
        df, id_col, text_col, k, min_count, stride, hash_shingles
    )
    merged = hits.groupBy(id_col).agg(
        _merged_spans(F.sort_array(F.collect_list("pos")), k).alias("spans")
    )
    sp = F.explode("spans")
    return merged.select(F.col(id_col), sp.alias("sp")).select(
        id_col,
        F.col("sp.s").alias("span_start"),
        F.col("sp.e").alias("span_end"),
    )


def span_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    stride: int = 1,
    hash_shingles: bool = True,
) -> DataFrame:
    """Per-document duplication accounting over ALL documents:
    (id, n_tokens, dup_tokens, n_spans, dup_frac[6dp]); zero rows for clean
    documents so corpus-level loss of a removal pass can be budgeted
    before running it."""
    hits = _duplicated_positions(
        df, id_col, text_col, k, min_count, stride, hash_shingles
    )
    per_doc = hits.groupBy(id_col).agg(
        _merged_spans(F.sort_array(F.collect_list("pos")), k).alias("spans")
    ).select(
        id_col,
        F.aggregate(
            "spans", F.lit(0), lambda a, sp: a + sp["e"] - sp["s"]
        ).alias("dup_tokens"),
        F.size("spans").alias("n_spans"),
    )
    text = F.col(text_col)
    n_tokens = F.when(text.isNull(), F.lit(0)).otherwise(
        F.size(F.split(normalized_text(text_col), " "))
    )
    base = df.select(F.col(id_col), n_tokens.alias("n_tokens"))
    joined = base.join(per_doc, id_col, "left")
    dup = F.coalesce("dup_tokens", F.lit(0))
    return joined.select(
        id_col,
        "n_tokens",
        dup.alias("dup_tokens"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.round(
            F.when(F.col("n_tokens") > 0, dup / F.col("n_tokens"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("dup_frac"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean_text",
    k: int = 8,
    min_count: int = 2,
    stride: int = 1,
    hash_shingles: bool = True,
) -> DataFrame:
    """All input columns + out_col = the normalized text with every
    duplicated span's tokens removed (the Lee-et-al removal step: ALL
    occurrences drop, so one copy should be re-added downstream if the
    content itself must survive — the stats op is the budget check)."""
    hits = _duplicated_positions(
        df, id_col, text_col, k, min_count, stride, hash_shingles
    )
    merged = hits.groupBy(id_col).agg(
        _merged_spans(F.sort_array(F.collect_list("pos")), k).alias("spans")
    )
    toks = F.split(normalized_text(text_col), " ")
    covered = lambda i: F.exists(  # noqa: E731 — inline predicate
        "spans", lambda sp: (i >= sp["s"]) & (i < sp["e"])
    )
    kept = F.filter(toks, lambda t, i: ~covered(i))
    clean = F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
        F.when(F.col("spans").isNull(), F.array_join(toks, " "))
        .otherwise(F.array_join(kept, " "))
    )
    return df.join(merged, id_col, "left").withColumn(out_col, clean).drop("spans")
