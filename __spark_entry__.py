"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: the three-stage ER pipeline (blocking -> exact-key
                scoring -> large-star/small-star CC) over the sf0.001
                documents table.
queries()     — one entry per implemented operator family (SURVEY.md §2 +
                training-data ops); each callable is (spark, sf_dir) -> DataFrame.
oracle_sql()  — DuckDB-equivalent SQL for every SQL-expressible query; ops
                that are inherently non-SQL (xxhash64 MinHash, LSH/IVF-ANN)
                are rows-only by design — each with a value-checked sibling
                (brute-force ANN; the xxhash64 MinHash and the FNV simhash
                are value-checked directly via XXH64 / FNV-1a in SQL). The metaphone-keyed flagship IS
                value-checked: fingerprints are recomputed natively in SQL
                and only the fingerprint->code hop joins a vendored mapping
                (tests/data/dm_keys_sf001.csv, every entry cross-checked
                against PostgreSQL fuzzystrmatch dmetaphone at generation —
                tools/gen_dm_oracle_map.py). The mapping covers sf0.01, the
                driver's correctness scale.

Column names and rounding are aligned between both sides (driver hashes
values after sorting columns by name).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fia_own_map_spark.functions.combos import exploded_metaphone_keys, normalized_name_keys
from fia_own_map_spark.operators import ann, dedup, sketch, text
from fia_own_map_spark.operators.blocking import star_edges
from fia_own_map_spark.operators.cc import connected_components
from fia_own_map_spark.operators.classify import initial_class
from fia_own_map_spark.operators.refine import cluster_size
from fia_own_map_spark.operators.scoring import score_name_pairs
from fia_own_map_spark.testing import xxh64_sql as _xxh64_sql

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _norm_text(col):
    """ASCII normalization chain (regex part of `normalize_unicode_to_ascii`,
    Classify_Unknowns_opt.py:159-163) — JVM-side; NFKD is identity on the
    ASCII-only documents fixture so oracle parity holds."""
    out = F.upper(col)
    out = F.regexp_replace(out, r"[^A-Za-z0-9 ]+", " ")
    out = F.regexp_replace(out, r" +", " ")
    return F.trim(out)


_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(upper({c}), '[^A-Za-z0-9 ]+', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)


def _doc_name(k: int = 4):
    """Deterministic per-doc 'owner name': first k normalized tokens."""
    toks = F.split(_norm_text(F.col("text")), " ")
    return F.array_join(F.slice(toks, 1, k), " ")


_DOC_NAME_SQL = (
    "array_to_string((string_split(" + _NORM_SQL.format(c="text") + ", ' '))[1:{k}], ' ')"
)


# ---------------------------------------------------------------------------
# ER core queries
# ---------------------------------------------------------------------------
def q_er_normalize_ascii(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", _norm_text(F.col("text")).alias("norm_text")
    )


def q_er_token_fingerprint(spark, sf):
    toks = F.split(_norm_text(F.col("text")), " ")
    fp = F.array_join(F.array_sort(F.slice(toks, 1, 3)), "")
    return _t(spark, sf, "documents").select("doc_id", fp.alias("fingerprint"))


def q_er_blocking_keys(spark, sf):
    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.split(_doc_name(4), " ").alias("tokens"),
    )
    docs = docs.withColumn("name_keys", normalized_name_keys("tokens"))
    return exploded_metaphone_keys(docs, id_col="url").orderBy("url", "block_key")


def q_er_blocking_keys_soundex(spark, sf):
    """BOTH blocking-key families end-to-end (blocking.blocking_keys with
    include_soundex=True, VERDICT r3 item #8): metaphone keys over token
    combos plus one ``SX:``-prefixed JVM-soundex key per name token.
    Value-checked: the DuckDB oracle joins the vendored, PG-cross-checked
    token -> soundex map (tests/data/sx_keys_sf001.csv, regenerate with
    tools/gen_sx_oracle_map.py) next to the DM map."""
    from fia_own_map_spark.operators.blocking import blocking_keys

    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.split(_doc_name(4), " ").alias("tokens"),
    )
    docs = docs.withColumn("name_keys", normalized_name_keys("tokens"))
    keys = blocking_keys(docs, id_col="url", class_col=None, include_soundex=True)
    return keys.orderBy("url", "block_key")


def _cluster_docs(docs, keys):
    """Cluster the documents sharing a block key: star edges over ``keys``
    (url, block_key), CC over ``docs`` (one row per url), then each url's
    cluster_id and cluster_size, ordered by url."""
    labels, _ = connected_components(
        star_edges(keys, "url"), vertices=docs.select("url"), id_col="url",
        component_col="cluster_id",
    )
    return cluster_size(labels, "cluster_id").orderBy("url")


def q_er_cluster_documents(spark, sf):
    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.split(_doc_name(4), " ").alias("tokens"),
    )
    # persist: docs feeds both the key derivation and the CC vertex set;
    # keys feeds both sides of star_edges (hub groupBy + member join) —
    # without it the metaphone UDF projection recomputes per consumer.
    # swap_cached releases the previous invocation's copies (no session leak).
    docs = dedup.swap_cached(
        "er_cluster_documents:docs",
        docs.withColumn("name_keys", normalized_name_keys("tokens")),
    )
    keys = dedup.swap_cached(
        "er_cluster_documents:keys", exploded_metaphone_keys(docs, id_col="url")
    )
    return _cluster_docs(docs, keys)


def q_er_cluster_fingerprint(spark, sf):
    """Flagship-shaped transitive clustering with SQL-expressible blocking
    keys (sorted-token fingerprint + first token) so the driver can value-
    check the full blocking -> star-edges -> connected-components path via a
    DuckDB recursive CTE with no vendored data (the metaphone-key flagship
    is also value-checked, via the PG-cross-checked mapping CSV)."""
    docs = dedup.swap_cached(  # feeds keys + CC vertices
        "er_cluster_fingerprint:docs",
        _t(spark, sf, "documents").select(
            F.col("doc_id").cast("string").alias("url"),
            F.split(_doc_name(4), " ").alias("tokens"),
        ),
    )
    keys = dedup.swap_cached(  # feeds both sides of star_edges
        "er_cluster_fingerprint:keys",
        docs.select(
            "url",
            F.explode(
                F.array(
                    F.concat(F.lit("fp:"), F.array_join(F.array_sort("tokens"), "")),
                    F.concat(F.lit("t1:"), F.col("tokens")[0]),
                )
            ).alias("block_key"),
        ),
    )
    return _cluster_docs(docs, keys)


def q_er_score_pairs(spark, sf):
    docs = _t(spark, sf, "documents").select(
        "doc_id", _doc_name(6).alias("name")
    )
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("name").alias("name_a"))
    b = docs.select((F.col("doc_id") - 1).alias("id_a"), F.col("doc_id").alias("id_b"),
                    F.col("name").alias("name_b"))
    # the kernel directly, with no name-pair dedup, as score_pairs runs it
    # on node pairs: a dedup's shuffle and join-back cost more than the
    # repeats save (sf0.01, local[4]: 0.83 s direct vs 1.50 s deduped)
    return score_name_pairs(a.join(b, "id_a")).select(
        "id_a",
        "id_b",
        F.round("jw", 6).alias("jw"),
        F.round("lev_ratio", 6).alias("lev_ratio"),
        F.round("jaccard", 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# dedup queries
# ---------------------------------------------------------------------------
def q_dedup_exact_keep(spark, sf):
    return dedup.exact_dedup(_t(spark, sf, "documents")).select("doc_id", "text")


def q_dedup_minhash_fast(spark, sf):
    """xxhash64 hash family — the production/bench path (typed JVM hashing,
    no per-shingle string materialization). Value-checked since r5: the
    oracle reproduces XXH64 itself in DuckDB HUGEINT SQL (generated by
    fia_own_map_spark/testing/xxh64_sql.py, validated against a python
    mirror AND Spark in tests/test_xxh64_oracle.py)."""
    return dedup.minhash_lsh_pairs(
        _t(spark, sf, "documents"), n_hashes=8, n_bands=4, shingle_k=1,
        jaccard_threshold=0.9,
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash_pairs(spark, sf):
    return dedup.simhash_dup_pairs(_t(spark, sf, "documents"), max_hamming=8)


def q_span_dedup_stats(spark, sf):
    """Substring-span duplication accounting (Lee et al. 2022 detect+budget
    step): per-doc merged duplicated k-gram spans over the whole corpus.
    Production path (8-byte xxhash64 shingle keys, one shuffle + semi join +
    Catalyst-fold interval merge); the oracle groups on the shingle STRING —
    identical result absent a 64-bit collision within the contract corpus."""
    return dedup.span_dedup_stats(_t(spark, sf, "documents")).orderBy("doc_id")


def q_corpus_clean_tags(spark, sf):
    """The composed training-corpus cleaning pipeline (exact dedup -> span
    removal -> quality -> language), one lazy plan, per-doc outcome tag.
    clean_md5 value-checks the span-removed text end-to-end."""
    from fia_own_map_spark.operators.corpus import tag_corpus

    tagged = tag_corpus(_t(spark, sf, "documents"))
    return tagged.select(
        "doc_id",
        "drop_stage",
        "n_tokens_clean",
        F.md5("clean_text").alias("clean_md5"),
        "quality_score",
        "lang_pred",
    ).orderBy("doc_id")


def q_bpe_token_counts(spark, sf):
    """BPE trained IN-QUERY on the given corpus (distributed merge loop over
    the distinct-word table), then applied for per-doc subword counts. The
    oracle re-trains in pure SQL: every merge iteration unrolled as
    MATERIALIZED CTEs (pair count -> argmax -> greedy-leftmost fold via
    list_reduce), same discipline as the Lloyd-IVF oracle."""
    from fia_own_map_spark.operators.bpe import bpe_tokens, train_bpe

    d = _t(spark, sf, "documents")
    merges = train_bpe(d, n_merges=50)
    return d.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(bpe_tokens("text", merges)))
        .alias("n_subwords"),
    ).orderBy("doc_id")


def q_decontam_eval_overlap(spark, sf):
    """Eval-set decontamination (operators/decontam.py — the GPT-3-style
    k-gram overlap screen): documents with doc_id % 50 == 0 act as the
    held-out benchmark; every remaining TRAIN doc is scored by its shared
    8-gram shingles with the eval set. Production keys the join on 8-byte
    xxhash64 shingles; the oracle joins the shingle STRINGS — identical
    absent a 64-bit collision (which could only over-flag: the
    conservative direction for decontamination)."""
    from fia_own_map_spark.operators.decontam import contamination_report

    d = _t(spark, sf, "documents")
    ev = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    return contamination_report(train, ev, k=8).orderBy("doc_id")


def q_lm_doc_logprob(spark, sf):
    """CCNet-style trigram-LM perplexity scoring (operators/lm.py), trained
    IN-QUERY on the corpus it scores. The per-event log-probs are INTEGER-
    QUANTIZED (round(ln(x) * 2^20) as bigint — the Lloyd-IVF fixed-point
    discipline) so the doc scores are bit-reproducible across engines and
    partitionings; the float logprob_per_token derives from the two exact
    integers by one division. The oracle re-trains the identical model in
    DuckDB SQL (`_lm_scores_sql`)."""
    from fia_own_map_spark.operators.lm import lm_doc_scores, train_trigram_lm

    d = _t(spark, sf, "documents")
    lm = train_trigram_lm(d)
    return lm_doc_scores(d, lm).orderBy("doc_id")


# ---------------------------------------------------------------------------
# text-analysis queries
# ---------------------------------------------------------------------------
def q_dedup_embedding_cosine(spark, sf):
    """Embedding-cosine near-dup pairs (bounded slice; LSH-bucketed variant
    is the scale path, exercised in tests)."""
    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 100)
    return dedup.embedding_cosine_pairs(emb, threshold=0.2)


def q_text_lang_id(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", text.lang_id("text").alias("lang_pred")
    )


def q_text_quality(spark, sf):
    return text.quality_features(_t(spark, sf, "documents")).select(
        "doc_id", "n_tokens", "n_punct", "stopword_ratio", "punct_ratio",
        "mean_token_len", "quality_score",
    )


def q_text_token_counts(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        text.token_count_ws("text").alias("n_ws_tokens"),
        text.token_count_bpe_ish("text").alias("n_bpe_tokens"),
    )


def q_ml_cascade_lang(spark, sf):
    """M5 fast->medium classifier cascade (mapInPandas, per-executor model
    singletons; deterministic stub tiers so DuckDB can value-check the
    escalation semantics)."""
    from fia_own_map_spark.operators.ml import cascade_classify

    return cascade_classify(_t(spark, sf, "documents")).orderBy("doc_id")


def q_text_fingerprint(spark, sf):
    """Winnowing fingerprint in the md5 hash family — a hashable scalar,
    reproducible in DuckDB SQL."""
    return _t(spark, sf, "documents").select(
        "doc_id", text.doc_fingerprint_md5("text").alias("fingerprint")
    )


def q_media_probe_mixed(spark, sf):
    """media_probe over a deterministic mixed binary media column (PCM /
    IMA-ADPCM / mu-law WAV, BMP, fake) synthesized per doc_id. The oracle
    predicts every probed field in closed form from the same doc_id
    arithmetic — an end-to-end check that the header scanners extract
    exactly the values the writers encoded (sizes picked so all durations
    are exact at 6dp: k/8000 always terminates within 6 decimals)."""
    import struct as st

    import numpy as np
    import pandas as pd

    from fia_own_map_spark.operators import multimodal as mm

    def _gen(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                k = did % 5
                if k == 0:  # PCM16 WAV
                    rate = 8000 * (1 + (did % 10) // 5)
                    n = 400 + 2 * (did % 50)
                    ch = 1 + did % 2
                    blob = mm.encode_wav(np.zeros((n, ch)), rate)
                elif k == 1:  # IMA ADPCM WAV (+ fact on every other)
                    nb = 1 + did % 3
                    blocks = b"".join(
                        st.pack("<hBB", 0, 0, 0) + bytes([did % 256]) * 252
                        for _ in range(nb)
                    )
                    fmt = st.pack("<HHIIHH", 0x11, 1, 8000, 4096, 256, 4)
                    fmt += st.pack("<HH", 2, 505)
                    body = b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
                    if did % 2 == 0:
                        body += b"fact" + st.pack("<II", 4, nb * 505 - 17)
                    body += b"data" + st.pack("<I", len(blocks)) + blocks
                    blob = b"RIFF" + st.pack("<I", len(body)) + body
                elif k == 2:  # G.711 mu-law WAV
                    n = 300 + did % 50
                    fmt = st.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
                    body = b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
                    body += b"data" + st.pack("<I", n) + bytes([did % 256]) * n
                    blob = b"RIFF" + st.pack("<I", len(body)) + body
                elif k == 3:  # 24-bit BMP
                    w, h = 4 + did % 4, 3 + did % 3
                    blob = mm.encode_bmp(np.full((h, w, 3), did % 256, dtype=np.uint8))
                else:  # fake plumbing blob
                    w, h = 10 + did % 9, 5 + did % 6
                    blob = b"IMG|%d|%d|%s" % (w, h, b"x" * (did % 7 + 1))
                rows.append((str(did), blob))
            yield pd.DataFrame(rows, columns=["media_id", "blob"])

    blobs = _t(spark, sf, "documents").select("doc_id").mapInPandas(
        _gen, "media_id string, blob binary"
    )
    return mm.media_probe(blobs).select(
        F.col("media_id").cast("long").alias("doc_id"),
        "kind", "width", "height", "sample_rate", "n_channels",
        "duration_s", "detail", "n_bytes",
    )


def _structured_text_expr():
    """Deterministic multi-line rebuild of the document text (sentence
    breaks -> newlines, plus a duplicated bullet line and an ellipsis
    line) so the line-shape features are actually exercised; mirrored 1:1
    in the oracle."""
    did = F.col("doc_id")
    return F.concat(
        F.regexp_replace(F.col("text"), r"\. ", ".\n"),
        F.lit("\n- bullet point "), (did % 3).cast("string"),
        F.lit("\n- bullet point "), (did % 3).cast("string"),
        F.lit("\nthe end..."),
    )


def q_text_gopher(spark, sf):
    docs = _t(spark, sf, "documents").select(
        "doc_id", _structured_text_expr().alias("text")
    )
    return text.gopher_repetition_features(docs).select(
        "doc_id", "dup_line_frac", "dup_line_char_frac", "symbol_word_ratio",
        "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
    )


def q_text_pii_scrub(spark, sf):
    did = F.col("doc_id")
    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"),
            F.lit("@mail.example.com or 10.0."), (did % 256).cast("string"),
            F.lit(".7 ph 555-867-530"), (did % 10).cast("string"),
            F.lit(" ssn 123-45-678"), (did % 10).cast("string"),
        ).alias("text"),
    )
    return text.pii_scrub(docs).select(
        "doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4", "clean_text"
    )


# ---------------------------------------------------------------------------
# URL queries (web-pipeline feature block; all native exprs — F.parse_url
# is the JVM java.net.URI grammar, cross-checked against DuckDB's
# independent regexp grammar by the oracle)
# ---------------------------------------------------------------------------
def _doc_url_expr():
    """Deterministic synthetic URL per document (subdomain / multi-label
    public suffix / port / path depth / query params incl. utm_ tracking /
    fragment all vary by doc_id arithmetic, mirrored 1:1 in the oracle)."""
    did = F.col("doc_id")
    sub = F.element_at(
        F.array(F.lit("www."), F.lit("blog."), F.lit("")), (did % 3 + 1).cast("int")
    )
    suffix = F.element_at(
        F.array(F.lit(".co.uk"), F.lit(".com"), F.lit(".net.au"), F.lit(".org")),
        (did % 4 + 1).cast("int"),
    )
    port = F.when(did % 5 == 0, F.lit(":8080")).otherwise(F.lit(""))
    depth = did % 4
    path = (
        F.when(depth == 0, F.lit(""))
        .when(depth == 1, F.lit("/a"))
        .when(depth == 2, F.lit("/a/b"))
        .otherwise(F.lit("/a/b/c/"))
    )
    query = (
        F.when(did % 7 == 0, F.lit(""))
        .when(did % 2 == 0, F.concat(F.lit("?id="), did, F.lit("&utm_source=feed&q=term")))
        .otherwise(F.concat(F.lit("?id="), did))
    )
    frag = F.when(did % 6 == 0, F.lit("#frag")).otherwise(F.lit(""))
    return F.concat(F.lit("https://"), sub, F.col("source"), suffix, port, path, query, frag)


def q_url_features(spark, sf):
    from fia_own_map_spark.functions import url as U

    docs = _t(spark, sf, "documents").select("doc_id", _doc_url_expr().alias("url"))
    return U.with_url_features(docs).select(
        "doc_id",
        "url",
        "host",
        "reg_domain",
        "path_depth",
        U.url_query_param("url", "id").alias("id_param"),
        U.strip_tracking_params("url").alias("clean_url"),
    )


def q_url_domain_rollup(spark, sf):
    from fia_own_map_spark.functions import url as U

    docs = _t(spark, sf, "documents").select("doc_id", _doc_url_expr().alias("url"))
    feats = U.with_url_features(docs)
    return feats.groupBy("reg_domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.round(F.avg("path_depth"), 6).alias("avg_depth"),
        F.min("doc_id").alias("min_doc"),
    )


# ---------------------------------------------------------------------------
# ANN queries
# ---------------------------------------------------------------------------
def q_ann_cosine_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return ann.cosine_topk(emb, queries, k=10)


def q_ann_ivf_lloyd_topk(spark, sf):
    """IVF with the integer-exact Lloyd-TRAINED quantizer (r5 verdict #4
    option A, taken further than asked): seeded init + 2 fixed Lloyd
    iterations over floor(x * 2^20) integer vectors, so the entire FIT —
    not just assignment/probe/re-rank — is order-independent bigint
    arithmetic, bit-reproducible across partitionings and unrolled
    iteration-by-iteration in the DuckDB oracle (`_ivf_lloyd_oracle_sql`).
    This is the engine's one IVF quantizer."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return ann.ivf_lloyd_cosine_topk(
        emb, queries, k=10, n_cells=32, nprobe=6, n_iters=2
    )


def q_sketch_hll_custkeys(spark, sf):
    """HyperLogLog approximate distinct customers per order priority,
    next to the exact count it replaces at scale. p=8 (m=256, ~6.5% std
    err); every group's raw estimate exceeds 2.5m at sf>=0.01 so the
    estimator stays in the harmonic branch, which the oracle reproduces
    bit-exactly (integer-scaled denominator, xxh64 hashLong in SQL). The
    exact column is the small-scale demo foil — at 100 TB you persist the
    register table (`hll_registers`) and never run the exact distinct."""
    o = _t(spark, sf, "orders")
    est = sketch.approx_distinct(
        o, ["o_orderpriority"], "o_custkey", p=8, out_col="est_custkeys"
    )
    exact = o.filter(F.col("o_custkey").isNotNull()).groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_custkeys")
    )
    return (
        est.join(exact, "o_orderpriority")
        .select(
            "o_orderpriority",
            "est_custkeys",
            "exact_custkeys",
            F.round(
                F.abs(F.col("est_custkeys") - F.col("exact_custkeys"))
                / F.col("exact_custkeys"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("o_orderpriority")
    )


def q_sketch_cms_topcust(spark, sf):
    """Count-Min frequency estimates for the top-20 customers by order
    count, next to the exact counts. d=4, w=4096: the sketch state is at
    most 16384 slim rows however many orders exist — the scale story is
    that the exact per-key groupBy (here the demo foil) shuffles every raw
    key at 100 TB while the CMS shuffles a fixed grid. `overcount` is
    >= 0 by construction (CMS never under-counts); the DuckDB oracle
    rebuilds the double-hashed grid bit-exactly."""
    o = _t(spark, sf, "orders")
    depth, width = 4, 4096
    state = sketch.cms_sketch(o, "o_custkey", depth=depth, width=width)
    exact = (
        o.filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    top = exact.orderBy(F.col("exact_count").desc(), "o_custkey").limit(20)
    est = sketch.cms_estimate(
        state, top.select("o_custkey"), "o_custkey", depth, width
    )
    return (
        top.join(est, "o_custkey")
        .select(
            "o_custkey",
            "exact_count",
            "est_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy("o_custkey")
    )


def q_sketch_bloom_members(spark, sf):
    """Bloom-filter membership screen: build the filter over AUTOMOBILE-
    segment customer keys (m=2048 bits, k=7 — sized small so false
    positives actually occur at sf0.01), probe EVERY customer, and report
    the confusion counts. n_false_neg must be 0 (Bloom never
    false-negatives — the oracle proves it, not just a unit test); the
    false-positive count is deterministic because the bit positions are
    xxhash64 double-hashing, rebuilt bit-exactly in DuckDB SQL."""
    c = _t(spark, sf, "customer")
    k, m = 7, 2048
    members = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("k")
    )
    bloom = sketch.bloom_build(members, "k", n_hashes=k, n_bits=m)
    probes = c.select(
        F.col("c_custkey").alias("k"),
        (F.col("c_mktsegment") == "AUTOMOBILE").alias("is_member"),
    )
    flagged = sketch.bloom_contains(bloom, probes, "k", k, m)
    return flagged.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.col("is_member").cast("long")).alias("n_members"),
        F.sum(F.col("maybe_present").cast("long")).alias("n_flagged"),
        F.sum(
            (F.col("maybe_present") & ~F.col("is_member")).cast("long")
        ).alias("n_false_pos"),
        F.sum(
            (F.col("is_member") & ~F.col("maybe_present")).cast("long")
        ).alias("n_false_neg"),
    )


def q_ann_lsh_multi_topk(spark, sf):
    """OR-amplified LSH ANN: 7 independent 8-plane tables, flip-1 probes,
    union of candidates, exact cosine re-rank (see ann.lsh_candidates).
    bench.py reports its recall@10 and the corpus fraction it scores."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return ann.lsh_cosine_topk(emb, queries, k=10, n_planes=8, n_tables=7)


# ---------------------------------------------------------------------------
# relational operator parity (SURVEY.md §2) on the TPC-H-ish tables
# ---------------------------------------------------------------------------
def q_tpch_q1_pricing(spark, sf):
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_join_customer_nation_revenue(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("n_name")
    )


def q_region_nation_lut(spark, sf):
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
        .orderBy("r_name")
    )


def q_window_orders_per_customer(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey", "o_custkey", F.count(F.lit(1)).over(w).alias("total_orders")
    )


def q_priority_dedupe_orders(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        o.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def q_pivot_order_status(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
        .orderBy("o_orderpriority")
    )


def q_anti_join_customers_no_orders(spark, sf):
    """Customers with no high-value order (anti-join, SURVEY.md §2.3 J8)."""
    c = _t(spark, sf, "customer")
    big = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_anti").select("c_custkey")


def q_semi_join_segment_counts(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


def q_stratified_sample_orders(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")
    )
    return (
        o.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("o_orderpriority", "o_orderkey")
    )


def q_set_ops_customers(spark, sf):
    c = _t(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.unionByName(b).distinct().exceptAll(rich.distinct()).orderBy("c_custkey")


def q_case_recode_events(spark, sf):
    e = _t(spark, sf, "events")
    recoded = (
        F.when(F.col("event_type").isin("click", "view"), F.lit("engagement"))
        .when(F.col("event_type") == "purchase", F.lit("conversion"))
        .otherwise(F.lit("other"))
    )
    return (
        e.groupBy(recoded.alias("event_class"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .orderBy("event_class")
    )


def q_events_hourly(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("hour_start", "event_type")
    )


def q_asof_last_click(spark, sf):
    """Backward as-of join: each purchase event gets the same user's most
    recent click at-or-before it (union-sort window implementation — one
    shuffle, no range-join blow-up). Oracle: DuckDB's native ASOF JOIN."""
    from fia_own_map_spark.operators.asof import asof_join

    e = _t(spark, sf, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max_by("value", "event_id").alias("click_value"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(purchases, clicks, ["user_id"], "ts", "ts",
                    ["click_id", "click_value"])
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "click_id",
        F.round("click_value", 4).alias("click_value"),
    ).orderBy("event_id")


def q_range_clicks_before_purchase(spark, sf):
    """Keyed range join: clicks within the hour before each purchase,
    executed as a bin-bucketed equi-join (operators/asof.py) instead of the
    quadratic inequality join Spark would otherwise plan."""
    from fia_own_map_spark.operators.asof import point_in_interval_join

    e = _t(spark, sf, "events")
    epoch = F.col("ts").cast("timestamp").cast("long")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id",
        (epoch - 3600).alias("lo"), epoch.alias("hi"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", epoch.alias("c_epoch")
    )
    matched = point_in_interval_join(
        clicks, purchases, ["user_id"], "c_epoch", "lo", "hi", bin_width=3600
    )
    counts = matched.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks_prev_hour")
    )
    return (
        purchases.select("event_id", "user_id")
        .join(counts, "event_id", "left")
        .na.fill(0, ["n_clicks_prev_hour"])
        .orderBy("event_id")
    )


def q_sessionize_events(spark, sf):
    """Gap-based sessionization (30-min inactivity closes a session):
    lag -> new-session flag -> running sum = session id -> per-session aggs.
    The standard event-stream session operator, fully window-expressible."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ timestamps can't cast to long directly; epoch via timestamp. The
    # session-timezone offset cancels in the gap difference.
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    sess = e.withColumn("session_id", F.sum(new_sess).over(w))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


def q_encode_pack_lineitem(spark, sf):
    """F19 (`Map_Data_opt.py:67`): integer code packing `a*100 + b`."""
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_linenumber") * 100 + F.month("l_shipdate")).alias("packed_code"),
    )


_NATION_GROUP = {
    0: "AMERICAS", 1: "AMERICAS", 2: "ASIA", 3: "EUROPE", 4: "MEA",
}


def q_lut_recode_nation(spark, sf):
    """F20/J7 (`configs.py:115-148` reclass dict, `Last_Overlay_opt.py:28-49`
    LUT): map-literal recode, no join."""
    n = _t(spark, sf, "nation")
    mapping = F.create_map(
        *[F.lit(x) for kv in _NATION_GROUP.items() for x in kv]
    )
    return n.select(
        "n_nationkey",
        "n_name",
        F.coalesce(mapping[F.col("n_regionkey")], F.lit("OTHER")).alias("region_group"),
    )


def q_initial_class_parts(spark, sf):
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey", initial_class(F.upper(F.col("p_name")), F.lit(None).cast("string")).alias("ic")
    )


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ER clustering of the sf0.001 documents table."""
    return q_er_cluster_documents(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ER core
        "er_normalize_ascii": q_er_normalize_ascii,
        "er_token_fingerprint": q_er_token_fingerprint,
        "er_blocking_keys": q_er_blocking_keys,          # value-checked (vendored DM map)
        "er_blocking_keys_soundex": q_er_blocking_keys_soundex,  # value-checked (DM + SX maps)
        "er_cluster_documents": q_er_cluster_documents,  # value-checked (vendored DM map)
        "er_cluster_fingerprint": q_er_cluster_fingerprint,
        "er_score_pairs": q_er_score_pairs,
        # dedup family
        "dedup_exact_keep": q_dedup_exact_keep,
        "dedup_minhash_fast": q_dedup_minhash_fast,      # XXH64-in-SQL oracle (r5)
        "dedup_simhash_pairs": q_dedup_simhash_pairs,    # FNV-in-SQL oracle (r5)
        "decontam_eval_overlap": q_decontam_eval_overlap,  # eval-set n-gram screen (r7)
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "span_dedup_stats": q_span_dedup_stats,          # gaps-and-islands SQL oracle (r7)
        "corpus_clean_tags": q_corpus_clean_tags,        # full-chain SQL oracle (r7)
        "bpe_token_counts": q_bpe_token_counts,          # training-unrolled SQL oracle (r7)
        "lm_doc_logprob": q_lm_doc_logprob,              # quantized-log trigram-LM oracle (r7)
        # text analysis
        "ml_cascade_lang": q_ml_cascade_lang,
        "text_lang_id": q_text_lang_id,
        "text_quality": q_text_quality,
        "text_token_counts": q_text_token_counts,
        "text_fingerprint": q_text_fingerprint,
        "text_gopher": q_text_gopher,
        "text_pii_scrub": q_text_pii_scrub,
        # multimodal header probe (closed-form oracle; r5)
        "media_probe_mixed": q_media_probe_mixed,
        # URL features (web-pipeline block; r5)
        "url_features": q_url_features,
        "url_domain_rollup": q_url_domain_rollup,
        # ANN
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_multi_topk": q_ann_lsh_multi_topk,      # seeded-plane SQL oracle (r5)
        "ann_ivf_lloyd_topk": q_ann_ivf_lloyd_topk,      # TRAINED integer-Lloyd SQL oracle (r6)
        # sketches
        "sketch_hll_custkeys": q_sketch_hll_custkeys,    # full-HLL SQL oracle (r5)
        "sketch_cms_topcust": q_sketch_cms_topcust,      # full-CMS SQL oracle (r5)
        "sketch_bloom_members": q_sketch_bloom_members,  # full-Bloom SQL oracle (r5)
        # relational operator parity
        "tpch_q1_pricing": q_tpch_q1_pricing,
        "join_customer_nation_revenue": q_join_customer_nation_revenue,
        "region_nation_lut": q_region_nation_lut,
        "window_orders_per_customer": q_window_orders_per_customer,
        "priority_dedupe_orders": q_priority_dedupe_orders,
        "pivot_order_status": q_pivot_order_status,
        "anti_join_customers_no_orders": q_anti_join_customers_no_orders,
        "semi_join_segment_counts": q_semi_join_segment_counts,
        "stratified_sample_orders": q_stratified_sample_orders,
        "set_ops_customers": q_set_ops_customers,
        "case_recode_events": q_case_recode_events,
        "events_hourly": q_events_hourly,
        "sessionize_events": q_sessionize_events,
        "asof_last_click": q_asof_last_click,
        "range_clicks_before_purchase": q_range_clicks_before_purchase,
        "encode_pack_lineitem": q_encode_pack_lineitem,
        "lut_recode_nation": q_lut_recode_nation,
        "initial_class_parts": q_initial_class_parts,
    }


def _lsh_oracle_sql(n_planes: int, n_tables: int, dim: int = 64, k: int = 10) -> str:
    """DuckDB oracle for the sign-LSH ANN queries (r5: converts them from
    rows-only to value-checked).

    The hyperplanes are seeded literals (ann._seeded_planes), so the oracle
    inlines the exact same float64 values. The one precision trap: Spark's
    `dot` is a SEQUENTIAL left fold (F.aggregate over zip_with, init 0.0) —
    sign bits compare `>= 0` UNROUNDED, so the oracle mirrors the fold
    bit-for-bit with list_reduce(list_prepend(0.0, ...)) instead of
    list_dot_product (whose summation order is unspecified; fine for the
    6dp-rounded brute-force scores, not for a sign decision at the
    boundary). Flip-1 multiprobe + cross-table candidate dedup + exact
    re-rank reproduce ann.lsh_cosine_topk exactly."""
    from fia_own_map_spark.operators.ann import _seeded_planes

    tables = [(lbl, _seeded_planes(n_planes, dim, 42 + 7919 * lbl)) for lbl in range(n_tables)]
    plane_rows = ",".join(
        f"({lbl}, {i}, [{', '.join(repr(x) for x in p)}])"
        for lbl, planes in tables
        for i, p in enumerate(planes)
    )
    fold = lambda v, p: (  # noqa: E731 — Spark's F.aggregate left fold, exactly
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}), "
        f"i -> {v}[i]::DOUBLE * {p}[i])), (a, b) -> a + b)"
    )
    foldsq = lambda v: (  # noqa: E731
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}), "
        f"i -> {v}[i]::DOUBLE * {v}[i]::DOUBLE)), (a, b) -> a + b)"
    )
    return f"""
        WITH planes(tbl, pi, pv) AS (VALUES {plane_rows}),
        q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        cb AS (
          SELECT e.vec_id, p.tbl,
                 CAST(p.tbl AS VARCHAR) || '|' || string_agg(
                   CASE WHEN {fold('e.embedding', 'p.pv')} >= 0 THEN '1' ELSE '0' END,
                   '' ORDER BY p.pi) AS bucket
          FROM embeddings e, planes p GROUP BY e.vec_id, p.tbl),
        qb AS (
          SELECT q.query_id, p.tbl,
                 string_agg(
                   CASE WHEN {fold('q.qv', 'p.pv')} >= 0 THEN '1' ELSE '0' END,
                   '' ORDER BY p.pi) AS bucket
          FROM q, planes p GROUP BY q.query_id, p.tbl),
        probes AS (
          SELECT query_id, CAST(tbl AS VARCHAR) || '|' || bucket AS probe FROM qb
          UNION ALL
          SELECT query_id, CAST(tbl AS VARCHAR) || '|' ||
            (substr(bucket, 1, j - 1)
             || (CASE WHEN substr(bucket, j, 1) = '1' THEN '0' ELSE '1' END)
             || substr(bucket, j + 1)) AS probe
          FROM qb, range(1, {n_planes + 1}) r(j)),
        cand AS (
          SELECT DISTINCT p.query_id, c.vec_id
          FROM probes p JOIN cb c ON c.bucket = p.probe),
        scored AS (
          SELECT cand.query_id, cand.vec_id,
            round(CASE WHEN sqrt({foldsq('e.embedding')}) * sqrt({foldsq('q.qv')}) = 0 THEN 0.0
                  ELSE {fold('e.embedding', 'q.qv')}
                       / (sqrt({foldsq('e.embedding')}) * sqrt({foldsq('q.qv')})) END, 6) AS score
          FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
                    JOIN q ON q.query_id = cand.query_id)
        SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank FROM (
          SELECT query_id, vec_id, score,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
          FROM scored) WHERE rank <= {k}
    """


def _ivf_lloyd_oracle_sql(
    n_cells: int = 32, nprobe: int = 6, n_iters: int = 2, dim: int = 64, k: int = 10
) -> str:
    """DuckDB oracle for `ann_ivf_lloyd_topk` — the integer-exact TRAINED
    quantizer (ann.lloyd_centroids), iterations unrolled as CTEs.

    Training runs on floor(x * 2^20) integer vectors: multiplying a float
    by a power of two is exact and floor is unambiguous, so both engines
    train on identical bigints; integer sums are order-independent (no
    float-summation parity trap) and the centroid mean is the explicit
    sign(s) * (|s| // n) truncating division, so Spark `div` and DuckDB
    `//` agree by construction. Assignment/probe ties break by smallest
    cell; the re-rank is Spark's sequential-fold float cosine, mirrored
    as in `_lsh_oracle_sql`."""
    int_l2 = lambda a, b: (  # noqa: E731 — bigint, order-independent
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
    fold = lambda v, p: (  # noqa: E731 — Spark's sequential float fold
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}), "
        f"i -> {v}[i]::DOUBLE * {p}[i]::DOUBLE)), (a, b) -> a + b)"
    )
    foldsq = lambda v: fold(v, v)  # noqa: E731
    ctes = [
        f"""q AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(x::DOUBLE * 1048576.0) AS BIGINT)) AS qv,
                 embedding
          FROM embeddings)""",
        f"""cent0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, qv AS c
          FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {n_cells}))""",
    ]
    prev = "cent0"
    for t in range(1, n_iters + 1):
        ctes += [
            f"""asn{t} AS (
              SELECT vec_id, cell, qv FROM (
                SELECT q.vec_id, c.cell, q.qv,
                       row_number() OVER (PARTITION BY q.vec_id
                                          ORDER BY {int_l2('c.c', 'q.qv')}, c.cell) AS rn
                FROM q, {prev} c) WHERE rn = 1)""",
            f"""sums{t} AS (
              SELECT cell, i, sum(qv[i]) AS s, count(*) AS n
              FROM asn{t}, range(1, {dim + 1}) r(i) GROUP BY cell, i)""",
            f"""newc{t} AS (
              SELECT cell, list(CAST(sign(s) AS BIGINT) * (abs(s) // n) ORDER BY i) AS c
              FROM sums{t} GROUP BY cell)""",
            f"""cent{t} AS (
              SELECT p.cell, COALESCE(nw.c, p.c) AS c
              FROM {prev} p LEFT JOIN newc{t} nw USING (cell))""",
        ]
        prev = f"cent{t}"
    ctes += [
        f"""asnf AS (
          SELECT vec_id, cell, embedding FROM (
            SELECT q.vec_id, c.cell, q.embedding,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {int_l2('c.c', 'q.qv')}, c.cell) AS rn
            FROM q, {prev} c) WHERE rn = 1)""",
        """qq AS (SELECT vec_id AS query_id, qv, embedding AS qemb
                  FROM q WHERE vec_id < 5)""",
        f"""probe AS (
          SELECT query_id, cell, qemb FROM (
            SELECT qq.query_id, c.cell, qq.qemb,
                   row_number() OVER (PARTITION BY qq.query_id
                                      ORDER BY {int_l2('c.c', 'qq.qv')}, c.cell) AS rn
            FROM qq, {prev} c) WHERE rn <= {nprobe})""",
        f"""scored AS (
          SELECT p.query_id, a.vec_id,
            round(CASE WHEN sqrt({foldsq('a.embedding')}) * sqrt({foldsq('p.qemb')}) = 0
                       THEN 0.0
                  ELSE {fold('a.embedding', 'p.qemb')}
                       / (sqrt({foldsq('a.embedding')}) * sqrt({foldsq('p.qemb')})) END,
                  6) AS score
          FROM probe p JOIN asnf a USING (cell))""",
    ]
    return "WITH " + ",\n".join(ctes) + f"""
        SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank FROM (
          SELECT query_id, vec_id, score,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
          FROM scored) WHERE rank <= {k}
    """


def _hll_oracle_sql(p: int = 8) -> str:
    """DuckDB oracle for `sketch_hll_custkeys` — full HLL rebuild in SQL.

    xxhash64(o_custkey) via `xxh64_sql.hash_long_steps` (the seed-42
    hashLong specialization Spark uses for LongType), bucket/rank by
    integer division and `length(bin(w))`, registers by GROUP BY max, and
    the operator's exact integer-scaled denominator
    (`zeros * 2**R + sum(2**(R - maxrank))` in HUGEINT) so no step depends
    on float summation order. The alpha * m^2 * 2**R constant is emitted
    with repr() — shortest-round-trip decimal, parsed back to the
    identical double by both engines."""
    x = _xxh64_sql
    m = 1 << p
    nbits = 64 - p
    big_r = nbits + 1
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    numer = repr(alpha * float(m) * float(m) * (2.0 ** big_r))
    hashed = x.chain(
        "SELECT o_orderpriority, "
        + x.UNSIGNED.format(s="o_custkey")
        + " AS xu FROM (SELECT DISTINCT o_orderpriority, o_custkey "
        "FROM orders WHERE o_custkey IS NOT NULL)",
        x.hash_long_steps("xu", "42", "h"),
        "o_orderpriority, hf5 AS H",
    )
    return f"""
        WITH hashed AS ({hashed}),
        regs AS (
          SELECT o_orderpriority, CAST(H // {1 << nbits} AS BIGINT) AS bucket,
                 max(CASE WHEN H % {1 << nbits} = 0 THEN {big_r}
                     ELSE {big_r} - length(bin(CAST(H % {1 << nbits} AS BIGINT)))
                     END) AS maxrank
          FROM hashed GROUP BY 1, 2),
        agg AS (
          SELECT o_orderpriority,
                 sum(CAST(power(2.0, {big_r} - maxrank) AS HUGEINT)) AS terms,
                 count(*) AS filled
          FROM regs GROUP BY 1),
        est AS (
          SELECT o_orderpriority, {m} - filled AS zeros,
                 {numer} / CAST(({m} - filled) * CAST('{1 << big_r}' AS HUGEINT)
                                + terms AS DOUBLE) AS raw
          FROM agg),
        hll AS (
          SELECT o_orderpriority,
                 CAST(round(CASE WHEN raw <= {2.5 * m} AND zeros > 0
                       THEN {m} * ln({m} / CAST(zeros AS DOUBLE)) ELSE raw END, 0)
                      AS BIGINT) AS est_custkeys
          FROM est),
        exact AS (
          SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_custkeys
          FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1)
        SELECT o_orderpriority, est_custkeys, exact_custkeys,
               round(abs(est_custkeys - exact_custkeys)::DOUBLE / exact_custkeys, 6)
                 AS rel_err
        FROM hll JOIN exact USING (o_orderpriority)
        ORDER BY o_orderpriority
    """


def _double_hash_sql(distinct_keys_from: str) -> str:
    """SELECT k, H1, H2 for a relation of distinct non-null BIGINT keys —
    the sketch operators' double-hash base values (H1 = hashLong(k, 42),
    H2 = hashLong(k, H1), i.e. Spark's xxhash64(k) and xxhash64(k, k))
    as unsigned HUGEINTs, via the chained `xxh64_sql` step emitters."""
    x = _xxh64_sql
    return x.chain(
        f"SELECT k, {x.UNSIGNED.format(s='k')} AS xu FROM ({distinct_keys_from})",
        x.hash_long_steps("xu", "42", "h") + x.hash_long_steps("xu", "hf5", "g"),
        "k, hf5 AS H1, gf5 AS H2",
    )


def _km_slot_sql(width: int) -> str:
    """Kirsch–Mitzenmacher slot for hash row ``r.i``: mirrors
    `sketch._slot` exactly. width is a power of two, so ``H % width`` on
    the unsigned HUGEINT equals Spark's signed ``bitwiseAND(width-1)``
    (two's complement low bits); the ``| 1`` forces the stride odd on
    both engines."""
    return (
        f"(CAST(H1 % {width} AS BIGINT)"
        f" + r.i * (CAST(H2 % {width} AS BIGINT) | 1)) % {width}"
    )


def _cms_oracle_sql(depth: int = 4, width: int = 4096) -> str:
    """DuckDB oracle for `sketch_cms_topcust` — full Count-Min rebuild:
    double-hash slots per distinct key, the d x w grid by GROUP BY sum,
    min-over-rows estimates for the deterministic top-20. Pure integer
    arithmetic end to end — no float anywhere to diverge."""
    return f"""
        WITH keycnt AS (
          SELECT o_custkey AS k, count(*) AS cnt
          FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        hashed AS ({_double_hash_sql("SELECT k FROM keycnt")}),
        slots AS (
          SELECT k, r.i AS row, {_km_slot_sql(width)} AS col
          FROM hashed, range(0, {depth}) r(i)),
        state AS (
          SELECT row, col, sum(cnt) AS cellcount
          FROM slots JOIN keycnt USING (k) GROUP BY 1, 2),
        top AS (
          SELECT k, cnt AS exact_count FROM keycnt
          ORDER BY cnt DESC, k LIMIT 20),
        est AS (
          SELECT s.k, min(COALESCE(st.cellcount, 0)) AS est_count
          FROM slots s JOIN top USING (k)
          LEFT JOIN state st ON s.row = st.row AND s.col = st.col
          GROUP BY 1)
        SELECT top.k AS o_custkey,
               CAST(exact_count AS BIGINT) AS exact_count,
               CAST(est_count AS BIGINT) AS est_count,
               CAST(est_count - exact_count AS BIGINT) AS overcount
        FROM top JOIN est ON top.k = est.k
        ORDER BY o_custkey
    """


def _bloom_oracle_sql(n_hashes: int = 7, n_bits: int = 2048) -> str:
    """DuckDB oracle for `sketch_bloom_members` — full Bloom rebuild:
    member bit-set by distinct double-hash slots, per-probe flag = all k
    slots present (slot multiplicity preserved, matching the Spark
    explode+join+count), then the one-row confusion summary. n_false_neg
    = 0 is PROVEN by the value match, not just asserted."""
    return f"""
        WITH probes AS (
          SELECT c_custkey AS k, c_mktsegment = 'AUTOMOBILE' AS is_member
          FROM customer),
        hashed AS ({_double_hash_sql("SELECT DISTINCT k FROM probes")}),
        slots AS (
          SELECT k, {_km_slot_sql(n_bits)} AS bit
          FROM hashed, range(0, {n_hashes}) r(i)),
        bits AS (
          SELECT DISTINCT bit FROM slots
          JOIN (SELECT k FROM probes WHERE is_member) mem USING (k)),
        hitc AS (
          SELECT s.k, count(b.bit) AS nhit
          FROM slots s LEFT JOIN bits b USING (bit) GROUP BY 1),
        conf AS (
          SELECT p.is_member, (nhit = {n_hashes}) AS flagged
          FROM probes p JOIN hitc ON p.k = hitc.k)
        SELECT CAST(count(*) AS BIGINT) AS n_probes,
               CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_members,
               CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged,
               CAST(sum(CASE WHEN flagged AND NOT is_member THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos,
               CAST(sum(CASE WHEN is_member AND NOT flagged THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_neg
        FROM conf
    """


def _pii_sql() -> str:
    """PII-scrub oracle: patterns come from the SAME PII_PATTERNS list the
    Spark operator uses (lockstep by construction); DuckDB's RE2 engine
    independently re-executes them (counts on original text, chained
    'g'-flag replaces in list order)."""
    from fia_own_map_spark.operators.text import PII_PATTERNS

    counts = ",\n                   ".join(
        f"len(regexp_extract_all(txt, '{pat}')) AS n_{kind}"
        for kind, pat, _tok in PII_PATTERNS
    )
    red = "txt"
    for _kind, pat, tok in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    return f"""
        WITH p_t AS (
          SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@mail.example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.7 ph 555-867-530' || CAST(doc_id % 10 AS VARCHAR)
                 || ' ssn 123-45-678' || CAST(doc_id % 10 AS VARCHAR) AS txt
          FROM documents)
        SELECT doc_id,
               {counts},
               {red} AS clean_text
        FROM p_t
    """


# media_probe oracle: every field predicted in closed form from the same
# doc_id arithmetic the blob writers use — the probe must recover exactly
# what was encoded (header sizes, ADPCM frames-per-block, fact authority)
_MEDIA_PROBE_SQL = r"""
    WITH m AS (SELECT doc_id, doc_id % 5 AS k FROM documents)
    SELECT doc_id,
      CASE WHEN k IN (0, 1, 2) THEN 'wav' WHEN k = 3 THEN 'bmp' ELSE 'fake' END AS kind,
      CASE WHEN k = 3 THEN CAST(4 + doc_id % 4 AS INT)
           WHEN k = 4 THEN CAST(10 + doc_id % 9 AS INT) END AS width,
      CASE WHEN k = 3 THEN CAST(3 + doc_id % 3 AS INT)
           WHEN k = 4 THEN CAST(5 + doc_id % 6 AS INT) END AS height,
      CASE WHEN k = 0 THEN CAST(8000 * (1 + (doc_id % 10) // 5) AS INT)
           WHEN k IN (1, 2) THEN 8000 END AS sample_rate,
      CASE WHEN k = 0 THEN CAST(1 + doc_id % 2 AS INT)
           WHEN k IN (1, 2) THEN 1 END AS n_channels,
      CASE WHEN k = 0 THEN round((400 + 2 * (doc_id % 50))
                / CAST(8000 * (1 + (doc_id % 10) // 5) AS DOUBLE), 6)
           WHEN k = 1 AND doc_id % 2 = 0
                THEN round(((1 + doc_id % 3) * 505 - 17) / 8000.0, 6)
           WHEN k = 1 THEN round((1 + doc_id % 3) * 505 / 8000.0, 6)
           WHEN k = 2 THEN round((300 + doc_id % 50) / 8000.0, 6) END AS duration_s,
      CASE WHEN k = 0 THEN '16-bit' WHEN k = 1 THEN '4-bit'
           WHEN k = 2 THEN '8-bit' END AS detail,
      CAST(CASE WHEN k = 0 THEN 44 + (400 + 2 * (doc_id % 50)) * (1 + doc_id % 2) * 2
                WHEN k = 1 THEN 48 + CASE WHEN doc_id % 2 = 0 THEN 12 ELSE 0 END
                     + (1 + doc_id % 3) * 256
                WHEN k = 2 THEN 344 + doc_id % 50
                WHEN k = 3 THEN 54 + (3 + doc_id % 3)
                     * (((3 * (4 + doc_id % 4) + 3) // 4) * 4)
                ELSE 9 + length(CAST(5 + doc_id % 6 AS VARCHAR)) + doc_id % 7
           END AS INT) AS n_bytes
    FROM m
"""


_GOPHER_SQL = r"""
    WITH g_t AS (
      SELECT doc_id,
        regexp_replace(text, '\. ', '.' || chr(10), 'g')
        || chr(10) || '- bullet point ' || CAST(doc_id % 3 AS VARCHAR)
        || chr(10) || '- bullet point ' || CAST(doc_id % 3 AS VARCHAR)
        || chr(10) || 'the end...' AS txt
      FROM documents),
    g_l AS (
      SELECT doc_id, txt,
        list_filter(string_split(txt, chr(10)), x -> trim(x) <> '') AS lines,
        list_filter(string_split_regex(trim(txt), '\s+'), x -> x <> '') AS toks
      FROM g_t),
    g_m AS (
      SELECT doc_id,
        len(lines) AS n_lines,
        len(lines) - len(list_distinct(lines)) AS n_dup,
        coalesce(list_sum(list_transform(range(2, len(lines) + 1),
            i -> CASE WHEN list_sort(lines)[i] = list_sort(lines)[i - 1]
                 THEN length(list_sort(lines)[i]) ELSE 0 END)), 0) AS dup_chars,
        coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS line_chars,
        len(toks) AS n_words,
        len(regexp_extract_all(txt, '#|\.\.\.|…')) AS n_symbols,
        len(list_filter(lines,
            x -> substr(trim(x), 1, 1) IN ('-', '*', '•', '‣', '▪'))) AS n_bullet,
        len(list_filter(lines,
            x -> ends_with(trim(x), '...') OR ends_with(trim(x), '…'))) AS n_ellipsis,
        len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha
      FROM g_l)
    SELECT doc_id,
      CASE WHEN n_lines > 0 THEN round(n_dup / CAST(n_lines AS DOUBLE), 6)
           ELSE 0.0 END AS dup_line_frac,
      CASE WHEN line_chars > 0 THEN round(dup_chars / CAST(line_chars AS DOUBLE), 6)
           ELSE 0.0 END AS dup_line_char_frac,
      CASE WHEN n_words > 0 THEN round(n_symbols / CAST(n_words AS DOUBLE), 6)
           ELSE 0.0 END AS symbol_word_ratio,
      CASE WHEN n_lines > 0 THEN round(n_bullet / CAST(n_lines AS DOUBLE), 6)
           ELSE 0.0 END AS bullet_line_frac,
      CASE WHEN n_lines > 0 THEN round(n_ellipsis / CAST(n_lines AS DOUBLE), 6)
           ELSE 0.0 END AS ellipsis_line_frac,
      CASE WHEN n_words > 0 THEN round(n_alpha / CAST(n_words AS DOUBLE), 6)
           ELSE 0.0 END AS alpha_word_frac
    FROM g_m
"""


# Shared CTE for the URL oracles: deterministic URL synthesis (same doc_id
# arithmetic as _doc_url_expr) + feature re-derivation in DuckDB's own
# string/regexp grammar. Multi-label suffix list mirrors
# fia_own_map_spark.functions.url._MULTI_SUFFIXES.
def _url_cte() -> str:
    from fia_own_map_spark.functions.url import _MULTI_SUFFIXES

    suffixes = ", ".join(f"'{s}'" for s in _MULTI_SUFFIXES)
    return f"""
        WITH url_u AS (
          SELECT doc_id,
            'https://'
            || CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.' ELSE '' END
            || source
            || CASE doc_id % 4 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
                               WHEN 2 THEN '.net.au' ELSE '.org' END
            || CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END
            || CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN '/a'
                               WHEN 2 THEN '/a/b' ELSE '/a/b/c/' END
            || CASE WHEN doc_id % 7 = 0 THEN ''
                    WHEN doc_id % 2 = 0 THEN '?id=' || doc_id || '&utm_source=feed&q=term'
                    ELSE '?id=' || doc_id END
            || CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END AS url
          FROM documents),
        url_f AS (
          SELECT doc_id, url,
            lower(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1)) AS host,
            regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
            regexp_replace(url, '#.*$', '') AS nofrag
          FROM url_u),
        url_g AS (
          SELECT doc_id, url, host,
            CASE WHEN len(string_split(host, '.')) >= 3
                      AND string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
                          IN ({suffixes})
                 THEN string_split(host, '.')[-3] || '.' || string_split(host, '.')[-2]
                      || '.' || string_split(host, '.')[-1]
                 WHEN len(string_split(host, '.')) >= 2
                 THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
                 ELSE host END AS reg_domain,
            len(list_filter(string_split(path, '/'), x -> x <> '')) AS path_depth,
            nullif(regexp_extract(url, '[?&]id=([^&#]*)', 1), '') AS id_param,
            CASE WHEN position('?' IN nofrag) > 0
                 THEN substr(nofrag, position('?' IN nofrag) + 1) END AS qs,
            CASE WHEN position('?' IN nofrag) > 0
                 THEN substr(nofrag, 1, position('?' IN nofrag) - 1)
                 ELSE nofrag END AS base
          FROM url_f)
    """


_URL_CTE = _url_cte()


def oracle_sql() -> dict[str, str]:
    norm = _NORM_SQL.format(c="text")
    name6 = _DOC_NAME_SQL.format(k=6)
    corp_pat, junior_pat = _initial_class_patterns()
    # shared CTE chain for the metaphone-keyed queries: docs -> token combos
    # (full tuple + (n-1)-subsets when n > 2, Classify_Unknowns_opt.py:166-170)
    # -> sorted-concat fingerprints -> vendored DM codes (PG-cross-checked
    # mapping; see module docstring). Mirrors combos.normalized_name_keys /
    # exploded_metaphone_keys exactly.
    dm_csv = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tests", "data", "dm_keys_sf001.csv"
    )
    sx_csv = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tests", "data", "sx_keys_sf001.csv"
    )
    dm_keys_ctes = f"""
            docs AS (SELECT doc_id::VARCHAR AS url,
                            string_split({_DOC_NAME_SQL.format(k=4)}, ' ') AS toks
                     FROM documents),
            combos AS (
              SELECT url, toks AS c FROM docs
              UNION ALL
              SELECT url, list_concat(toks[1:i-1], toks[i+1:len(toks)]) AS c
              FROM docs, (SELECT unnest([1,2,3,4,5,6]) AS i) ix
              WHERE len(toks) > 2 AND i <= len(toks)),
            fps AS (SELECT DISTINCT url, upper(array_to_string(list_sort(c), '')) AS fp
                    FROM combos WHERE length(array_to_string(c, '')) > 0),
            keys AS (SELECT DISTINCT url, m.code AS block_key
                     FROM fps JOIN read_csv('{dm_csv}', header=true,
                                            columns={{'fp':'VARCHAR','code':'VARCHAR'}}) m
                     USING (fp) WHERE length(m.code) > 0)"""
    return {
        "er_normalize_ascii": f"SELECT doc_id, {norm} AS norm_text FROM documents",
        "er_token_fingerprint": (
            f"SELECT doc_id, array_to_string(list_sort((string_split({norm},' '))[1:3]), '')"
            " AS fingerprint FROM documents"
        ),
        "er_blocking_keys": f"""
            WITH {dm_keys_ctes}
            SELECT url, block_key FROM keys ORDER BY url, block_key
        """,
        "er_blocking_keys_soundex": f"""
            WITH {dm_keys_ctes},
            sx AS (SELECT DISTINCT d.url, 'SX:' || m.code AS block_key
                   FROM (SELECT url, t.tok FROM docs, unnest(docs.toks) AS t(tok)
                         WHERE length(t.tok) > 1) d
                   JOIN read_csv('{sx_csv}', header=true,
                                 columns={{'tok':'VARCHAR','code':'VARCHAR'}}) m
                     ON d.tok = m.tok)
            SELECT url, block_key FROM keys
            UNION ALL
            SELECT url, block_key FROM sx
            ORDER BY url, block_key
        """,
        "er_cluster_documents": f"""
            WITH RECURSIVE {dm_keys_ctes},
            hubs AS (SELECT block_key, min(url) AS hub FROM keys GROUP BY block_key),
            edges AS (
              SELECT DISTINCT k.url AS src, h.hub AS dst
              FROM keys k JOIN hubs h USING (block_key) WHERE k.url <> h.hub),
            sym AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
            reach(id, r) AS (
              SELECT url, url FROM docs
              UNION
              SELECT reach.id, sym.dst FROM reach JOIN sym ON sym.src = reach.r),
            comp AS (SELECT id AS url, min(r) AS cluster_id FROM reach GROUP BY id)
            SELECT url, cluster_id,
                   count(*) OVER (PARTITION BY cluster_id) AS cluster_size
            FROM comp ORDER BY url
        """,
        "er_cluster_fingerprint": f"""
            WITH RECURSIVE
            docs AS (SELECT doc_id::VARCHAR AS url,
                            string_split({_DOC_NAME_SQL.format(k=4)}, ' ') AS toks
                     FROM documents),
            keys AS (
              SELECT url, 'fp:' || array_to_string(list_sort(toks), '') AS block_key FROM docs
              UNION ALL
              SELECT url, 't1:' || toks[1] AS block_key FROM docs),
            hubs AS (SELECT block_key, min(url) AS hub FROM keys GROUP BY block_key),
            edges AS (
              SELECT DISTINCT k.url AS src, h.hub AS dst
              FROM keys k JOIN hubs h USING (block_key) WHERE k.url <> h.hub),
            sym AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
            reach(id, r) AS (
              SELECT url, url FROM docs
              UNION
              SELECT reach.id, sym.dst FROM reach JOIN sym ON sym.src = reach.r),
            comp AS (SELECT id AS url, min(r) AS cluster_id FROM reach GROUP BY id)
            SELECT url, cluster_id,
                   count(*) OVER (PARTITION BY cluster_id) AS cluster_size
            FROM comp ORDER BY url
        """,
        "er_score_pairs": f"""
            WITH named AS (SELECT doc_id, {name6} AS name FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(jaro_winkler_similarity(a.name, b.name), 6) AS jw,
                   round(CASE WHEN greatest(length(a.name), length(b.name)) = 0 THEN 1.0
                         ELSE 1.0 - levenshtein(a.name, b.name)::double
                              / greatest(length(a.name), length(b.name)) END, 6) AS lev_ratio,
                   round(CASE WHEN len(list_distinct(list_concat(string_split(a.name,' '),
                                                                 string_split(b.name,' ')))) = 0
                         THEN 1.0
                         ELSE len(list_intersect(string_split(a.name,' '), string_split(b.name,' ')))::double
                              / len(list_distinct(list_concat(string_split(a.name,' '),
                                                              string_split(b.name,' ')))) END, 6) AS jaccard
            FROM named a JOIN named b ON b.doc_id = a.doc_id + 1
        """,
        "dedup_exact_keep": """
            SELECT doc_id, text FROM (
              SELECT doc_id, text,
                     min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
                         AS canon
              FROM documents) WHERE doc_id = canon
        """,
        "span_dedup_stats": _span_stats_sql(),
        "corpus_clean_tags": _corpus_tags_sql(),
        "bpe_token_counts": _bpe_oracle_sql(n_merges=50),
        # FNV-1a 64 reproduced in pure SQL (r4 verdict stretch #8): token
        # bytes via hex(encode(t)) nibble lookup, the xor-multiply fold as a
        # list_reduce in HUGEINT with an explicit mod-2^64 wrap (64x40-bit
        # product fits 128 bits), then the Manku pigeonhole bucket join
        # exactly as dedup.simhash_dup_pairs builds it (widths [8,7x8],
        # bucket cap 1000, true 64-bit Hamming verify). Converts the last
        # dedup-family query from rows-only to value-checked.
        "dedup_simhash_pairs": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                        x -> x <> '')) AS t
              FROM documents WHERE text IS NOT NULL),
            toku AS (SELECT DISTINCT t FROM tok),
            thu AS (
              SELECT t, CAST(list_reduce(
                list_prepend(CAST('14695981039346656037' AS HUGEINT),
                  list_transform(range(1, octet_length(encode(t)) + 1),
                    i -> CAST(16 * (strpos('0123456789ABCDEF', substr(hex(encode(t)), 2*i-1, 1)) - 1)
                            + (strpos('0123456789ABCDEF', substr(hex(encode(t)), 2*i, 1)) - 1) AS HUGEINT))),
                (acc, b) -> (CAST(xor(CAST(acc AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT)
                             * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)
              ) AS UBIGINT) AS h FROM toku),
            th AS (SELECT tok.doc_id, thu.h FROM tok JOIN thu USING (t)),
            ntok AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
            bitcnt AS (
              SELECT doc_id, b, sum(CAST((h >> CAST(b AS UBIGINT)) & 1 AS BIGINT)) AS cnt
              FROM th, range(64) r(b) GROUP BY doc_id, b),
            fp0 AS (
              SELECT bitcnt.doc_id,
                CAST(sum(CASE WHEN 2*cnt > n THEN
                  CASE WHEN b = 63 THEN CAST('-9223372036854775808' AS BIGINT)
                       ELSE (CAST(1 AS BIGINT) << b) END ELSE 0 END) AS BIGINT) AS sh
              FROM bitcnt JOIN ntok USING (doc_id) GROUP BY bitcnt.doc_id),
            fp AS (
              SELECT d.doc_id,
                CAST(CAST(COALESCE(f.sh, 0) AS HUGEINT)
                  + CASE WHEN COALESCE(f.sh, 0) < 0
                         THEN CAST('18446744073709551616' AS HUGEINT)
                         ELSE 0 END AS UBIGINT) AS shu
              FROM documents d LEFT JOIN fp0 f USING (doc_id)
              WHERE d.text IS NOT NULL),
            buck AS (
              SELECT doc_id, shu,
                CAST(i AS VARCHAR) || ':'
                  || CAST(((shu >> CAST(off AS UBIGINT)) & CAST(mask AS UBIGINT)) AS VARCHAR) AS bucket
              FROM fp, (VALUES (0,0,255),(1,8,127),(2,15,127),(3,22,127),(4,29,127),
                               (5,36,127),(6,43,127),(7,50,127),(8,57,127)) v(i, off, mask)),
            capped AS (SELECT * FROM buck
                       QUALIFY count(*) OVER (PARTITION BY bucket) <= 1000),
            pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.shu, b.shu)) AS INT) AS hamming
              FROM capped a JOIN capped b USING (bucket) WHERE a.doc_id < b.doc_id)
            SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 8
        """,
        "decontam_eval_overlap": _decontam_oracle_sql(),
        # XXH64 itself reproduced in DuckDB HUGEINT SQL (r5): split-multiply
        # mod 2^64, list_reduce folds for the 32-byte 4-lane blocks and
        # 8-byte words, subselect-chained unrolls for the fixed steps.
        # Generated by testing/xxh64_sql.py; validated vs a python mirror
        # and vs Spark in tests/test_xxh64_oracle.py.
        "dedup_minhash_fast": _xxh64_sql.minhash_fast_oracle_sql(
            n_hashes=8, n_bands=4, jaccard_threshold=0.9
        ),
        # NB: embeddings are FLOAT[]; DuckDB's list_dot_product would fold in
        # float32 while Spark casts elements to double first — cast to
        # DOUBLE[] so both engines do the identical sequential float64 fold.
        "dedup_embedding_cosine": """
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                       FROM embeddings WHERE vec_id < 100)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(CASE WHEN sqrt(list_dot_product(a.v, a.v))
                                   * sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
                         ELSE list_dot_product(a.v, b.v)
                              / (sqrt(list_dot_product(a.v, a.v))
                                 * sqrt(list_dot_product(b.v, b.v))) END, 6)
                       AS cosine
            FROM e a, e b
            WHERE a.vec_id < b.vec_id
              AND round(CASE WHEN sqrt(list_dot_product(a.v, a.v))
                                  * sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
                        ELSE list_dot_product(a.v, b.v)
                             / (sqrt(list_dot_product(a.v, a.v))
                                * sqrt(list_dot_product(b.v, b.v))) END, 6) >= 0.2
        """,
        # winnowing (Schleimer et al. 2003) in the md5 hash family: k=5-gram
        # hashes, min per 4-window, consecutive-dedup — pure list ops
        "text_fingerprint": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
              FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) = 0 THEN []
                          WHEN len(toks) < 5 THEN [md5(array_to_string(toks, ' '))]
                          ELSE [md5(array_to_string(toks[i:i+4], ' '))
                                FOR i IN range(1, len(toks) - 3)]
                     END AS grams
              FROM t),
            m AS (
              SELECT doc_id,
                     CASE WHEN len(grams) = 0 THEN []
                          WHEN len(grams) <= 4 THEN [list_min(grams)]
                          ELSE [list_min(grams[i:i+3]) FOR i IN range(1, len(grams) - 2)]
                     END AS mins
              FROM g)
            SELECT doc_id,
                   array_to_string(list_filter(mins, (x, i) -> i = 1 OR x <> mins[i-1]), ',')
                       AS fingerprint
            FROM m
        """,
        # Gopher-style repetition/shape gates + PII scrub: text rebuilt with
        # identical doc_id arithmetic, features re-derived with DuckDB list
        # ops / RE2 regexps
        "text_gopher": _GOPHER_SQL,
        "text_pii_scrub": _pii_sql(),
        "media_probe_mixed": _MEDIA_PROBE_SQL,
        # URL feature block: the synthetic URL is rebuilt with identical
        # doc_id arithmetic, then every feature is re-derived with DuckDB's
        # independent string/regexp grammar (host/path regexes, PSL-subset
        # eTLD+1, utm_ strip) — a true cross-engine check of F.parse_url
        "url_features": _URL_CTE + r"""
            SELECT doc_id, url, host, reg_domain, path_depth, id_param,
                   CASE WHEN qs IS NOT NULL
                             AND len(list_filter(string_split(qs, '&'),
                                                 x -> NOT starts_with(x, 'utm_'))) > 0
                        THEN base || '?' || array_to_string(
                               list_filter(string_split(qs, '&'),
                                           x -> NOT starts_with(x, 'utm_')), '&')
                        ELSE base END AS clean_url
            FROM url_g
        """,
        "url_domain_rollup": _URL_CTE + r"""
            SELECT reg_domain,
                   count(*) AS n_docs,
                   count(DISTINCT host) AS n_hosts,
                   round(avg(path_depth), 6) AS avg_depth,
                   min(doc_id) AS min_doc
            FROM url_g GROUP BY reg_domain
        """,
        "ml_cascade_lang": _cascade_sql(),
        "text_lang_id": _lang_id_sql(),
        "text_quality": _quality_sql(),
        "text_token_counts": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END AS n_ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
            FROM documents
        """,
        # double-cast for the same float64-fold parity as dedup_embedding_cosine
        # sign-LSH ANN: planes are seeded literals, folds mirror Spark's
        # sequential F.aggregate exactly (see _lsh_oracle_sql) — value-checked
        # as of r5 (was rows-only)
        "ann_lsh_multi_topk": _lsh_oracle_sql(n_planes=8, n_tables=7),
        "lm_doc_logprob": _lm_scores_sql(),
        # TRAINED quantizer, value-checked: 2 Lloyd iterations over
        # floor(x*2^20) integer vectors unrolled as CTEs — the fit itself
        # is bit-reproducible (integer sums, explicit truncating division)
        "ann_ivf_lloyd_topk": _ivf_lloyd_oracle_sql(n_cells=32, nprobe=6, n_iters=2),
        # HyperLogLog rebuilt end-to-end in SQL (registers + estimator)
        "sketch_hll_custkeys": _hll_oracle_sql(p=8),
        # Count-Min grid and Bloom bit-set rebuilt in pure-integer SQL
        "sketch_cms_topcust": _cms_oracle_sql(depth=4, width=4096),
        "sketch_bloom_members": _bloom_oracle_sql(n_hashes=7, n_bits=2048),
        "ann_cosine_topk": """
            WITH ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                        FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qvec FROM ed WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     round(CASE WHEN sqrt(list_dot_product(e.v, e.v))
                                     * sqrt(list_dot_product(q.qvec, q.qvec)) = 0 THEN 0.0
                           ELSE list_dot_product(e.v, q.qvec)
                                / (sqrt(list_dot_product(e.v, e.v))
                                   * sqrt(list_dot_product(q.qvec, q.qvec))) END, 6) AS score
              FROM ed e CROSS JOIN q)
            SELECT query_id, vec_id, score,
                   row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
            FROM scored
            QUALIFY rank <= 10
        """,
        "tpch_q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "join_customer_nation_revenue": """
            SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "region_nation_lut": """
            SELECT r_name, count(*) AS n_nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "window_orders_per_customer": """
            SELECT o_orderkey, o_custkey,
                   count(*) OVER (PARTITION BY o_custkey) AS total_orders
            FROM orders
        """,
        "priority_dedupe_orders": """
            SELECT o_custkey, o_orderkey, o_totalprice FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) WHERE rn = 1
        """,
        "pivot_order_status": """
            SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "anti_join_customers_no_orders": """
            SELECT c_custkey FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        """,
        "semi_join_segment_counts": """
            SELECT c_mktsegment, count(*) AS n_customers FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "stratified_sample_orders": """
            SELECT o_orderpriority, o_orderkey FROM (
              SELECT o_orderpriority, o_orderkey,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY md5(o_orderkey::varchar), o_orderkey) AS rn
              FROM orders) WHERE rn <= 3
        """,
        "set_ops_customers": """
            (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             UNION
             SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
            EXCEPT
            SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 9000
            ORDER BY c_custkey
        """,
        "case_recode_events": """
            SELECT CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
                        WHEN event_type = 'purchase' THEN 'conversion'
                        ELSE 'other' END AS event_class,
                   count(*) AS n_events, round(sum(value), 4) AS total_value
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                   event_type, count(*) AS n_events, round(avg(value), 6) AS avg_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "range_clicks_before_purchase": """
            WITH p AS (SELECT event_id, user_id, epoch(ts) - 3600 AS lo, epoch(ts) AS hi
                       FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id, epoch(ts) AS ce FROM events WHERE event_type = 'click')
            SELECT p.event_id, p.user_id, count(c.ce) AS n_clicks_prev_hour
            FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ce >= p.lo AND c.ce <= p.hi
            GROUP BY 1, 2 ORDER BY 1
        """,
        "asof_last_click": """
            WITH c AS (SELECT user_id, ts, max(event_id) AS click_id,
                              max_by(value, event_id) AS click_value
                       FROM events WHERE event_type = 'click' GROUP BY 1, 2),
            p AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase')
            SELECT p.event_id, p.user_id,
                   strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
                   c.click_id, round(c.click_value, 4) AS click_value
            FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
            ORDER BY p.event_id
        """,
        "sessionize_events": """
            WITH flagged AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                               OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            numbered AS (
              SELECT user_id, ts, value,
                     (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id))::BIGINT
                         AS session_id
              FROM flagged)
            SELECT user_id, session_id,
                   count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                   round(sum(value), 4) AS total_value
            FROM numbered
            GROUP BY user_id, session_id
            ORDER BY user_id, session_id
        """,
        "encode_pack_lineitem": """
            SELECT l_orderkey, l_linenumber,
                   l_linenumber * 100 + month(l_shipdate) AS packed_code
            FROM lineitem
        """,
        "lut_recode_nation": """
            SELECT n_nationkey, n_name,
                   CASE n_regionkey WHEN 0 THEN 'AMERICAS' WHEN 1 THEN 'AMERICAS'
                        WHEN 2 THEN 'ASIA' WHEN 3 THEN 'EUROPE' WHEN 4 THEN 'MEA'
                        ELSE 'OTHER' END AS region_group
            FROM nation
        """,
        "initial_class_parts": f"""
            SELECT p_partkey,
                   CASE WHEN regexp_matches(upper(p_name), '{corp_pat}') THEN 0
                        WHEN regexp_matches(upper(p_name), '{junior_pat}') THEN 3
                        WHEN len(string_split_regex(trim(upper(p_name)), '\\s+')) > 1 THEN 1
                        WHEN len(string_split_regex(trim(upper(p_name)), '\\s+')) = 1 THEN 0
                        ELSE 10 END AS ic
            FROM part
        """,
    }


def _initial_class_patterns() -> tuple[str, str]:
    """Shared regex constants for the initial-class ladder oracle (escaped
    for SQL single-quoted literals; RE2 accepts (?i) and \\b like Java)."""
    from fia_own_map_spark.config import CORPORATE_INDICATOR_KEYWORDS, JUNIOR_KEYWORDS

    def pat(words):
        joined = "|".join(v.strip() for v in words)
        return (r"(?i)\b(?:" + joined + r")\b").replace("'", "''")

    return pat(CORPORATE_INDICATOR_KEYWORDS), pat(JUNIOR_KEYWORDS)


def _lang_id_sql() -> str:
    from fia_own_map_spark.operators.text import LANG_PROFILES

    scores = {
        lang: (
            "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
            f" t -> list_contains({words!r}, t)))"
        ).replace('"', "'")
        for lang, words in LANG_PROFILES.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(
        f"WHEN {scores[lang]} = best AND best > 0 THEN '{lang}'" for lang in sorted(scores)
    )
    return f"""
        SELECT doc_id, CASE {cases} ELSE 'und' END AS lang_pred
        FROM (SELECT doc_id, text, {best} AS best FROM documents)
    """


def _cascade_sql() -> str:
    """Oracle for the M5 cascade: fast tier = stopword lang-ID (same CASE as
    text_lang_id), medium tier = CJK-script detect + stopword ID + 'en'
    prior; escalation only when the fast prediction misses the label."""
    from fia_own_map_spark.operators.text import LANG_PROFILES

    scores = {
        lang: (
            "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
            f" t -> list_contains({words!r}, t)))"
        ).replace('"', "'")
        for lang, words in LANG_PROFILES.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(
        f"WHEN {scores[lang]} = best AND best > 0 THEN '{lang}'" for lang in sorted(scores)
    )
    return f"""
        WITH f AS (SELECT doc_id, lang AS provided, text, {best} AS best FROM documents),
        g AS (SELECT doc_id, provided, text, CASE {cases} ELSE 'und' END AS fast_pred FROM f),
        h AS (
          SELECT doc_id, provided, fast_pred,
                 CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
                      WHEN fast_pred <> 'und' THEN fast_pred
                      ELSE 'en' END AS medium_pred
          FROM g)
        SELECT doc_id, provided,
               CASE WHEN fast_pred = provided THEN fast_pred ELSE medium_pred END AS pred,
               CASE WHEN fast_pred = provided THEN true
                    ELSE medium_pred = provided END AS verified,
               CASE WHEN fast_pred = provided THEN 'fast' ELSE 'medium' END AS tier
        FROM h ORDER BY doc_id
    """


def _quality_sql() -> str:
    from fia_own_map_spark.operators.text import LANG_PROFILES

    en = repr(LANG_PROFILES["en"]).replace('"', "'")
    return f"""
        WITH f AS (
          SELECT doc_id,
                 length(text) AS n_chars,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                 len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                 len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> list_contains({en}, t))) AS stop_hits
          FROM documents)
        SELECT doc_id, n_tokens, n_punct,
               round(CASE WHEN n_tokens > 0 THEN stop_hits::double / n_tokens ELSE 0.0 END, 6)
                   AS stopword_ratio,
               round(CASE WHEN n_chars > 0 THEN n_punct::double / n_chars ELSE 0.0 END, 6)
                   AS punct_ratio,
               round(CASE WHEN n_tokens > 0
                     THEN (n_chars - (n_tokens - 1))::double / n_tokens ELSE 0.0 END, 6)
                   AS mean_token_len,
               round(least(1.0, n_tokens / 50.0) * 0.4
                     + least(1.0, (CASE WHEN n_tokens > 0 THEN stop_hits::double / n_tokens
                                        ELSE 0.0 END) * 5) * 0.3
                     + (1.0 - least(1.0, (CASE WHEN n_chars > 0 THEN n_punct::double / n_chars
                                               ELSE 0.0 END) * 4)) * 0.3, 6) AS quality_score
        FROM f
    """


# ---------------------------------------------------------------------------
# r7 oracles: span dedup, corpus pipeline, BPE (training unrolled in SQL)
# ---------------------------------------------------------------------------
_NORM_WS_SQL = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"


def _span_stats_sql(k: int = 8, min_count: int = 2) -> str:
    """Gaps-and-islands mirror of dedup.span_dedup_stats: positioned k-gram
    shingles -> corpus-count >= min_count -> per-doc interval merge (the
    window reproduces the Catalyst fold's `pos <= last_end` extend rule).
    Groups on the shingle STRING where Spark shuffles 8-byte xxhash64 keys —
    identical absent a 64-bit collision in the contract corpus."""
    norm = _NORM_WS_SQL.format(c="text")
    return f"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id, text, string_split({norm}, ' ') AS t FROM documents),
        occ AS MATERIALIZED (
          SELECT doc_id, u.i - 1 AS pos, array_to_string(t[u.i : u.i + {k - 1}], ' ') AS sh
          FROM toks, UNNEST(range(1, len(t) - {k - 2})) AS u(i)
          WHERE len(t) >= {k}),
        dups AS (SELECT sh FROM occ GROUP BY sh HAVING count(*) >= {min_count}),
        hits AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dups USING (sh)),
        brk AS (
          SELECT doc_id, pos,
                 CASE WHEN pos <= COALESCE(MAX(pos) OVER w, -100000000) + {k}
                      THEN 0 ELSE 1 END AS b
          FROM hits
          WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        isl AS (SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                FROM brk),
        spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + {k} AS e
                  FROM isl GROUP BY doc_id, g),
        perdoc AS (SELECT doc_id, SUM(e - s) AS dup_tokens, COUNT(*) AS n_spans
                   FROM spans GROUP BY doc_id)
        SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN 0 ELSE len(t) END AS n_tokens,
               CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
               ROUND(CASE WHEN d.text IS NOT NULL AND len(t) > 0
                          THEN COALESCE(p.dup_tokens, 0)::DOUBLE / len(t)
                          ELSE 0.0 END, 6) AS dup_frac
        FROM toks d LEFT JOIN perdoc p USING (doc_id)
        ORDER BY d.doc_id
    """


def _decontam_oracle_sql(k: int = 8) -> str:
    """DuckDB mirror of decontam.contamination_report over the %50 split:
    per-doc DISTINCT k-gram shingles (same slicing idiom as the span
    oracle), eval/train partition, equi-join on the shingle string, two
    distinct counts per train doc. NULL-text and short docs report zeros
    via the outer left join."""
    norm = _NORM_WS_SQL.format(c="text")
    return f"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id, string_split({norm}, ' ') AS t FROM documents
          WHERE text IS NOT NULL),
        sh AS MATERIALIZED (
          SELECT DISTINCT doc_id, array_to_string(t[u.i : u.i + {k - 1}], ' ') AS s
          FROM toks, UNNEST(range(1, len(t) - {k - 2})) AS u(i)
          WHERE len(t) >= {k}),
        ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 50 = 0),
        tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0),
        hits AS (SELECT tr.doc_id, tr.s, ev.eval_id FROM tr JOIN ev USING (s)),
        perdoc AS (
          SELECT doc_id, count(DISTINCT s) AS n_shared_shingles,
                 count(DISTINCT eval_id) AS n_eval_docs_hit
          FROM hits GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(p.n_shared_shingles, 0) AS BIGINT) AS n_shared_shingles,
               CAST(COALESCE(p.n_eval_docs_hit, 0) AS BIGINT) AS n_eval_docs_hit,
               COALESCE(p.n_shared_shingles > 0, FALSE) AS contaminated
        FROM documents d LEFT JOIN perdoc p USING (doc_id)
        WHERE d.doc_id % 50 <> 0
        ORDER BY d.doc_id
    """


def _lm_scores_sql() -> str:
    """DuckDB re-training of the add-one trigram LM (operators/lm.py):
    BOS-padded events, trigram/context counts, vocab size, then the
    quantized-log score round(ln(c3+1)*2^20) - round(ln(c2+V)*2^20) summed
    per doc as exact integers. ln differs from Java Math.log by 1 ulp on
    ~1% of integer inputs (measured) but a quantization flip needs the
    product within ~3e-9 of a .5 boundary — the integer currency is the
    parity mechanism. DuckDB sum(BIGINT) is HUGEINT, so the doc sum casts
    back explicitly."""
    norm = _NORM_WS_SQL.format(c="text")
    scale = 1 << 20
    return f"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id, string_split({norm}, ' ') AS t
          FROM documents
          WHERE text IS NOT NULL AND length({norm}) > 0),
        padded AS (
          SELECT doc_id, list_concat(['<s>', '<s>'], t) AS p, len(t) AS m
          FROM toks),
        events AS MATERIALIZED (
          SELECT doc_id, p[u.i] AS a, p[u.i + 1] AS b, p[u.i + 2] AS c
          FROM padded, UNNEST(range(1, m + 1)) AS u(i)),
        c3 AS MATERIALIZED (
          SELECT a, b, c, count(*) AS n3 FROM events GROUP BY a, b, c),
        c2 AS MATERIALIZED (
          SELECT a, b, CAST(sum(n3) AS BIGINT) AS n2 FROM c3 GROUP BY a, b),
        v AS (SELECT count(DISTINCT u.w) AS vs FROM toks, UNNEST(t) AS u(w)),
        scored AS (
          SELECT e.doc_id,
                 CAST(round(ln((n3 + 1)::DOUBLE) * {scale}, 0) AS BIGINT)
                 - CAST(round(ln((n2 + (SELECT vs FROM v))::DOUBLE) * {scale}, 0)
                        AS BIGINT) AS q
          FROM events e JOIN c3 USING (a, b, c) JOIN c2 USING (a, b)),
        perdoc AS (
          SELECT doc_id, CAST(sum(q) AS BIGINT) AS logprob_q,
                 count(*) AS n_trigrams
          FROM scored GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(p.n_trigrams, 0) AS n_trigrams,
               p.logprob_q,
               round(p.logprob_q::DOUBLE / ({scale}.0 * p.n_trigrams), 6)
                   AS logprob_per_token
        FROM documents d LEFT JOIN perdoc p USING (doc_id)
        ORDER BY d.doc_id
    """


def _lang_score_sql(col: str) -> dict[str, str]:
    """Per-language stopword-hit expressions over an arbitrary column —
    shared by the lang-ID oracle and the corpus-pipeline oracle."""
    from fia_own_map_spark.operators.text import LANG_PROFILES

    return {
        lang: (
            f"len(list_filter(string_split_regex(lower(trim({col})), '\\s+'),"
            f" t -> list_contains({words!r}, t)))"
        ).replace('"', "'")
        for lang, words in LANG_PROFILES.items()
    }


def _corpus_tags_sql(
    k: int = 8, min_count: int = 2, min_quality: float = 0.25
) -> str:
    """Full corpus.tag_corpus chain in SQL: md5 exact dedup -> span removal
    on SURVIVORS (k-gram gaps-and-islands, kept tokens re-joined in order)
    -> quality score + language ID over the cleaned text -> first-drop-stage
    CASE. clean_md5 checks the reconstructed text byte-for-byte."""
    from fia_own_map_spark.operators.text import LANG_PROFILES

    norm = _NORM_WS_SQL.format(c="text")
    en = repr(LANG_PROFILES["en"]).replace('"', "'")
    scores = _lang_score_sql("clean_text")
    best = "greatest(" + ", ".join(scores.values()) + ")"
    lang_cases = " ".join(
        f"WHEN {scores[lang]} = best AND best > 0 THEN '{lang}'"
        for lang in sorted(scores)
    )
    return f"""
        WITH hashed AS (
          SELECT doc_id, text, md5({norm}) AS h FROM documents),
        flags AS MATERIALIZED (
          SELECT doc_id, text,
                 doc_id <> min(doc_id) OVER (PARTITION BY h) AS is_dup
          FROM hashed),
        surv AS MATERIALIZED (
          SELECT doc_id, text, string_split({norm}, ' ') AS t
          FROM flags WHERE NOT is_dup),
        occ AS MATERIALIZED (
          SELECT doc_id, u.i - 1 AS pos, array_to_string(t[u.i : u.i + {k - 1}], ' ') AS sh
          FROM surv, UNNEST(range(1, len(t) - {k - 2})) AS u(i)
          WHERE len(t) >= {k}),
        dups AS (SELECT sh FROM occ GROUP BY sh HAVING count(*) >= {min_count}),
        hits AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dups USING (sh)),
        brk AS (
          SELECT doc_id, pos,
                 CASE WHEN pos <= COALESCE(MAX(pos) OVER w, -100000000) + {k}
                      THEN 0 ELSE 1 END AS b
          FROM hits
          WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        isl AS (SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                FROM brk),
        spans AS MATERIALIZED (
          SELECT doc_id, MIN(pos) AS s, MAX(pos) + {k} AS e FROM isl GROUP BY doc_id, g),
        tokpos AS (
          SELECT doc_id, u.i - 1 AS pos, t[u.i] AS tok
          FROM surv, UNNEST(range(1, len(t) + 1)) AS u(i)),
        keptt AS (
          SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
          WHERE NOT EXISTS (SELECT 1 FROM spans sp
                            WHERE sp.doc_id = tp.doc_id
                              AND tp.pos >= sp.s AND tp.pos < sp.e)),
        joined AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS ct
          FROM keptt GROUP BY doc_id),
        clean AS MATERIALIZED (
          SELECT s.doc_id,
                 CASE WHEN s.text IS NULL THEN NULL
                      ELSE COALESCE(j.ct, '') END AS clean_text
          FROM surv s LEFT JOIN joined j USING (doc_id)),
        feat AS MATERIALIZED (
          SELECT doc_id, clean_text,
                 length(clean_text) AS n_chars,
                 CASE WHEN length(trim(clean_text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(clean_text), '\\s+')) END AS n_tok,
                 len(regexp_extract_all(clean_text, '[^\\w\\s]')) AS n_punct,
                 len(list_filter(string_split_regex(lower(trim(clean_text)), '\\s+'),
                                 t -> list_contains({en}, t))) AS stop_hits,
                 {best} AS best
          FROM clean),
        scored AS MATERIALIZED (
          SELECT doc_id, clean_text, n_tok,
                 round(least(1.0, n_tok / 50.0) * 0.4
                       + least(1.0, (CASE WHEN n_tok > 0
                                          THEN stop_hits::DOUBLE / n_tok
                                          ELSE 0.0 END) * 5) * 0.3
                       + (1.0 - least(1.0, (CASE WHEN n_chars > 0
                                                 THEN n_punct::DOUBLE / n_chars
                                                 ELSE 0.0 END) * 4)) * 0.3,
                       6) AS quality_score,
                 CASE {lang_cases} ELSE 'und' END AS lang_pred
          FROM feat)
        SELECT doc_id,
               CASE WHEN clean_text IS NULL OR length(trim(clean_text)) = 0 THEN 'empty'
                    WHEN quality_score < {min_quality} THEN 'low_quality'
                    WHEN lang_pred <> 'en' THEN 'lang'
                    ELSE 'kept' END AS drop_stage,
               CAST(CASE WHEN clean_text IS NULL THEN 0 ELSE n_tok END AS BIGINT)
                   AS n_tokens_clean,
               md5(clean_text) AS clean_md5,
               quality_score, lang_pred
        FROM scored
        UNION ALL
        SELECT doc_id, 'exact_dup' AS drop_stage, CAST(0 AS BIGINT) AS n_tokens_clean,
               CAST(NULL AS VARCHAR) AS clean_md5, CAST(NULL AS DOUBLE) AS quality_score,
               CAST(NULL AS VARCHAR) AS lang_pred
        FROM flags WHERE is_dup
        ORDER BY doc_id
    """


def _bpe_oracle_sql(n_merges: int = 50, min_pair_count: int = 2) -> str:
    """BPE TRAINING re-derived in pure SQL, every merge iteration unrolled
    as MATERIALIZED CTEs (the Lloyd-IVF unrolling discipline; MATERIALIZED
    is load-bearing — each level references the previous twice, and DuckDB's
    default CTE inlining would expand the chain 2^n_merges times):

      pc_i : adjacent-pair counts over the distinct-word symbol table
      m_i  : argmax pair (count DESC, then pair ASC — the trainer tie-break);
             empty once no pair reaches min_pair_count, and stays empty, so
             later levels are no-ops exactly like the trainer's break
      w_i  : greedy-leftmost non-overlapping fold of that pair via
             list_reduce over single-element lists (acc = symbols so far,
             x = next symbol; merging consumes the pending tail so a fused
             symbol never re-fuses within the pass — bpe.bpe_word_py)

    Per-doc subword count then joins each document's words to the FINAL
    symbol table: apply == trainer state for every in-corpus word (the
    mirror-parity property tests pin this)."""
    norm = _NORM_WS_SQL.format(c="text")
    levels = []
    for i in range(1, n_merges + 1):
        levels.append(f"""
        pc{i} AS MATERIALIZED (
          SELECT w.syms[u.j] AS a, w.syms[u.j + 1] AS b, sum(w.cnt) AS total
          FROM w{i - 1} w, UNNEST(range(1, len(w.syms))) AS u(j)
          GROUP BY 1, 2),
        m{i} AS MATERIALIZED (
          SELECT a, b FROM pc{i} WHERE total >= {min_pair_count}
          ORDER BY total DESC, a ASC, b ASC LIMIT 1),
        w{i} AS MATERIALIZED (
          SELECT w.word, w.cnt,
            CASE WHEN m.a IS NULL THEN w.syms ELSE
              list_reduce(
                list_prepend(CAST([] AS VARCHAR[]), list_transform(w.syms, s -> [s])),
                (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = m.a AND x[1] = m.b
                                 THEN list_append(acc[1 : len(acc) - 1], m.a || m.b)
                                 ELSE list_append(acc, x[1]) END)
            END AS syms
          FROM w{i - 1} w LEFT JOIN m{i} m ON true)""")
    return f"""
        WITH wt AS MATERIALIZED (
          SELECT w AS word, count(*) AS cnt
          FROM (SELECT unnest(string_split({norm}, ' ')) AS w
                FROM documents WHERE text IS NOT NULL)
          WHERE length(w) > 0 GROUP BY w),
        w0 AS MATERIALIZED (
          SELECT word, cnt,
                 list_append(list_transform(range(1, length(word) + 1),
                                            i -> word[i:i]), '</w>') AS syms
          FROM wt),
        {','.join(levels)},
        subn AS (SELECT word, len(syms) AS n_sub FROM w{n_merges}),
        docw AS (
          SELECT doc_id, w AS word
          FROM (SELECT doc_id, unnest(string_split({norm}, ' ')) AS w
                FROM documents WHERE text IS NOT NULL)
          WHERE length(w) > 0),
        agg AS (
          SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS n_subwords
          FROM docw JOIN subn USING (word) GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(a.n_subwords, 0) AS n_subwords
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
    """
