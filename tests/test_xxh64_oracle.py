"""Three-way validation of the XXH64-in-DuckDB oracle for the xxhash64
MinHash family (r4 verdict stretch: convert `dedup_minhash_fast` from
rows-only to value-checked).

Triangle: Spark `F.xxhash64` <-> python mirror (`testing/xxh64.py`) <->
generated DuckDB SQL (`testing/xxh64_sql.py`). The driver's contract gate
closes the loop end-to-end at sf0.01.
"""

from __future__ import annotations

import itertools
import random
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from fia_own_map_spark.testing import xxh64, xxh64_sql

TOKENS = [
    "", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg", "abcdefgh",
    "abcdefghi", "hello-world", "llc", "smith", "x" * 31, "y" * 32,
    "z" * 33, "w" * 40, "q" * 63, "r" * 64, "s" * 65, "t" * 100,
    "üñîçødé-tökèn", "é" * 20, "日本語トークン", "mixed ascii and ünï",
    "0123456789abcdef0123456789abcdef0123",
] + ["len-probe-" + "k" * n for n in range(0, 40)]  # every tail-length class


def test_hash_bytes_reference_vector():
    # Pinned against the INSTALLED engine, not the published spec: this
    # pyspark build ships a modified PRIME64_2 (see testing/xxh64.py), so
    # canonical xxHash64 vectors do NOT apply. These values came from
    # XXH64.hashUTF8String / hashInt / hashLong called directly on the
    # JVM class (guards against the mirror drifting from the jar).
    m = 1 << 64
    assert xxh64.hash_bytes(b"", 42) == (-7444071767201028348) % m
    assert xxh64.hash_bytes(b"abcd", 42) == (-6810745876291105281) % m
    assert xxh64.hash_int(5, 42) == 504019808641096632
    assert xxh64.hash_long(5, 42) == 6251837290343458373


def test_python_matches_spark_str_int(spark):
    df = spark.createDataFrame([(t,) for t in TOKENS], "t string")
    for seed in (0, 3, 7):
        got = {
            r["t"]: r["h"]
            for r in df.select("t", F.xxhash64("t", F.lit(seed)).alias("h")).collect()
        }
        for t in TOKENS:
            assert got[t] == xxh64.xxhash64_str_int(t, seed), (t, seed)


def test_python_matches_spark_long_array(spark):
    random.seed(11)
    arrays = [
        [0], [42], [-1], [2**63 - 1], [-(2**63)],
        [random.randint(-(2**63), 2**63 - 1) for _ in range(2)],
        [random.randint(-(2**63), 2**63 - 1) for _ in range(5)],
    ]
    df = spark.createDataFrame([(a,) for a in arrays], "a array<long>")
    got = [r["h"] for r in df.select(F.xxhash64("a").alias("h")).collect()]
    for a, g in zip(arrays, got):
        assert g == xxh64.xxhash64_long_array(a), a


def test_sql_matches_python_token_hashes():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE toks AS SELECT * FROM (VALUES "
        + ",".join(f"($${t}$$)" for t in TOKENS)
        + ") v(t)"
    )
    got = dict(con.execute(xxh64_sql.token_hash_sql("toks")).fetchall())
    for t in TOKENS:
        assert int(got[t]) == xxh64.hash_bytes(t.encode("utf-8"), 42), t


def _py_minhash_pairs(docs):
    """Python replica of dedup.minhash_lsh_pairs(n_hashes=8, n_bands=4,
    shingle_k=1, threshold=0.9)."""
    def shingles(text):
        toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
        return list(dict.fromkeys(toks))

    bands, doc_sh = {}, {}
    for d, text in docs:
        if text is None:
            continue
        sh = shingles(text)
        doc_sh[d] = sh
        sig = [min(xxh64.xxhash64_str_int(t, i) for t in sh) for i in range(8)]
        for b in range(4):
            key = (b, xxh64.xxhash64_long_array(sig[2 * b : 2 * b + 2]))
            bands.setdefault(key, set()).add(d)
    out = []
    seen = set()
    for ids in bands.values():
        if len(ids) > 1000:
            continue
        for a, b in itertools.combinations(sorted(ids), 2):
            if (a, b) in seen:
                continue
            seen.add((a, b))
            A, B = set(doc_sh[a]), set(doc_sh[b])
            j = 1.0 if not (A | B) else len(A & B) / len(A | B)
            if j >= 0.9:
                out.append((a, b, round(j, 6)))
    return sorted(out)


@pytest.fixture(scope="module")
def synth_docs():
    random.seed(7)
    words = [
        "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
        "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "the",
        "quick", "brown", "fox", "ünïcode", "a-very-long-token-" + "x" * 30,
    ]
    docs = []
    for d in range(60):
        base = random.sample(words, random.randint(3, 10))
        docs.append((d, " ".join(base)))
        if random.random() < 0.4:
            dup = list(base)
            if random.random() < 0.5 and len(dup) > 4:
                dup.pop()
            docs.append((1000 + d, " ".join(dup)))
    docs += [(9000, None), (9001, None), (9002, "   ")]
    return docs


def test_oracle_sql_matches_python_pipeline(synth_docs):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", synth_docs)
    duck = sorted(map(tuple, con.execute(xxh64_sql.minhash_fast_oracle_sql()).fetchall()))
    assert duck == _py_minhash_pairs(synth_docs)


def test_oracle_sql_matches_spark_pipeline(spark, synth_docs):
    """End-to-end: the production Spark operator vs the generated oracle."""
    from fia_own_map_spark.operators import dedup

    df = spark.createDataFrame(synth_docs, "doc_id long, text string")
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(
            df, n_hashes=8, n_bands=4, shingle_k=1,
            jaccard_threshold=0.9,
        )
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .collect()
    )
    assert got == _py_minhash_pairs(synth_docs)
