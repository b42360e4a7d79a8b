"""XXH64 re-expressed in pure DuckDB SQL — generator for the
``dedup_minhash_fast`` oracle.

Spark's production MinHash family hashes with `F.xxhash64` (typed JVM
hashing, no string materialization). DuckDB has no xxhash64, but the whole
algorithm is expressible in SQL over HUGEINT (int128) arithmetic:

* every multiply in XXH64 is by a constant prime, so ``a * P mod 2^64``
  splits into 32x32-bit partial products that never overflow int128;
* rotations are ``(a * 2^r) % 2^64 + a // 2^(64-r)``;
* xor drops to UBIGINT (values are always < 2^64) and back;
* the variable-length loops (32-byte 4-lane blocks, 8-byte words) are
  ``list_reduce`` folds over per-token stripe lists, with the per-word
  invariant parts (``w*P2`` etc.) precomputed in ``list_transform`` so the
  lambda bodies stay small;
* the fixed-count steps (merge, 4-byte word, <=3 tail bytes, avalanche,
  per-seed hashInt, per-band hashLong chain) unroll as a chain of nested
  subselects, ONE new column per level. NOT lateral column aliases:
  DuckDB's binder expands those by substitution, and a 15-deep chain whose
  steps each reference the previous alias 2-3x explodes exponentially at
  bind time (measured: hang). Subquery columns bind once.

Python emitters below build the query string; `xxh64.py` is the executable
mirror used to validate it (tests/test_xxh64_oracle.py), and Spark itself
is the third leg of the triangle.
"""

from __future__ import annotations

B32 = 4294967296  # 2^32

# The canonical xxHash64 primes (Yann Collet's spec) — identical to what
# Spark's catalyst XXH64 uses; see testing/xxh64.py.
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5

SEED = 42


def _h(n: int) -> str:
    """Literal HUGEINT constant."""
    return f"CAST('{n}' AS HUGEINT)"


def mul(a: str, const: int) -> str:
    """(a * const) % 2^64 for a in [0, 2^64), const a compile-time prime.

    Split multiply: a_lo*c_lo + 2^32*((a_lo*c_hi + a_hi*c_lo) % 2^32), all
    partials < 2^66 so nothing overflows signed int128. `a` appears 3x —
    callers pass only short refs (column names, list elements)."""
    c_lo, c_hi = const % B32, const // B32
    return (
        f"((({a}) % {_h(B32)}) * {c_lo} + "
        f"(((({a}) % {_h(B32)}) * {c_hi} + (({a}) // {_h(B32)}) * {c_lo}) % {_h(B32)})"
        f" * {_h(B32)}) % {_h(1 << 64)}"
    )


def xor(a: str, b: str) -> str:
    return f"CAST(xor(CAST(({a}) AS UBIGINT), CAST(({b}) AS UBIGINT)) AS HUGEINT)"


def shr(a: str, n: int) -> str:
    return f"(({a}) // {_h(1 << n)})"


def rotl(a: str, r: int) -> str:
    return f"((({a}) * {1 << r}) % {_h(1 << 64)} + ({a}) // {_h(1 << (64 - r))})"


def add(a: str, b: str) -> str:
    return f"((({a}) + ({b})) % {_h(1 << 64)})"


Steps = list[tuple[str, str]]


def chain(base: str, steps: Steps, keep: str) -> str:
    """Wrap `base` (a SELECT) in one subselect per step, adding one column
    per level; final projection is `keep`."""
    sql = base
    for alias, expr in steps:
        sql = f"SELECT *, {expr} AS {alias} FROM ({sql})"
    return f"SELECT {keep} FROM ({sql})"


def fmix_steps(src: str, p: str) -> Steps:
    """Avalanche; final value in column `{p}5`."""
    return [
        (f"{p}1", xor(src, shr(src, 33))),
        (f"{p}2", mul(f"{p}1", P2)),
        (f"{p}3", xor(f"{p}2", shr(f"{p}2", 29))),
        (f"{p}4", mul(f"{p}3", P3)),
        (f"{p}5", xor(f"{p}4", shr(f"{p}4", 32))),
    ]


def hash_int_steps(i_ref: str, seed_ref: str, p: str) -> Steps:
    """Spark XXH64.hashInt(i, seed); final value in `{p}f5`."""
    return [
        (f"{p}a", add(seed_ref, str(P5 + 4))),
        (f"{p}b", xor(f"{p}a", mul(i_ref, P1))),
        (f"{p}c", add(mul(rotl(f"{p}b", 23), P2), str(P3))),
    ] + fmix_steps(f"{p}c", f"{p}f")


def hash_long_steps(x_ref: str, seed_ref: str, p: str) -> Steps:
    """Spark XXH64.hashLong(x, seed); final value in `{p}f5`."""
    return [
        (f"{p}x", x_ref),  # materialize the (possibly long) operand once
        (f"{p}a", add(seed_ref, str(P5 + 8))),
        (f"{p}b", xor(f"{p}a", mul(rotl(mul(f"{p}x", P2), 31), P1))),
        (f"{p}c", add(mul(rotl(f"{p}b", 27), P1), str(P4))),
    ] + fmix_steps(f"{p}c", f"{p}f")


def _word_expr(byte_list: str, start_1b: str, n: int) -> str:
    """Little-endian n-byte word from 1-indexed `start_1b` of a byte list."""
    parts = [f"({byte_list})[{start_1b} + {k}] * {_h(1 << (8 * k))}" for k in range(n)]
    return "(" + " + ".join(parts) + ")"


def token_hash_sql(tokens_from: str) -> str:
    """SELECT t, H from `tokens_from` (a relation with a distinct non-null
    string column t), H = XXH64(utf8(t), 42) as HUGEINT in [0, 2^64)."""
    seed = SEED
    m = 1 << 64
    v1_0, v2_0, v3_0, v4_0 = (
        (seed + P1 + P2) % m, (seed + P2) % m, seed, (seed - P1) % m,
    )
    h_small = (seed + P5) % m

    lane = lambda i: mul(rotl(add(f"acc[{i}]", f"st[{i}]"), 31), P1)
    stripe_lambda = f"(acc, st) -> [{lane(1)}, {lane(2)}, {lane(3)}, {lane(4)}]"
    word_lambda = f"(acc, x) -> {add(mul(rotl(xor('acc', 'x'), 27), P1), str(P4))}"

    def merge_step(prev: str, lane_ref: str, out: str) -> tuple[str, str]:
        folded = mul(rotl(mul(lane_ref, P2), 31), P1)
        return (out, add(mul(xor(prev, folded), P1), str(P4)))

    def byte_step(prev: str, bexpr: str, out: str) -> tuple[str, str]:
        return (out, mul(rotl(xor(prev, mul(bexpr, P5)), 11), P1))

    tail_base = "(8 * (L // 8) + CASE WHEN L % 8 >= 4 THEN 4 ELSE 0 END)"

    base = f"""
SELECT t, octet_length(encode(t)) AS L,
       list_transform(range(1, octet_length(encode(t)) + 1),
         i -> CAST(16 * (strpos('0123456789ABCDEF', substr(hex(encode(t)), 2*i-1, 1)) - 1)
                 + (strpos('0123456789ABCDEF', substr(hex(encode(t)), 2*i, 1)) - 1) AS HUGEINT)) AS bs
FROM {tokens_from}"""
    steps: Steps = [
        ("ws", f"list_transform(range(0, L // 8), j -> {_word_expr('bs', '8*j + 1', 8)})"),
        ("pws", f"list_transform(ws, w -> {mul('w', P2)})"),
        (
            "lanes",
            f"""CASE WHEN L >= 32 THEN list_reduce(
              list_prepend([{_h(v1_0)}, {_h(v2_0)}, {_h(v3_0)}, {_h(v4_0)}],
                list_transform(range(0, L // 32),
                  s -> [pws[4*s+1], pws[4*s+2], pws[4*s+3], pws[4*s+4]])),
              {stripe_lambda}) ELSE NULL END""",
        ),
        (
            "mg0",
            f"({rotl('lanes[1]', 1)} + {rotl('lanes[2]', 7)} + "
            f"{rotl('lanes[3]', 12)} + {rotl('lanes[4]', 18)}) % {_h(1 << 64)}",
        ),
        merge_step("mg0", "lanes[1]", "mg1"),
        merge_step("mg1", "lanes[2]", "mg2"),
        merge_step("mg2", "lanes[3]", "mg3"),
        merge_step("mg3", "lanes[4]", "mg4"),
        ("h1", f"(CASE WHEN L >= 32 THEN mg4 ELSE {_h(h_small)} END + L) % {_h(1 << 64)}"),
        (
            "h2",
            f"""list_reduce(list_prepend(h1,
              list_transform(pws[4*(L//32) + 1 : L // 8],
                p -> {mul(rotl('p', 31), P1)})),
              {word_lambda})""",
        ),
        ("w4", f"CASE WHEN L % 8 >= 4 THEN {_word_expr('bs', '8*(L//8) + 1', 4)} ELSE NULL END"),
        (
            "h3",
            "CASE WHEN L % 8 >= 4 THEN "
            + add(mul(rotl(xor("h2", mul("w4", P1)), 23), P2), str(P3))
            + " ELSE h2 END",
        ),
        ("tb1", f"{tail_base} + 1"),
        byte_step("h3", "CASE WHEN L % 4 > 0 THEN bs[tb1] ELSE NULL END", "s4a"),
        ("h4", "CASE WHEN L % 4 > 0 THEN s4a ELSE h3 END"),
        byte_step("h4", "CASE WHEN L % 4 > 1 THEN bs[tb1 + 1] ELSE NULL END", "s5a"),
        ("h5", "CASE WHEN L % 4 > 1 THEN s5a ELSE h4 END"),
        byte_step("h5", "CASE WHEN L % 4 > 2 THEN bs[tb1 + 2] ELSE NULL END", "s6a"),
        ("h6", "CASE WHEN L % 4 > 2 THEN s6a ELSE h5 END"),
    ] + fmix_steps("h6", "fz")
    return chain(base, steps, "t, fz5 AS H")


SIGNED = (
    "CAST(CASE WHEN ({u}) >= CAST('9223372036854775808' AS HUGEINT) "
    "THEN ({u}) - CAST('18446744073709551616' AS HUGEINT) "
    "ELSE ({u}) END AS BIGINT)"
)
UNSIGNED = (
    "(CAST(({s}) AS HUGEINT) + CASE WHEN ({s}) < 0 "
    "THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END)"
)


def minhash_fast_oracle_sql(
    n_hashes: int = 8,
    n_bands: int = 4,
    jaccard_threshold: float = 0.9,
    max_bucket_size: int = 1000,
) -> str:
    """Full DuckDB oracle for `dedup_minhash_fast` (shingle_k=1).

    Mirrors dedup.minhash_lsh_pairs end-to-end:
    distinct-token shingles, sig[i] = min over tokens of
    xxhash64(token, lit(i)) as SIGNED bigints, band key
    'b{b}:' || xxhash64(sig-slice) (seed-chained hashLong over the slice
    elements, cast to string as the signed decimal), bucket cap, candidate
    self-join, exact Jaccard verify. NULL-text docs are excluded: Spark
    gives them all-NULL signatures whose band keys ('bN:42') collide only
    with each other, and their candidate pairs are dropped by the
    NULL-jaccard filter (size(NULL) is NULL in Spark 3+)."""
    rows_per_band = n_hashes // n_bands

    # per-(token, seed) signature element: hashInt(i, H), signed
    sig_el = chain(
        f"SELECT t, H, CAST(i AS HUGEINT) AS iu, i FROM ({token_hash_sql('tu')}) _th, "
        f"range(0, {n_hashes}) r(i)",
        hash_int_steps("iu", "H", "si"),
        f"t, i, {SIGNED.format(u='sif5')} AS hv",
    )

    # per-(doc, band) key: seed-chained hashLong over the band's sig slice
    band_steps: Steps = []
    prev = str(SEED)
    for r in range(rows_per_band):
        band_steps += hash_long_steps(
            UNSIGNED.format(s=f"sig[{rows_per_band}*b + {r + 1}]"), prev, f"k{r}"
        )
        prev = f"k{r}f5"
    banded_inner = chain(
        f"SELECT doc_id, sig, b FROM sigs, range(0, {n_bands}) v(b)",
        band_steps,
        f"doc_id, 'b' || b::varchar || ':' || CAST({SIGNED.format(u=prev)} AS VARCHAR) AS band",
    )

    jac = (
        "CASE WHEN len(list_distinct(list_concat(sh_a, sh_b))) = 0 THEN 1.0 "
        "ELSE len(list_intersect(sh_a, sh_b))::double "
        "/ len(list_distinct(list_concat(sh_a, sh_b))) END"
    )

    return f"""
WITH docs AS (
  SELECT doc_id,
         list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS sh
  FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(sh) AS t FROM docs),
tu AS (SELECT DISTINCT t FROM tok),
sig_el AS ({sig_el}),
doc_sig AS (
  SELECT tok.doc_id, sig_el.i, min(sig_el.hv) AS m
  FROM tok JOIN sig_el USING (t) GROUP BY tok.doc_id, sig_el.i),
sigs AS (
  SELECT doc_id, list(m ORDER BY i) AS sig FROM doc_sig GROUP BY doc_id),
banded AS (
  SELECT doc_id, band FROM ({banded_inner})
  QUALIFY count(*) OVER (PARTITION BY band) <= {max_bucket_size}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (band)
  WHERE a.doc_id < b.doc_id),
pairs AS (
  SELECT id_a, id_b, da.sh AS sh_a, db.sh AS sh_b
  FROM cand JOIN docs da ON cand.id_a = da.doc_id
            JOIN docs db ON cand.id_b = db.doc_id)
SELECT id_a, id_b, round({jac}, 6) AS jaccard
FROM pairs WHERE ({jac}) >= {jaccard_threshold}
"""
