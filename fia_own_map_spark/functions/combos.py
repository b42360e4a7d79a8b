"""Token-combination blocking-key generation (SURVEY.md §2.8 F11-F14).

Reference semantics:
  * `Classify_Unknowns_opt.py:166-170` ``generate_combinations``: the full
    token tuple plus every (n-1)-subset when n > 2.
  * `Name_Matching_opt.py:64-65` ``generate_normalized_name``: join the
    *sorted* tokens with '' and upper-case — an order-insensitive name
    fingerprint (defeats token reordering like "JOHN SMITH" / "SMITH JOHN").
  * `Name_Matching_opt.py:67-69,100-106`: primary double-metaphone of each
    fingerprint is the blocking key.

Implementation is native Catalyst higher-order functions (transform / filter
with index / array_sort / array_join) — no Python until the final metaphone
``mapInPandas``, which runs *after* ``explode`` over string->string Arrow
batches, and only over **distinct** fingerprints (dedup-before-UDF cuts the
Python work by the key-repetition factor).
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fia_own_map_spark.functions.phonetic import double_metaphone
from fia_own_map_spark.session import per_core


def token_combinations(tokens: Column | str) -> Column:
    """array<array<string>>: [full tuple] + all (n-1)-subsets when n > 2."""
    a = F.col(tokens) if isinstance(tokens, str) else tokens
    n = F.size(a)
    minus_one = F.transform(
        F.sequence(F.lit(0), n - F.lit(1)),
        lambda i: F.filter(a, lambda _, j: j != i),
    )
    return F.when(n > 2, F.concat(F.array(a), minus_one)).otherwise(F.array(a))


def normalized_name_keys(tokens: Column | str) -> Column:
    """array<string> of sorted-token-concat fingerprints, one per combination."""
    return F.filter(
        F.array_distinct(
            F.transform(
                token_combinations(tokens),
                lambda c: F.upper(F.array_join(F.array_sort(c), "")),
            )
        ),
        lambda fp: F.length(fp) > 0,
    )


def with_blocking_fingerprints(
    df: DataFrame, tokens_col: str = "tokens", out_col: str = "name_keys"
) -> DataFrame:
    return df.withColumn(out_col, normalized_name_keys(tokens_col))


def exploded_metaphone_keys(
    df: DataFrame,
    id_col: str = "url",
    fingerprint_col: str = "name_keys",
    key_col: str = "block_key",
) -> DataFrame:
    """(id, block_key) edge list: explode fingerprints, metaphone-encode.

    The metaphone batch function is applied to the **distinct** fingerprint
    set and joined back — at web scale fingerprints repeat heavily (that is
    the whole point of blocking), so this bounds Python work by the number of
    distinct names, not the number of rows.
    """
    exploded = df.select(
        F.col(id_col), F.explode(fingerprint_col).alias("_fp")
    ).filter(F.length("_fp") > 0)

    def encode(batches):
        for pdf in batches:
            codes = pdf["_fp"].map(lambda fp: double_metaphone(fp)[0])
            keep = codes != ""
            yield pd.DataFrame({"_fp": pdf["_fp"][keep], key_col: codes[keep]})

    # dedup first (map-side partial aggregation shrinks the shuffle by the
    # fingerprint-repetition factor), pin the width per core, then encode in
    # ONE mapInPandas that also drops empty codes. mapInPandas is the
    # boundary: Catalyst would push an empty-code filter on a pandas UDF's
    # output below the distinct and the repartition, and infer it across the
    # _fp join, re-running the UDF over undeduplicated rows in extra stages.
    # It pushes nothing through mapInPandas and infers no constraint across
    # its output.
    distinct_fp = per_core(exploded.select("_fp").distinct()).mapInPandas(
        encode, f"_fp string, {key_col} string"
    )
    return exploded.join(distinct_fp, "_fp").select(id_col, key_col).distinct()


# ---------------------------------------------------------------------------
# Pure-Python oracle mirrors (shared with tests)
# ---------------------------------------------------------------------------
def token_combinations_py(tokens: list[str]) -> list[tuple[str, ...]]:
    """`Classify_Unknowns_opt.py:166-170` exact semantics."""
    coms = [tuple(tokens)]
    if len(tokens) > 2:
        coms.extend(itertools.combinations(tokens, len(tokens) - 1))
    return coms


def metaphone_keys_py(tokens: list[str]) -> list[str]:
    """`Name_Matching_opt.py:100-106` exact semantics: primary DM of the
    sorted-token-concat of every combination."""
    keys = []
    for comb in token_combinations_py(tokens):
        fingerprint = "".join(sorted(comb)).upper()
        if fingerprint:
            k = double_metaphone(fingerprint)[0]
            if k:
                keys.append(k)
    # de-dup preserving order (mirrors array_distinct on the Spark side)
    seen: set[str] = set()
    out = []
    for k in keys:
        if k not in seen:
            seen.add(k)
            out.append(k)
    return out
