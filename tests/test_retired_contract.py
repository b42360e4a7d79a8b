"""Value checks for queries RETIRED from the 50-slot driver contract.

The driver caps queries() at 50 entries, so adding a new contract query
means retiring a redundant one. Retirement must not drop the check: every
retired query keeps its DuckDB oracle here, run at sf0.001 each pytest
pass (same compare discipline as tools/verify_contract.py).

Retired so far:
  r7: ann_lsh_topk          (slot freed for corpus_clean_tags)
  r7: window_sum_value_per_user (slot freed for bpe_token_counts)
  r7: ann_ivf_topk          (untrained quantizer: ivf_lloyd_cosine_topk at
      n_iters=0 against the float-L2 seeded oracle; the trained-Lloyd
      contract row covers the same probe/re-rank path; slot freed for
      lm_doc_logprob)
  r7: dedup_ngram_jaccard   (1-row pair output — weakest evidence of the
      value-checked dedup family; slot freed for decontam_eval_overlap)
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
TABLES = ["documents", "embeddings", "events"]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", sorted(entrymod.RETIRED_QUERIES))
def test_retired_query_matches_oracle(spark, name):
    sdf = entrymod.RETIRED_QUERIES[name](spark, SF).toPandas()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    ddf = con.execute(entrymod.retired_oracle_sql()[name]).df()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert len(sdf) == len(ddf)
    a, b = _canon(sdf), _canon(ddf)
    for c in a.columns:
        sa = a[c].map(lambda v: "<null>" if not isinstance(v, tuple) and pd.isna(v) else str(v))
        sb = b[c].map(lambda v: "<null>" if not isinstance(v, tuple) and pd.isna(v) else str(v))
        mism = (sa != sb).to_numpy().nonzero()[0]
        assert len(mism) == 0, (
            f"{name}[{c}]: first mismatch at {mism[:3]} "
            f"spark={a[c].iloc[mism[:3]].tolist()} duck={b[c].iloc[mism[:3]].tolist()}"
        )
