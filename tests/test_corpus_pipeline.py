"""Composed corpus-cleaning pipeline: stage attribution + one-job metrics."""
import io
from contextlib import redirect_stdout

import pytest

from fia_own_map_spark.operators.corpus import (
    DROP_EMPTY,
    DROP_EXACT_DUP,
    DROP_LANG,
    DROP_QUALITY,
    KEPT,
    clean_training_corpus,
    corpus_metrics,
    tag_corpus,
)

GOOD_EN = (
    "the project is a good one and we have all the results that you would "
    "want to see here with many of the usual words in it for the test"
)
BOILER = "all rights reserved contact the site administrator for details"


@pytest.fixture()
def corpus(spark):
    rows = [
        (0, GOOD_EN),                       # kept
        (1, GOOD_EN),                       # exact dup of 0
        (2, f"{BOILER} first unique tail where we can see that it was the "
            "larger part of the work and it is done"),
        (3, f"{BOILER} second unique tail because this was not the same "
            "thing that they had in the other one at all"),
        (4, None),                          # NULL -> empty
        (5, "der hund und die katze sind nicht mit der maus im haus und "
            "die tiere werden auch nicht mit dem vogel im garten sein"),  # lang
        (6, "#### $$$$ %%%% @@@@ !!!! ???? **** ((((",),  # low quality
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_stage_attribution(corpus):
    tags = {r["doc_id"]: r["drop_stage"]
            for r in tag_corpus(corpus, span_k=8).collect()}
    assert tags[0] == KEPT
    assert tags[1] == DROP_EXACT_DUP
    # docs 2 and 3 share the 9-token boilerplate prefix: span-removed but
    # their unique tails keep them alive
    assert tags[2] == KEPT and tags[3] == KEPT
    assert tags[4] == DROP_EMPTY
    assert tags[5] == DROP_LANG
    assert tags[6] == DROP_QUALITY


def test_span_removal_inside_pipeline(corpus):
    out = {r["doc_id"]: r["clean_text"]
           for r in clean_training_corpus(corpus, span_k=8).collect()}
    assert sorted(out) == [0, 2, 3]
    assert out[2].startswith("first unique tail")   # boilerplate excised
    assert out[3].startswith("second unique tail")
    assert BOILER not in out[2] and BOILER not in out[3]


def test_metrics_one_job_and_consistent(corpus):
    tagged = tag_corpus(corpus, span_k=8)
    m = corpus_metrics(tagged)
    assert m[KEPT]["docs"] == 3
    assert m[DROP_EXACT_DUP]["docs"] == 1
    assert m[DROP_EMPTY]["docs"] == 1
    assert m[DROP_QUALITY]["docs"] == 1
    assert m[DROP_LANG]["docs"] == 1
    assert sum(v["docs"] for v in m.values()) == 7
    # token accounting: kept tokens == post-clean whitespace counts
    want = sum(r["n_tokens_clean"] for r in tagged.collect()
               if r["drop_stage"] == KEPT)
    assert m[KEPT]["tokens"] == want > 0


def test_pipeline_is_one_fused_plan(corpus):
    """The chain must stay lazy and fuse: no window operator anywhere
    (dedup + span merge are groupBy+join / fold), no cartesian product."""
    df = clean_training_corpus(corpus, span_k=8)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_sf001_end_to_end(spark):
    """Runs on the real documents table and yields a plausible corpus:
    survivors are nonempty, deduped, and all tagged kept."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tagged = tag_corpus(docs, span_k=8, lang_allow=("en", "und"))
    m = corpus_metrics(tagged)
    assert sum(v["docs"] for v in m.values()) == 500
    assert m[KEPT]["docs"] > 0 and m[KEPT]["tokens"] > 0
    kept = clean_training_corpus(docs, span_k=8, lang_allow=("en", "und"))
    rows = kept.collect()
    assert len(rows) == m[KEPT]["docs"]
    assert all(r["clean_text"] for r in rows)


def test_span_accounting_matches_standalone_stats(corpus):
    """r6 verdict stretch #8: the metrics' span_tokens_removed must equal
    the standalone span_dedup_stats budget computed on the deduped corpus
    (same k, same min_count) — the pipeline removes exactly what the
    budget op predicted."""
    from pyspark.sql import functions as F

    from fia_own_map_spark.operators.dedup import exact_dedup, span_dedup_stats

    tagged = tag_corpus(corpus, span_k=8)
    m = corpus_metrics(tagged)
    # exact dups never reach the span stage
    assert m[DROP_EXACT_DUP]["span_tokens_removed"] == 0
    # predicted budget: span stats over the dedup survivors
    survivors = exact_dedup(corpus)
    predicted = {
        r["doc_id"]: r["dup_tokens"]
        for r in span_dedup_stats(survivors, k=8).collect()
    }
    per_row = {
        r["doc_id"]: r["n_tokens_removed_spans"]
        for r in tagged.filter(F.col("drop_stage") != DROP_EXACT_DUP).collect()
    }
    assert per_row == predicted
    assert sum(v["span_tokens_removed"] for v in m.values()) == sum(
        predicted.values()
    ) > 0


def test_span_accounting_with_edge_whitespace(spark):
    """r7 review: the span budget (split-array convention) and the pre/post
    removal counts (token_count_ws convention) must agree even for
    tab-edged documents — collapse-then-trim normalization guarantees the
    split yields no empty edge tokens."""
    from pyspark.sql import functions as F

    from fia_own_map_spark.operators.dedup import span_dedup_stats

    boiler = "all rights reserved contact the site administrator for details"
    rows = [
        (0, f"\t{boiler} first unique tail with plenty of words to keep\t"),
        (1, f"{boiler} second unique tail that is also long enough to stay"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tagged = tag_corpus(df, span_k=8)
    per_row = {
        r["doc_id"]: r["n_tokens_removed_spans"] for r in tagged.collect()
    }
    predicted = {
        r["doc_id"]: r["dup_tokens"]
        for r in span_dedup_stats(df, k=8).collect()
    }
    assert per_row == predicted
    assert per_row[0] == per_row[1] > 0
