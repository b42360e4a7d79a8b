"""N-gram language-model perplexity scoring — the CCNet-style quality
filter (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data" — public method) for training-corpus
curation: score every document by an n-gram LM and filter the tail.

Clean-room model (not KenLM): an add-one-smoothed TRIGRAM model with
two-token BOS padding, trained and applied distributed.

    p(w_i | w_{i-2} w_{i-1}) = (c3 + 1) / (c2 + V)

where c3/c2 are corpus trigram/context counts and V the corpus vocabulary
size. Every document of m tokens contributes exactly m scored events.

Determinism discipline (this repo's sketch/Lloyd convention): log-probs
are INTEGER-QUANTIZED — per event the score is

    q = round(ln(c3 + 1) * 2^20) - round(ln(c2 + V) * 2^20)

summed per document as an exact bigint, so the result is bit-reproducible
across partitionings, engines (Java Math.log vs libm differ by 1 ulp on
~1% of integer inputs — measured — but a quantization flip needs the
product to sit within ~3e-9 of a .5 boundary), and re-runs. The float
`logprob_per_token` is derived from the two exact integers by one
division, identical everywhere. A filtering decision that depends on the
executor that computed it is not acceptable in a 100 TB curation run.

Scale design:
  * training = two shuffles (trigram groupBy; context table derived from
    the trigram TABLE, not the event stream) + one bounded distinct count;
  * scoring = equi-joins of the event stream against the count tables
    (AQE broadcasts them when small — at web scale they are vocab-bound,
    far smaller than the corpus) + one groupBy(doc) sum;
  * no windows, no python in the hot path — everything is native Catalyst.

Parity: `trigram_lm_py` is the clean-room single-machine mirror; the
driver-contract oracle re-trains the same model in DuckDB SQL.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fia_own_map_spark.operators.dedup import normalized_text, normalized_words_py

LOG_SCALE = 1 << 20  # fixed-point grid for quantized logs (Lloyd-IVF precedent)
BOS = "<s>"  # context padding token (cannot collide: mirrors/oracle use the same literal)


def _nonempty(df: DataFrame, text_col: str) -> DataFrame:
    """Documents with at least one token. The gate is on the NORMALIZED
    text (F.trim strips spaces only, so a tab-only doc passes a raw-trim
    check yet normalizes to '' — and split('', ' ') would fabricate one
    empty token)."""
    return df.filter(
        F.col(text_col).isNotNull() & (F.length(normalized_text(text_col)) > 0)
    )


def lm_trigram_events(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, a, b, c) — one BOS-padded trigram event per token, in order.
    Documents with NULL/blank text emit no events."""
    toks = F.split(normalized_text(text_col), " ")
    padded = F.concat(F.array(F.lit(BOS), F.lit(BOS)), toks)
    events = F.transform(
        F.sequence(F.lit(1), F.size(toks)),
        lambda i: F.struct(
            F.element_at(padded, i).alias("a"),
            F.element_at(padded, i + 1).alias("b"),
            F.element_at(padded, i + 2).alias("c"),
        ),
    )
    return (
        _nonempty(df, text_col)
        .select(F.col(id_col), F.explode(events).alias("e"))
        .select(id_col, "e.a", "e.b", "e.c")
    )


@dataclass
class TrigramLM:
    """Count tables + vocab size. c3: (a, b, c, n3); c2: (a, b, n2) with
    n2 = sum of n3 over the context (so unseen-event smoothing stays
    consistent: probabilities over a context sum to <= 1)."""

    c3: DataFrame
    c2: DataFrame
    vocab_size: int


def train_trigram_lm(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> TrigramLM:
    events = lm_trigram_events(df, id_col, text_col)
    c3 = events.groupBy("a", "b", "c").agg(F.count(F.lit(1)).alias("n3"))
    # context counts from the (much smaller) trigram table, not the stream
    c2 = c3.groupBy("a", "b").agg(F.sum("n3").alias("n2"))
    # vocab from the trigram table too: every corpus token is the TARGET of
    # exactly one event (BOS is never a target), so distinct targets =
    # distinct words — no second corpus-wide scan for the count
    vocab_size = c3.select("c").distinct().count()
    return TrigramLM(c3=c3, c2=c2, vocab_size=int(vocab_size))


def _lnq(x: Column) -> Column:
    """round(ln(x) * 2^20) as bigint — the quantized-log primitive."""
    return F.round(F.log(x.cast("double")) * F.lit(LOG_SCALE), 0).cast("long")


def lm_doc_scores(
    df: DataFrame,
    lm: TrigramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Every input row scored: (id, n_trigrams, logprob_q,
    logprob_per_token). Documents with no events keep NULL scores and
    n_trigrams = 0. Unseen events (scoring a corpus the model was not
    trained on) back off to c3 = 0 / c2 = 0 — the add-one floor."""
    events = lm_trigram_events(df, id_col, text_col)
    scored = (
        events.join(lm.c3, ["a", "b", "c"], "left")
        .join(lm.c2, ["a", "b"], "left")
        .select(
            id_col,
            (
                _lnq(F.coalesce("n3", F.lit(0)) + 1)
                - _lnq(F.coalesce("n2", F.lit(0)) + F.lit(lm.vocab_size))
            ).alias("q"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("q").alias("logprob_q"),
        F.count(F.lit(1)).alias("n_trigrams"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
            "logprob_q",
            F.round(
                F.col("logprob_q").cast("double")
                / (F.lit(float(LOG_SCALE)) * F.col("n_trigrams")),
                6,
            ).alias("logprob_per_token"),
        )
    )


def lm_filter(
    df: DataFrame,
    lm: TrigramLM,
    min_logprob_per_token: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep documents whose per-token log-prob clears the floor (CCNet
    keeps the low-perplexity head/middle; scoreless docs drop)."""
    scores = lm_doc_scores(df, lm, id_col, text_col).select(
        id_col, "logprob_per_token"
    )
    return (
        df.join(scores, id_col)
        .filter(F.col("logprob_per_token") >= F.lit(min_logprob_per_token))
        .drop("logprob_per_token")
    )


# ---------------------------------------------------------------------------
# clean-room single-machine mirror (testing convention of this repo)
# ---------------------------------------------------------------------------
def trigram_lm_py(
    texts: dict[int, str | None],
) -> dict[int, tuple[int, int | None, float | None]]:
    """{id: (n_trigrams, logprob_q, logprob_per_token)} — train + score on
    the same corpus, mirroring the Spark pipeline exactly."""
    docs: dict[int, list[str]] = {}
    for i, t in texts.items():
        words = normalized_words_py(t) if t is not None else []
        if words:
            docs[i] = words
    c3: dict[tuple[str, str, str], int] = {}
    vocab: set[str] = set()
    events: dict[int, list[tuple[str, str, str]]] = {}
    for i, words in docs.items():
        padded = [BOS, BOS] + words
        evs = [
            (padded[j], padded[j + 1], padded[j + 2])
            for j in range(len(words))
        ]
        events[i] = evs
        vocab.update(words)
        for e in evs:
            c3[e] = c3.get(e, 0) + 1
    c2: dict[tuple[str, str], int] = {}
    for (a, b, _), n in c3.items():
        c2[(a, b)] = c2.get((a, b), 0) + n
    v = len(vocab)

    def _half_up(val: float, places: int) -> Decimal:
        # HALF_UP (away from zero), not python round()'s banker's rounding:
        # Spark F.round is BigDecimal.valueOf(v).setScale(n, HALF_UP) and
        # DuckDB round is half-away too; this module claims bit-
        # reproducibility across engines, so an exact .5 quantization
        # boundary must tip the same way everywhere. Python's repr() is the
        # same shortest round-trip decimal as Java's Double.toString, so
        # Decimal(repr(v)) reproduces BigDecimal.valueOf(v) exactly.
        return Decimal(repr(val)).quantize(
            Decimal(1).scaleb(-places), rounding=ROUND_HALF_UP
        )

    def lnq(x: int) -> int:
        return int(_half_up(math.log(x) * LOG_SCALE, 0))

    out: dict[int, tuple[int, int | None, float | None]] = {}
    for i in texts:
        evs = events.get(i)
        if not evs:
            out[i] = (0, None, None)
            continue
        q = sum(lnq(c3[e] + 1) - lnq(c2[e[:2]] + v) for e in evs)
        out[i] = (len(evs), q, float(_half_up(q / (LOG_SCALE * len(evs)), 6)))
    return out
