"""Text-analysis operators for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All of these stay JVM-side (regexp/array functions) except the winnowing
fingerprint, which is an Arrow-batched pandas UDF (rolling hash needs a
sequential pass per document — embarrassingly parallel across rows).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un", "une", "du"],
}


def _tokens(col: Column) -> Column:
    return F.split(F.lower(F.trim(col)), r"\s+")


def lang_scores(text_col: Column | str) -> dict[str, Column]:
    """Per-language stopword hit counts (token-level, duplicates counted)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = _tokens(c)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(words)))
        for lang, words in LANG_PROFILES.items()
    }


def lang_id(text_col: Column | str, default: str = "und") -> Column:
    """argmax language by stopword hits; deterministic tie-break by language
    code order; 'und' when nothing matches."""
    scores = lang_scores(text_col)
    best = F.greatest(*scores.values())
    expr = F.lit(default)
    for lang in sorted(scores, reverse=True):  # earlier alphabetical wins ties
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def token_count_ws(text_col: Column | str) -> Column:
    """Whitespace token count."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_bpe_ish(text_col: Column | str) -> Column:
    """BPE-ish token count: alpha runs, digit runs, and single punctuation
    marks each count as one token (a cheap proxy for subword tokenizers)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / token-shape features + a composite
    quality score in [0,1]."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count_ws(text_col)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    en_stop = F.size(F.filter(_tokens(c), lambda t: t.isin(LANG_PROFILES["en"])))
    mean_tok_len = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars.cast("double")).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, en_stop / n_tokens.cast("double")).otherwise(F.lit(0.0))
    score = F.round(
        F.least(F.lit(1.0), n_tokens / F.lit(50.0)) * 0.4
        + F.least(F.lit(1.0), stop_ratio * 5) * 0.3
        + (F.lit(1.0) - F.least(F.lit(1.0), punct_ratio * 4)) * 0.3,
        6,
    )
    return (
        df.withColumn("n_chars_computed", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("n_punct", n_punct)
        .withColumn("stopword_hits", en_stop)
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("mean_token_len", F.round(mean_tok_len, 6))
        .withColumn("quality_score", score)
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprint (md5 k-gram hash) — pandas UDF
# ---------------------------------------------------------------------------
def winnow_md5_py(text: str, k: int = 5, window: int = 4) -> list[str]:
    """Winnowing (Schleimer et al. 2003): min hash per sliding window over
    k-gram hashes, deduped and order-preserving. The gram hash is md5-hex,
    reproducible in SQL (DuckDB md5), so the fingerprint is value-checkable
    cross-engine; min over hex strings is lexicographic in both engines."""
    import hashlib

    def h(s: str) -> str:
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    toks = text.lower().split()
    if len(toks) < k:
        return [h(" ".join(toks))] if toks else []
    grams = [h(" ".join(toks[i : i + k])) for i in range(len(toks) - k + 1)]
    if len(grams) <= window:
        return [min(grams)]
    out: list[str] = []
    last = None
    for i in range(len(grams) - window + 1):
        m = min(grams[i : i + window])
        if m != last:
            out.append(m)
            last = m
    return out


@pandas_udf(StringType())
def _winnow_md5_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: None if t is None else ",".join(winnow_md5_py(t)))


def doc_fingerprint_md5(text_col: Column | str) -> Column:
    """Comma-joined md5-family winnowing fingerprint (a hashable scalar,
    checkable cross-engine)."""
    return _winnow_md5_udf(F.col(text_col) if isinstance(text_col, str) else text_col)


# ---------------------------------------------------------------------------
# Gopher-style repetition / shape filters (Rae et al. 2021 §A1.1) — the
# standard pre-training quality gates, all native exprs: one projection,
# no shuffle, no UDF, fully DuckDB-oracle-checkable.
# ---------------------------------------------------------------------------
def gopher_repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """df + duplicate-line / symbol / bullet / ellipsis / alpha-word
    fractions (6dp). NULL text yields 0.0 in every feature column (the
    frac guards fall through to the otherwise(0.0) branch when size() is
    -1/NULL — same convention as the DuckDB oracle).

    The duplicate-line char fraction uses a sort + adjacent-equal walk
    (array_sort, zip_with of the array against its own shift) instead of a
    per-line O(L^2) membership scan — per-row cost L log L, independent of
    corpus size, so the operator is a pure map at 100 TB."""
    c = F.col(text_col)
    lines = F.filter(F.split(c, "\n"), lambda x: F.length(F.trim(x)) > 0)
    n_lines = F.size(lines)
    n_dup = n_lines - F.size(F.array_distinct(lines))
    srt = F.array_sort(lines)
    shift_len = F.greatest(n_lines - 1, F.lit(0))
    dup_chars = F.aggregate(
        F.zip_with(
            F.slice(srt, 2, shift_len),
            F.slice(srt, 1, shift_len),
            lambda a, b: F.when(a == b, F.length(a)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    line_chars = F.aggregate(lines, F.lit(0), lambda acc, x: acc + F.length(x))
    toks = F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")
    n_words = F.size(toks)
    n_symbols = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\.|…"), 0))
    trimmed = F.transform(lines, F.trim)
    n_bullet = F.size(
        F.filter(trimmed, lambda x: F.substring(x, 1, 1).isin("-", "*", "•", "‣", "▪"))
    )
    n_ellipsis = F.size(
        F.filter(trimmed, lambda x: x.endswith("...") | x.endswith("…"))
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))

    def frac(num, den):
        return F.when(den > 0, F.round(num / den.cast("double"), 6)).otherwise(F.lit(0.0))

    return (
        df.withColumn("dup_line_frac", frac(n_dup, n_lines))
        .withColumn("dup_line_char_frac", frac(dup_chars, line_chars))
        .withColumn("symbol_word_ratio", frac(n_symbols, n_words))
        .withColumn("bullet_line_frac", frac(n_bullet, n_lines))
        .withColumn("ellipsis_line_frac", frac(n_ellipsis, n_lines))
        .withColumn("alpha_word_frac", frac(n_alpha, n_words))
    )


# ---------------------------------------------------------------------------
# PII scrub — regex redaction + per-kind counts, native regexp exprs.
# Patterns stay inside the RE2-compatible subset (no lookarounds, no
# backrefs) so Spark's java.util.regex and DuckDB's RE2 agree token for
# token — the oracle IS the cross-engine conformance test.
# ---------------------------------------------------------------------------
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
]


def pii_scrub(df: DataFrame, text_col: str = "text", out_col: str = "clean_text") -> DataFrame:
    """df + per-kind match counts (on the ORIGINAL text) + redacted text.

    Replacement order = PII_PATTERNS order (email before phone/ip so an
    address's digits can't be re-matched once its host is replaced;
    SSN before phone so 3-2-4 never half-matches 3-3-4)."""
    c = F.col(text_col)
    out = df
    for kind, pat, _tok in PII_PATTERNS:
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(c, F.lit(pat), 0))
        )
    red = c
    for _kind, pat, tok in PII_PATTERNS:
        red = F.regexp_replace(red, pat, tok)  # tokens contain no $ or \ metachars
    return out.withColumn(out_col, red)
