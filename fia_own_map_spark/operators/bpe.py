"""Byte-pair-encoding subword tokenizer — TRAINED distributed, applied
vectorized.

The brief's token-counting ask shipped in r2 as whitespace + a BPE-ish
regex; this module adds the real thing: BPE merge training (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword Units" —
public algorithm) re-expressed for Spark scale, plus a vectorized
tokenizer that applies the learned merge table.

Scale design (the part that matters at 100 TB):

  * training never touches the corpus row-by-row — it runs over the
    DISTINCT-WORD frequency table (the same state-compression trick as the
    ER pipeline's distinct (bucket, name) clustering), so iteration cost is
    bound by vocabulary size, not corpus size;
  * each merge iteration is one shuffle: explode adjacent symbol pairs ->
    groupBy pair with map-side partial sum -> a ONE-ROW limit-collect of
    the argmax (deterministic tie-break: count desc, then pair asc);
  * the pair merge inside each word is a native Catalyst fold (greedy
    leftmost, non-overlapping — exactly the reference semantics), with an
    eager localCheckpoint per iteration so the plan doesn't deepen by one
    fold per merge;
  * applying the learned merges is an Arrow-batched pandas UDF with a
    per-batch word cache (apply is per-WORD, and web text repeats words
    heavily — the cache turns per-token work into per-distinct-word work).

Parity: `bpe_train_py` / `bpe_word_py` are the clean-room single-machine
mirrors (testing convention of this repo); tests assert the distributed
trainer produces the IDENTICAL merge list and the tokenizer the identical
subwords on the sf0.001 documents corpus.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from fia_own_map_spark.operators.dedup import normalized_text, normalized_words_py
from fia_own_map_spark.session import release_checkpoints

END = "</w>"  # end-of-word marker symbol (standard BPE)


# ---------------------------------------------------------------------------
# distributed training
# ---------------------------------------------------------------------------
def word_symbol_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt, symbols) — the distinct-word frequency table with each
    word exploded into single-character symbols + the end-of-word marker."""
    words = df.select(
        F.explode(F.split(normalized_text(text_col), " ")).alias("word")
    ).filter(F.length("word") > 0)
    tbl = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    return tbl.withColumn(
        "symbols", F.concat(chars, F.array(F.lit(END)))
    )


def _pair_counts(tbl: DataFrame) -> DataFrame:
    """(a, b, total) for every adjacent symbol pair, weighted by word count
    (map-side partial sum before the shuffle)."""
    n = F.size("symbols")
    pairs = F.zip_with(
        F.slice("symbols", 1, n - 1),
        F.slice("symbols", 2, n - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    return (
        tbl.filter(F.size("symbols") >= 2)
        .select("cnt", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("total"))
    )


def _merge_in_symbols(symbols: Column, a: str, b: str) -> Column:
    """Greedy leftmost non-overlapping replacement of the adjacent pair
    (a, b) with the fused symbol a+b, as a native Catalyst fold: the
    accumulator carries (out, pend) where pend is the one symbol that may
    still start a merge with the next element."""
    merged = F.lit(a + b)
    init = F.struct(
        F.expr("cast(array() as array<string>)").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc: Column, s: Column) -> Column:
        fuse = (acc["pend"] == F.lit(a)) & (s == F.lit(b))
        return F.when(
            fuse,
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(
            F.struct(
                F.when(
                    acc["pend"].isNull(), acc["out"]
                ).otherwise(F.concat(acc["out"], F.array(acc["pend"]))).alias("out"),
                s.alias("pend"),
            )
        )

    def finish(acc: Column) -> Column:
        return F.when(
            acc["pend"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pend"])))

    return F.aggregate(symbols, init, step, finish)


def _has_adjacent(symbols: Column, a: str, b: str) -> Column:
    """True when the ADJACENT pair (a, b) occurs in the symbol array."""
    n = F.size(symbols)
    return F.exists(
        F.zip_with(
            F.slice(symbols, 1, n - 1),
            F.slice(symbols, 2, n - 1),
            lambda x, y: (x == F.lit(a)) & (y == F.lit(b)),
        ),
        lambda v: v,
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to n_merges BPE merges from the corpus.

    Incremental design (the production-vocabulary path): the global pair
    table is built ONCE, then maintained by DELTA — each merge recounts
    only the words that actually contain the merged pair (the standard BPE
    trainer optimization, re-expressed distributed):

      * argmax is a TakeOrdered over the small checkpointed PAIR table
        (driver receives one row), never a fresh corpus-wide explode;
      * affected words are isolated with a native adjacent-pair predicate;
        their pre-merge pairs enter the delta at -cnt and post-merge pairs
        at +cnt in a single explode pass, so the updated table stays exact
        (the merged pair itself annihilates to zero and drops out);
      * the word table update folds ONLY affected rows (a lazy per-row
        CASE guards the Catalyst fold), so per-iteration work after the
        first merge is proportional to the affected slice, not the vocab;
      * both states are localCheckpointed eagerly per iteration (lineage
        stays flat) and the PREVIOUS iteration's blocks are released —
        peak cache is two table versions, independent of merge count.

    Same merge list as the full recount (tests pin trainer == single-
    machine mirror): counts, tie-break (desc total, asc pair), and the
    min_pair_count stop are unchanged."""
    tbl = word_symbol_table(df, text_col).localCheckpoint()
    pc = _pair_counts(tbl).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            pc.orderBy(F.desc("total"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["total"] < min_pair_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        has_pair = _has_adjacent(F.col("symbols"), a, b)
        aff = tbl.filter(has_pair).withColumn(
            "new_symbols", _merge_in_symbols(F.col("symbols"), a, b)
        )

        def pair_structs(col: str, w: Column) -> Column:
            n = F.size(col)
            return F.zip_with(
                F.slice(col, 1, n - 1),
                F.slice(col, 2, n - 1),
                lambda x, y: F.struct(
                    x.alias("a"), y.alias("b"), w.alias("w")
                ),
            )

        delta = (
            aff.select(
                F.explode(
                    F.concat(
                        pair_structs("symbols", -F.col("cnt")),
                        pair_structs("new_symbols", F.col("cnt")),
                    )
                ).alias("e")
            )
            .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
            .agg(F.sum("e.w").alias("total"))
        )
        new_pc = (
            pc.unionByName(delta)
            .groupBy("a", "b")
            .agg(F.sum("total").alias("total"))
            .filter(F.col("total") > 0)
            .localCheckpoint()
        )
        new_tbl = tbl.withColumn(
            "symbols",
            F.when(
                has_pair, _merge_in_symbols(F.col("symbols"), a, b)
            ).otherwise(F.col("symbols")),
        ).localCheckpoint()
        release_checkpoints(pc)
        release_checkpoints(tbl)
        pc, tbl = new_pc, new_tbl
    release_checkpoints(pc)
    release_checkpoints(tbl)
    return merges


# ---------------------------------------------------------------------------
# vectorized apply
# ---------------------------------------------------------------------------
def bpe_word_py(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Clean-room single-word BPE apply: one greedy-leftmost pass per merge
    IN TRAINING ORDER — for any word seen during training this reproduces
    the trainer's final symbol table exactly (the word underwent the same
    pass sequence between iterations)."""
    syms = list(word) + [END]
    for a, b in merges:
        if len(syms) < 2:
            break
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_train_py(
    texts: list[str], n_merges: int = 50, min_pair_count: int = 2
) -> list[tuple[str, str]]:
    """Clean-room single-machine trainer mirroring train_bpe exactly
    (same normalization — via the shared JVM-semantics word splitter —
    same greedy-leftmost merge, same tie-break)."""
    vocab: Counter = Counter()
    for t in texts:
        if t is None:
            continue
        for w in normalized_words_py(t):
            vocab[w] += 1
    words = {w: list(w) + [END] for w in vocab}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for w, syms in words.items():
            c = vocab[w]
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += c
        if not counts:
            break
        pair, total = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if total < min_pair_count:
            break
        merges.append(pair)
        a, b = pair
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


def bpe_tokens(text_col: Column | str, merges: list[tuple[str, str]]) -> Column:
    """array<string> of BPE subword tokens for the whole document (Arrow-
    batched; per-batch word cache collapses repeated words)."""
    mlist = [tuple(m) for m in merges]

    @pandas_udf(ArrayType(StringType()))
    def _apply(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def doc(t):
            if t is None:
                return None
            out: list[str] = []
            for w in normalized_words_py(t):
                got = cache.get(w)
                if got is None:
                    got = cache[w] = bpe_word_py(w, mlist)
                out.extend(got)
            return out

        return texts.map(doc)

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return _apply(c)


def bpe_token_count(
    col: Column | str, merges: list[tuple[str, str]] | None = None
) -> Column:
    """Subword token count. Pass an ALREADY-TOKENIZED column (from
    bpe_tokens) whenever tokens are also selected — each bpe_tokens call
    creates an independent UDF Catalyst cannot dedupe, so counting from
    raw text next to a tokens column would run the whole BPE apply twice.
    With `merges` given, applies them to the raw text column instead
    (count-only callers)."""
    if merges is None:
        c = F.col(col) if isinstance(col, str) else col
        return F.size(c)
    return F.size(bpe_tokens(col, merges))
