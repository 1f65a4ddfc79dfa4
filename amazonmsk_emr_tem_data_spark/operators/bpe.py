"""Distributed BPE merge learning — tokenizer training as DataFrame ops
(north-star: the step before token counting in an LLM data pipeline).

Classic byte-pair-encoding induction (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units" — public
algorithm): start from characters, repeatedly merge the most frequent
adjacent symbol pair. The textbook implementation is a single-machine
dict loop; this one is the corpus-scale shape:

- The corpus collapses ONCE to a (word, freq) table — BPE statistics
  depend only on word frequencies, so everything after the first
  aggregation works on |vocab| rows, not |corpus| rows. At 100 TB the
  word-freq table is the only full-data shuffle.
- Each round is one small aggregation over the cached word table
  (explode adjacent pairs weighted by freq → sum → argmax) with ONE
  row collected to the driver — the same bounded driver-state recipe
  as IVF's k-means (similarity.kmeans_centroids); the merge itself is
  a codegen'd array fold, no Python in the data path.
- Ties break lexicographically so the learned merge table is
  deterministic across runs and partitionings.
"""

from __future__ import annotations

from ..sources.files import checkpoint_stage

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def _word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, symbols) — symbols start as the character split
    with a word-end marker (the standard BPE convention, so merges
    can't cross word boundaries)."""
    words = df.select(F.explode(tokens(text_col)).alias("word"))
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    symbols = F.concat(
        F.split(F.col("word"), ""), F.array(F.lit("</w>"))
    )
    return wf.withColumn("symbols", symbols)


def _adjacent_pairs(symbols: Column) -> Column:
    """Array of 'a b' strings for each adjacent symbol pair."""
    return F.when(
        F.size(symbols) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(symbols) - 1),
            lambda i: F.concat_ws(" ", F.slice(symbols, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _merge_pair(symbols: Column, a: str, b: str) -> Column:
    """Left-to-right merge of adjacent (a, b) → a+b, as a pure array
    fold (greedy, non-overlapping — the BPE contract: 'aaa' with merge
    (a,a) → ['aa', 'a'])."""
    merged = F.lit(a + b)
    return F.aggregate(
        symbols,
        F.struct(
            F.array().cast("array<string>").alias("acc"),
            F.lit(False).alias("just_merged"),
        ),
        lambda st, x: F.when(
            ~st["just_merged"]
            & (F.size(st["acc"]) > 0)
            & (F.element_at(st["acc"], -1) == F.lit(a))
            & (x == F.lit(b)),
            F.struct(
                F.concat(
                    F.slice(st["acc"], 1, F.size(st["acc"]) - 1),
                    F.array(merged),
                ).alias("acc"),
                F.lit(True).alias("just_merged"),
            ),
        ).otherwise(
            F.struct(
                F.concat(st["acc"], F.array(x)).alias("acc"),
                F.lit(False).alias("just_merged"),
            )
        ),
        lambda st: st["acc"],
    )


#: Merge rounds a learned BPE vocabulary runs (the queries' SQL twins
#: unroll the same count).
N_MERGES = 16


def learn_bpe_merges(
    df: DataFrame, n_merges: int = N_MERGES
) -> list[tuple[int, str, str, int]]:
    """Learn up to ``n_merges`` BPE merges from a corpus; returns
    [(round, left, right, pair_freq)] in learned order. Stops early
    when no adjacent pair repeats."""
    wf = _word_freqs(df, "text").transform(checkpoint_stage)
    merges: list[tuple[int, str, str, int]] = []
    for r in range(n_merges):
        top = (
            wf.select("freq", F.explode(_adjacent_pairs(F.col("symbols"))).alias("p"))
            .groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("p").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        a, b = top[0]["p"].split(" ", 1)
        merges.append((r, a, b, int(top[0]["n"])))
        wf = wf.withColumn(
            "symbols", _merge_pair(F.col("symbols"), a, b)
        ).transform(checkpoint_stage)
    return merges


def bpe_merge_table(df: DataFrame) -> DataFrame:
    """The learned merge table as a DataFrame (round, left, right,
    merged, pair_freq) — what a tokenizer build step would persist."""
    spark = df.sparkSession
    merges = learn_bpe_merges(df)
    return spark.createDataFrame(
        [(r, a, b, a + b, n) for (r, a, b, n) in merges],
        "round int, left string, right string, merged string, pair_freq long",
    )


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
) -> DataFrame:
    """Apply a learned merge list to a corpus: per-document subword
    token count (the deployable tokenizer pass — pure array folds,
    map-only, no shuffle)."""
    words = df.select(
        "doc_id", F.explode(tokens("text")).alias("word")
    ).withColumn(
        "symbols",
        F.concat(F.split(F.col("word"), ""), F.array(F.lit("</w>"))),
    )
    col = F.col("symbols")
    for _, a, b, _n in merges:
        col = _merge_pair(col, a, b)
    return (
        words.withColumn("n_subwords", F.size(col))
        .groupBy("doc_id")
        .agg(F.sum("n_subwords").alias("bpe_token_count"))
    )
