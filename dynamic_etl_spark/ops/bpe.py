"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units", ACL).

The missing piece between the corpus layer and token counting
(ops/text.token_count / bpeish_token_count score with a FIXED heuristic;
this trains the merge table itself — the artifact a real pipeline ships
to its tokenizer). Beyond the reference surface: the reference has no
tokenizer operator at all.

Classic BPE iterates corpus-wide; the distributed re-expression exploits
the standard collapse: merges depend only on the WORD-FREQUENCY table
(|distinct words| << |corpus|, Zipf), so

  1. one corpus pass builds (word, freq)            - one shuffle, ever
  2. each merge round counts adjacent symbol pairs   - explode + codegen
     weighted by freq                                  sum, one shuffle
     over (left,right)
  3. the argmax pair is a 1-row bounded collect      - (count DESC,
     left, right) total order, so training is
     deterministic at any parallelism
  4. the merge applies to the symbol arrays via      - Arrow batches, the
     mapInPandas (greedy leftmost non-overlapping,     blessed Python
     the reference semantics)                          extension point

Rounds iterate on the VOCAB table only; lineage is truncated with
localCheckpoint every 5 rounds (iterative-op rule —
un-truncated lineage compounds per round until plan stringification
blows up), and each round's cache is released as soon as the next one
lands (no CacheManager leak for per-batch callers).

100 TB shape: the corpus is touched exactly once (step 1); every round
after that moves only the ~100M-row word-vocab table. Pair counting
partial-aggregates map-side; the only driver-side values are the 1-row
argmax per round and the final merge table (N_MERGES rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Merge rounds trained, and the weighted pair count a merge needs; the
# registry's DuckDB replay of the training loop reads both.
N_MERGES, MIN_COUNT = 16, 2


def word_counts(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace-split words — the one corpus-wide
    pass of BPE training."""
    return (
        corpus.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(word, eow: str):
    """Character symbols plus the end-of-word marker (its own symbol, the
    Sennrich convention, so merges can learn suffixes)."""
    chars = F.array_remove(F.split(word, "(?!^)"), "")
    return F.concat(chars, F.array(F.lit(eow)))


def merge_word(symbols: list, left: str, right: str) -> list:
    """Greedy leftmost non-overlapping application of one merge to one
    symbol sequence — the reference BPE apply semantics. Shared by the
    Spark worker closure and the pytest reference implementation so the
    two cannot drift."""
    out, i, n = [], 0, len(symbols)
    while i < n:
        if i < n - 1 and symbols[i] == left and symbols[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def train_bpe(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Train ``N_MERGES`` BPE merges on ``corpus`` and return the merge
    table: (rank, left, right, merged, pair_count), rank 0 first.

    Stops early when no adjacent pair reaches ``MIN_COUNT`` (weighted by
    word frequency). Pair statistics count EVERY adjacent occurrence
    (the classic get_stats — "aaa" contributes (a,a) twice); the apply
    step merges greedily leftmost non-overlapping (:func:`merge_word`).
    Ties in the argmax break on (left, right) lexicographically —
    training is bit-deterministic at any parallelism.
    """
    import pandas as pd

    spark = corpus.sparkSession
    vocab = (
        word_counts(corpus, text_col)
        .select(_initial_symbols(F.col("word"), "</w>").alias("symbols"), "freq")
        .persist()
    )
    sym_schema = T.StructType(
        [
            T.StructField("symbols", T.ArrayType(T.StringType()), False),
            T.StructField("freq", T.LongType(), False),
        ]
    )
    merges: list[tuple] = []
    try:
        for rank in range(N_MERGES):
            n = F.size("symbols")
            pairs = (
                vocab.select(
                    F.explode(
                        F.arrays_zip(
                            F.slice(F.col("symbols"), 1, n - 1).alias("l"),
                            F.slice(F.col("symbols"), 2, n - 1).alias("r"),
                        )
                    ).alias("p"),
                    "freq",
                )
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("freq").alias("cnt"))
            )
            top = (
                pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r")).limit(1).collect()
            )
            if not top or top[0]["cnt"] < MIN_COUNT:
                break
            left, right, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
            merges.append((rank, left, right, left + right, int(cnt)))

            def apply_merge(batches, _l=left, _r=right):
                for pdf in batches:
                    # .to_numpy(): never rely on pandas index alignment
                    # between a fresh list column and the batch Series
                    yield pd.DataFrame(
                        {
                            "symbols": [
                                merge_word(list(s), _l, _r) for s in pdf["symbols"]
                            ],
                            "freq": pdf["freq"].to_numpy(),
                        }
                    )

            nxt = vocab.mapInPandas(apply_merge, sym_schema)
            if (rank + 1) % 5 == 0:
                nxt = nxt.localCheckpoint()
            else:
                nxt = nxt.persist()
                nxt.count()  # materialize before releasing the parent cache
            vocab.unpersist()
            vocab = nxt
    finally:
        vocab.unpersist()
    out_schema = T.StructType(
        [
            T.StructField("rank", T.LongType(), False),
            T.StructField("left", T.StringType(), False),
            T.StructField("right", T.StringType(), False),
            T.StructField("merged", T.StringType(), False),
            T.StructField("pair_count", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(merges, out_schema)


def bpe_segment(word: str, merge_ranks: dict) -> list:
    """Segment one word with a trained merge table ({(left, right): rank})
    by always applying the LOWEST-rank applicable merge — the standard
    encode loop; driver-side utility for inspection and tests."""
    symbols = list(word) + ["</w>"]
    while len(symbols) > 1:
        ranked = [
            (merge_ranks[(a, b)], a, b)
            for a, b in zip(symbols, symbols[1:])
            if (a, b) in merge_ranks
        ]
        if not ranked:
            break
        _, a, b = min(ranked)
        symbols = merge_word(symbols, a, b)
    return symbols


def bpe_encode_words(
    words: DataFrame,
    merge_table: DataFrame,
    word_col: str = "word",
) -> DataFrame:
    """Segment each DISTINCT word with a trained merge table: (word,
    pieces array<string>, n_pieces). The merge table is N_MERGES rows —
    a tokenizer config, bounded by construction — so it collects once
    and ships in the worker closure; segmentation itself runs in Arrow
    batches over the distinct-word table, where each word is segmented
    exactly once corpus-wide (the dedup lives in the plan, not a memo).

    This is the ENCODE half of the tokenizer (train_bpe is the other):
    Python touches only the distinct-word table, never the corpus —
    see :func:`bpe_encode_profile` for the corpus-side join shape."""
    import pandas as pd

    ranks = {
        (r["left"], r["right"]): int(r["rank"]) for r in merge_table.collect()
    }

    def seg(batches):
        for pdf in batches:
            # the input is the DISTINCT word table (each word reaches one
            # task exactly once), so there is nothing to memoize — the
            # dedup happened in the plan, where it belongs
            pieces = []
            for w in pdf[word_col]:
                pieces.append(bpe_segment(w, ranks))
            yield pd.DataFrame(
                {
                    word_col: pdf[word_col],
                    "pieces": pieces,
                    "n_pieces": [len(p) for p in pieces],
                }
            )

    schema = T.StructType(
        [
            T.StructField(word_col, T.StringType(), False),
            T.StructField("pieces", T.ArrayType(T.StringType()), False),
            T.StructField("n_pieces", T.IntegerType(), False),
        ]
    )
    return words.select(word_col).distinct().mapInPandas(seg, schema)


def bpe_encode_profile(
    corpus: DataFrame,
    merge_table: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document BPE tokenization stats WITHOUT per-document Python —
    the 100 TB encode shape: the corpus explodes to words (codegen
    split), the DISTINCT words segment once (word-table-sized Python,
    :func:`bpe_encode_words`), and a word -> n_pieces join + one groupBy
    aggregate the corpus side entirely in codegen. Word counts follow
    Zipf, so the Python stage is orders of magnitude smaller than the
    corpus and the join's build side is the word table.

    Output: (doc_id, n_words, n_bpe_tokens, n_chars_tokenized,
    chars_per_token) — integer sums divided ONCE at the end (the
    divide-last parity rule), 6dp. chars_per_token counts the eow
    marker as one symbol, matching n_pieces."""
    words = corpus.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
    ).filter(F.length("word") > 0)
    encoded = bpe_encode_words(words, merge_table, "word")
    return (
        words.join(encoded, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_bpe_tokens"),
            F.sum(F.length("word")).alias("n_chars_tokenized"),
        )
        .select(
            id_col,
            "n_words",
            "n_bpe_tokens",
            "n_chars_tokenized",
            F.round(
                F.col("n_chars_tokenized").cast("double") / F.col("n_bpe_tokens"), 6
            ).alias("chars_per_token"),
        )
    )
