"""Distributed BPE tokenizer training (byte-pair-encoding merge
learning, Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units").

The missing piece of a training-data pipeline that already counts
tokens (functions/text.py) and packs sequences (operators/dataset.py):
LEARNING the subword vocabulary from the corpus itself. Reference
scope: fzliu/radient tokenizes with pretrained vocabularies only
(sbert, tiktoken-style counts); this trains one.

Spark-first shape — the classic two-phase decomposition:
  1. ONE corpus pass collapses the corpus to the (word, freq) vocab
     table (groupBy word). Everything after runs on the VOCAB, whose
     size is corpus-independent (Heaps' law: ~10^5-10^6 words at
     100 TB) — the same reason sentencepiece/HF trainers count words
     first.
  2. Per merge round: adjacent symbol-pair counts weighted by word
     freq (one explode + map-side-combined groupBy over the vocab),
     a 1-row argmax collect (the algorithm's inherent sequential
     dependency — each merge depends on the previous), and a greedy
     leftmost-nonoverlapping merge applied as a per-word string fold
     (Catalyst `aggregate` HOF — no UDF, no shuffle).

Words are represented as space-separated symbol strings ("f a s t
</w>"); the fold's accumulator is the merged prefix string, so "merge
pair (a,b)" is: if the accumulated string's last symbol is `a` and the
incoming symbol is `b`, splice them — exactly the leftmost
non-overlapping semantics of reference BPE implementations, and
expressible identically in DuckDB's list_reduce for the oracle.

Determinism: argmax ties break on (count DESC, left ASC, right ASC);
all arithmetic is integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radient_spark.lineage import truncate
from radient_spark.session import local_frame

END_MARK = "</w>"


def words_to_symbols(words: DataFrame, word_col: str = "w") -> DataFrame:
    """Append the initial symbol string: characters space-separated,
    plus the end-of-word marker ("fast" -> "f a s t </w>"). The marker
    is appended AFTER char-splitting, so a literal "</w>" in the corpus
    char-splits into "< / w >" and can never collide with it."""
    spaced = F.rtrim(F.regexp_replace(F.col(word_col), "(.)", "$1 "))
    return words.withColumn("sym", F.concat(spaced, F.lit(" " + END_MARK)))


def _merge_fold(left: str, right: str) -> F.Column:
    """Greedy leftmost-nonoverlapping merge of the symbol pair
    (left, right) over the `sym` column, as one Catalyst aggregate fold
    (zero shuffle, zero UDF)."""
    merged = left + right
    tail = " " + left
    return F.aggregate(
        F.slice(F.split(F.col("sym"), " "), 2, F.size(F.split(F.col("sym"), " ")) - 1),
        F.element_at(F.split(F.col("sym"), " "), 1),
        lambda acc, x: F.when(
            (x == F.lit(right))
            & (
                (acc == F.lit(left))
                | (
                    F.substr(
                        acc,
                        F.length(acc) - F.lit(len(left)),
                        F.lit(len(tail)),
                    )
                    == F.lit(tail)
                )
            ),
            F.concat(
                F.substr(acc, F.lit(1), F.length(acc) - F.lit(len(left))),
                F.lit(merged),
            ),
        ).otherwise(F.concat(acc, F.lit(" "), x)),
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Freq-weighted adjacent-symbol-pair counts over the vocab table:
    (left_sym, right_sym, pair_count). One explode + one groupBy, both
    over vocab-sized data."""
    toks = F.split(F.col("sym"), " ")
    # guard the single-symbol case (a fully-merged word): sequence(1, 0)
    # would generate a DESCENDING [1, 0] and index past the array
    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = vocab.select(
        F.col("freq"),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(toks, i).alias("l"),
                    F.element_at(toks, i + 1).alias("r"),
                ),
            )
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
    ).agg(F.sum("freq").alias("pair_count"))


def bpe_learn(
    docs: DataFrame,
    text_col: str = "text",
    rounds: int = 4,
) -> DataFrame:
    """Learn `rounds` BPE merges from a document corpus. Returns the
    merge table (round, left_sym, right_sym, pair_count) — the ordered
    merge list IS the trained tokenizer (apply-side tokenization folds
    it over input text the same way).

    Driver involvement: ONE row per round (the argmax merge), the
    sequential dependency of the algorithm itself. The corpus is read
    once; every iteration runs over the cached vocab table.
    """
    from radient_spark.functions import text as X

    spark = docs.sparkSession
    words = (
        docs.select(F.explode(X.tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # keep the persisted base in its own variable: `vocab` is rebound
    # to localCheckpoint results inside the loop, so unpersisting
    # `vocab` in the finally block would release the final checkpoint
    # and leak the word-symbol cache for the session lifetime
    base = words_to_symbols(words).select("sym", "freq").persist()
    vocab = base
    try:
        merges: list[tuple[int, str, str, int]] = []
        for rnd in range(1, rounds + 1):
            best = (
                pair_counts(vocab)
                .orderBy(
                    F.col("pair_count").desc(),
                    F.col("left_sym").asc(),
                    F.col("right_sym").asc(),
                )
                .limit(1)
                .collect()
            )
            if not best:
                break
            b = best[0]
            merges.append(
                (rnd, b["left_sym"], b["right_sym"], b["pair_count"])
            )
            # LAZY checkpoint: the merged vocab materializes inside the
            # NEXT round's argmax job instead of in a standalone job —
            # halves the jobs per round, and the final round's
            # checkpoint (consumed by nothing: only `merges` is
            # returned) costs zero instead of one full materialization
            # (guide §1.2: fewer passes; measured q_bpe_merges
            # 2.25 -> ~1.3 s warm-min at sf0.1).
            vocab = vocab.withColumn(
                "sym", _merge_fold(b["left_sym"], b["right_sym"])
            ).transform(truncate)
        return local_frame(
            spark,
            merges,
            "round long, left_sym string, right_sym string, pair_count long",
        )
    finally:
        base.unpersist()


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize text with a learned merge list: split to words, expand
    each word to symbols, fold the merges in order. Pure Catalyst
    (chained aggregate folds); one row in, one row out with an
    array<string> of subword tokens."""
    from radient_spark.functions import text as X

    spaced_word = lambda w: F.concat(  # noqa: E731
        F.rtrim(F.regexp_replace(w, "(.)", "$1 ")), F.lit(" " + END_MARK)
    )
    out = df.withColumn(
        "__bpe_syms",
        F.transform(X.tokens(F.col(text_col)), spaced_word),
    )
    # fold each merge over every word's symbol string
    def _fold_one(left: str, right: str):
        merged, tail = left + right, " " + left

        def fold(s):
            return F.aggregate(
                F.slice(F.split(s, " "), 2, F.size(F.split(s, " ")) - 1),
                F.element_at(F.split(s, " "), 1),
                lambda acc, x: F.when(
                    (x == F.lit(right))
                    & (
                        (acc == F.lit(left))
                        | (
                            F.substr(
                                acc,
                                F.length(acc) - F.lit(len(left)),
                                F.lit(len(tail)),
                            )
                            == F.lit(tail)
                        )
                    ),
                    F.concat(
                        F.substr(
                            acc, F.lit(1), F.length(acc) - F.lit(len(left))
                        ),
                        F.lit(merged),
                    ),
                ).otherwise(F.concat(acc, F.lit(" "), x)),
            )

        return fold

    for left, right in merges:
        out = out.withColumn(
            "__bpe_syms",
            F.transform(F.col("__bpe_syms"), _fold_one(left, right)),
        )
    return out.withColumn(
        out_col,
        F.flatten(F.transform(F.col("__bpe_syms"), lambda s: F.split(s, " "))),
    ).drop("__bpe_syms")
