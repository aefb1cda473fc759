"""Byte-pair-encoding tokenizer TRAINING as a Spark job.

q293 computes one merge step's candidate table; this operator runs the
whole training loop — the way production BPE actually scales:

1. ONE corpus pass collapses the text to the word-frequency dictionary
   (map-side-combinable groupBy; trillions of tokens -> a vocab-bounded
   frame). This is the only operation that ever touches the corpus.
2. Every merge iteration then runs on the DICTIONARY frame: count
   adjacent symbol pairs weighted by word frequency (aggregate), pick
   the argmax deterministically (freq desc, pair lexicographic), and
   apply the merge to each word's symbol sequence with a left-to-right
   fold (``F.aggregate`` — JVM-side, no UDF). ``localCheckpoint`` after
   each iteration truncates the growing expression lineage.

The merge sequence is bit-deterministic (exact integer pair counts,
total tie order), pinned against a pure-Python reference implementation
in tests. The reference repo has no tokenization surface at all
(/root/reference/etl_connector.py:53-242, SURVEY §2.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.text import words


def _char_split(word: Column) -> Column:
    # every char boundary except the start; Spark's split (unlike Java's
    # limit=0 form) keeps the empty string from the end-of-string match,
    # so filter it out explicitly
    return F.filter(F.split(word, "(?!^)"), lambda s: s != F.lit(""))


def _adjacent_pairs(seg: Column) -> Column:
    """array<struct<a,b>> of adjacent symbol pairs in a segmentation.
    NB: guarded for single-symbol words — sequence(1, 0) would generate a
    DESCENDING [1, 0], not an empty array."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(seg) - 1),
        lambda i: F.struct(
            F.element_at(seg, i.cast("int")).alias("a"),
            F.element_at(seg, (i + 1).cast("int")).alias("b"),
        ),
    )
    return F.when(F.size(seg) >= 2, pairs).otherwise(
        F.array().cast("array<struct<a:string,b:string>>")
    )


def _apply_merge(seg: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) -> a+b (one pass —
    GPT-2-style non-overlapping application) as a JVM-side fold."""
    merged = F.lit(a + b)

    def step(acc: Column, x: Column) -> Column:
        can_merge = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b))
        )
        return F.when(
            can_merge,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(
        seg, F.array().cast("array<string>"), step
    )


def train_bpe(
    docs: DataFrame,
    text_col: str,
    n_merges: int,
    min_word_freq: int = 1,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges from a document corpus.

    Returns (merges in application order, dictionary DataFrame of
    (word, freq, seg array<string>) with the final segmentation). Stops
    early when no pair occurs twice (nothing left worth merging).
    """
    dictionary = (
        docs.select(F.explode(words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_word_freq)
        .withColumn("seg", _char_split(F.col("word")))
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = (
            dictionary.select(
                F.explode(_adjacent_pairs(F.col("seg"))).alias("p"), "freq"
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
            .filter(F.col("n") >= 2)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        dictionary = dictionary.withColumn(
            "seg", _apply_merge(F.col("seg"), a, b)
        ).localCheckpoint()
    return merges, dictionary
