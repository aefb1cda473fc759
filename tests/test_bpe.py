"""operators/bpe: the distributed BPE training loop must be bit-identical
to a pure-Python reference implementation (same dictionary-level
algorithm, same deterministic tie-break)."""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.bpe import train_bpe

CORPUS = [
    (1, "low low low low low lower lower newest newest"),
    (2, "newest newest newest newest widest widest widest"),
    (3, "low lower lowest newest widest wide new"),
]


def _reference_bpe(texts, n_merges, min_word_freq=1):
    """Pure-Python BPE on the word dictionary (Sennrich-style), with the
    engine's tie-break: pair count desc, then (a, b) lexicographic."""
    dictionary = Counter()
    for t in texts:
        for w in t.lower().split():
            if w:
                dictionary[w] += 1
    dictionary = {
        tuple(w): f for w, f in dictionary.items() if f >= min_word_freq
    }
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for seg, f in dictionary.items():
            for i in range(len(seg) - 1):
                pairs[(seg[i], seg[i + 1])] += f
        pairs = {p: n for p, n in pairs.items() if n >= 2}
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        new_dict = {}
        for seg, f in dictionary.items():
            out = []
            for s in seg:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new_dict[tuple(out)] = new_dict.get(tuple(out), 0) + f
        dictionary = new_dict
    return merges


def test_training_matches_reference(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges, dictionary = train_bpe(docs, "text", n_merges=12)
    expect = _reference_bpe([t for _, t in CORPUS], 12)
    assert merges == expect
    assert len(merges) > 4  # the fixture genuinely trains several merges
    # every word's segmentation concatenates back to the word
    bad = dictionary.filter(
        F.concat_ws("", F.col("seg")) != F.col("word")
    ).count()
    assert bad == 0


def test_training_is_deterministic(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    m1, _ = train_bpe(docs, "text", n_merges=8)
    m2, _ = train_bpe(docs, "text", n_merges=8)
    assert m1 == m2


def test_early_stop_when_nothing_merges(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    merges, _ = train_bpe(docs, "text", n_merges=10)
    assert merges == []  # all words are single chars; no pair repeats
