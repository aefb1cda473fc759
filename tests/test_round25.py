"""Semantic properties of the round-25 operators (SURVEY §5 test model):
SemDeDup planted-duplicate pruning, sorted-neighborhood recall of exact
twins, the Count-Min one-sided-overestimate guarantee, and the Bloom
no-false-negative guarantee. The cross-engine value equality of all four
is separately gated by tests/test_oracle.py."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round25 import (
    _BLOOM_HASHES,
    _BLOOM_M,
    _CM_P,
    q354_semantic_dedup,
    q355_sorted_neighborhood,
    q356_countmin_sketch,
    q357_bloom_prune_join,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.tables import load


# ---------------------------------------------------------------------------
# q354 SemDeDup
# ---------------------------------------------------------------------------


def test_semantic_dedup_partition_invariant(spark, sf_dir):
    out = q354_semantic_dedup(spark, sf_dir).collect()
    emb_n = load(spark, sf_dir, "embeddings").count()
    assert sum(r.n_total for r in out) == emb_n
    for r in out:
        assert r.n_kept + r.n_dropped == r.n_total
        assert r.n_kept >= 1  # the first-ranked point of a cluster always survives


def test_semantic_dedup_bits_scale_with_corpus():
    """Cluster count must grow with the corpus so the within-cluster
    quadratic stays capped: expected cluster size n / 2^bits <= target."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round25 import (
        _SEM_MAX_BITS,
        _SEM_MIN_BITS,
        _SEM_TARGET,
        _sem_bits,
    )

    assert _sem_bits(500) == 3
    assert _sem_bits(2000) == 5
    for n in (1, 500, 2000, 10**6, 10**9, 10**12):
        b = _sem_bits(n)
        assert _SEM_MIN_BITS <= b <= _SEM_MAX_BITS
        if b < _SEM_MAX_BITS:
            assert n <= _SEM_TARGET << b  # expected cluster size <= target
        if b > _SEM_MIN_BITS:
            assert n > _SEM_TARGET << (b - 1)  # and bits are minimal


def test_semantic_dedup_drops_planted_duplicate(spark, tmp_path):
    """An exact duplicate vector must be pruned; near-orthogonal vectors
    must all survive."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 64)).astype(np.float32)
    base = np.abs(base)  # all-positive -> one sign cluster, mutual cosines < 1
    # orthogonalize pairs enough: scale rows to unit and make row 5 = row 0
    base[5] = base[0]
    rows = [(i, [float(x) for x in base[i]], 0) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    p = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.parquet(p)
    # point the loader at the temp dir (loader expects <dir>/embeddings.parquet)
    out = {r.cluster: r for r in q354_semantic_dedup(spark, str(tmp_path)).collect()}
    total = sum(r.n_total for r in out.values())
    dropped = sum(r.n_dropped for r in out.values())
    assert total == 6
    assert dropped >= 1  # the planted twin cannot survive
    # all-positive random 64-dim vectors have mutual cosine ~0.7; only the
    # strict-duplicate guarantee is asserted here


def test_semantic_dedup_singleton_cluster_kept(spark, tmp_path):
    rows = [(1, [1.0] * 64, 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = q354_semantic_dedup(spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0].n_kept == 1 and out[0].n_dropped == 0


# ---------------------------------------------------------------------------
# q355 sorted neighborhood
# ---------------------------------------------------------------------------


def test_snm_finds_exact_twins(spark, tmp_path):
    """Documents with identical word sets share a canonical key, land
    adjacent in sort order, and must surface as a jaccard-1.0 pair."""
    rows = [
        (1, "alpha beta gamma", "en", "s", 16),
        (2, "gamma beta alpha", "en", "s", 16),  # same set, shuffled
        (3, "delta epsilon zeta eta theta", "en", "s", 28),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    out = q355_sorted_neighborhood(spark, str(tmp_path)).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert pairs.get((1, 2)) == 1.0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_snm_subset_of_exact_pairs(spark, sf_dir):
    """Every emitted pair really has word-set Jaccard >= tau (no false
    positives — SNM only risks false NEGATIVES, by design)."""
    out = q355_sorted_neighborhood(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_sort(F.array_distinct(F.split(F.lower("text"), " +"))).alias("ws"),
    )
    joined = (
        out.join(docs.withColumnRenamed("doc_id", "id_a").withColumnRenamed("ws", "wa"), "id_a")
        .join(docs.withColumnRenamed("doc_id", "id_b").withColumnRenamed("ws", "wb"), "id_b")
        .select(
            "jaccard",
            (
                F.size(F.array_intersect("wa", "wb")).cast("double")
                / F.size(F.array_union("wa", "wb"))
            ).alias("true_j"),
        )
        .collect()
    )
    assert len(joined) > 0
    for r in joined:
        assert abs(r.jaccard - r.true_j) < 1e-12
        assert r.true_j >= 0.6


# ---------------------------------------------------------------------------
# q356 Count-Min
# ---------------------------------------------------------------------------


def test_countmin_one_sided_overestimate(spark, sf_dir):
    out = q356_countmin_sketch(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r.est_cnt >= r.true_cnt, r
        assert r.overestimate == r.est_cnt - r.true_cnt


# ---------------------------------------------------------------------------
# q357 Bloom pruning
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives(spark, sf_dir):
    row = q357_bloom_prune_join(spark, sf_dir).collect()[0]
    # every true match passes the filter, so pass >= true and fp >= 0
    assert row.n_pass_bloom >= row.n_true_match
    assert row.n_false_pos == row.n_pass_bloom - row.n_true_match
    assert 0.0 <= row.fp_rate <= 1.0


def test_bloom_membership_matches_reference_bitset(spark, sf_dir):
    """Recompute the bitset in plain python and check a sample of orders
    agrees with the query's pass/fail decision."""
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .collect()
    )
    bitset = {
        ((a * r.c_custkey + b) % _CM_P) % _BLOOM_M
        for r in cust
        for a, b in _BLOOM_HASHES
    }
    orders = load(spark, sf_dir, "orders").select("o_custkey").limit(200).collect()
    n_pass_sample = sum(
        1
        for r in orders
        if all(((a * r.o_custkey + b) % _CM_P) % _BLOOM_M in bitset for a, b in _BLOOM_HASHES)
    )
    true_keys = {r.c_custkey for r in cust}
    n_true_sample = sum(1 for r in orders if r.o_custkey in true_keys)
    assert n_pass_sample >= n_true_sample


# ---------------------------------------------------------------------------
# q108 EWMA kernel pin (supports the bit-exact recursive-CTE oracle)
# ---------------------------------------------------------------------------


def test_q108_pandas_kernel_is_naive_recursion():
    """The q108 oracle is a recursive CTE running y_t = 0.9*y + 0.1*x in
    plain IEEE order; this pins that pandas' adjust=False ewm kernel is
    bit-identical to that recursion, so engine == oracle bitwise. If a
    pandas upgrade changes the kernel arithmetic, this fails before the
    oracle gate does."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(123)
    x = rng.uniform(0, 100, 2000).round(1)
    ref = pd.Series(x).ewm(alpha=0.1, adjust=False).mean().to_numpy()
    acc = x[0]
    out = np.empty(len(x))
    out[0] = acc
    for i in range(1, len(x)):
        acc = 0.9 * acc + 0.1 * x[i]
        out[i] = acc
    assert (out == ref).all()


# ---------------------------------------------------------------------------
# q358 MinHash source sketch
# ---------------------------------------------------------------------------


def test_minhash_signatures_are_mergeable(spark, sf_dir):
    """The signature of a union of shards must equal the elementwise min
    of the shard signatures — the property that lets per-source sketches
    accumulate one shard at a time at 100 TB."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.dedup import (
        source_minhash_signatures,
    )

    docs = load(spark, sf_dir, "documents")
    whole = {
        (r.source, r.p): r.mh for r in source_minhash_signatures(docs).collect()
    }
    half_a = source_minhash_signatures(docs.filter(F.col("doc_id") % 2 == 0)).collect()
    half_b = source_minhash_signatures(docs.filter(F.col("doc_id") % 2 == 1)).collect()
    merged = {}
    for r in list(half_a) + list(half_b):
        key = (r.source, r.p)
        merged[key] = min(merged.get(key, r.mh), r.mh)
    assert merged == whole


def test_minhash_estimate_tracks_exact_overlap(spark, sf_dir):
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round25 import (
        q358_minhash_source_sketch,
    )

    rows = q358_minhash_source_sketch(spark, sf_dir).collect()
    assert len(rows) > 0
    # per-pair standard error is ~1/sqrt(64) = 0.125; allow 4 sigma
    for r in rows:
        assert r.abs_err <= 0.5
    mean_err = sum(r.abs_err for r in rows) / len(rows)
    assert mean_err <= 0.125


# ---------------------------------------------------------------------------
# q360 histogram quantile sketch
# ---------------------------------------------------------------------------


def test_histogram_quantiles_accurate_and_ordered(spark, sf_dir):
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.plans.round25 import (
        q360_histogram_quantiles,
    )

    rows = sorted(
        q360_histogram_quantiles(spark, sf_dir).collect(), key=lambda r: r.p
    )
    assert [r.p for r in rows] == [0.5, 0.95, 0.99]
    for r in rows:
        assert r.rel_err < 0.05, r  # bin width bounds the error
    # estimates must be monotone in p, like the exact quantiles
    assert rows[0].est <= rows[1].est <= rows[2].est
