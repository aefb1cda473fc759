"""Deduplication operator family (north-star ops, SURVEY §2.3):

- exact dedup by content fingerprint (hash-groupBy)
- exact n-gram Jaccard near-dup pairs (canonical-set reduction + adaptive
  candidate generation: bitmap kernel or prefix filtering — scale path)
- MinHash LSH near-dup pairs (native, seeded, exact-verified)
- SimHash 64-bit fingerprints + Hamming-distance near-dup pairs

Scale design (100 TB):

- **Canonical-set reduction first.** Every near-dup plan starts by grouping
  byte-identical shingle sets (one xxhash64 fingerprint shuffle). All pairwise
  work then runs on *distinct* sets ("reps"); id-level pairs are re-expanded
  at the end. Identical-content clusters are the #1 source of quadratic
  blowup in real corpora, and collapsing them is lossless.
- **Adaptive candidate generation.** Prefix filtering (the PPJoin family) is
  the right general algorithm, but it degenerates when the shingle vocabulary
  is small (every shingle is frequent, so the inverted-index join explodes).
  When the observed vocabulary fits a packed bitmap (<= _BITMAP_MAX_VOCAB
  bits) and the distinct-set count is modest, we dictionary-encode shingles
  into bit positions and run a size-banded equi-join over bigint masks:
  intersection = sum(bit_count(a & b)) — pure JVM codegen, no arrays in the
  join. Otherwise we run prefix filtering over the reps. Both are lossless
  (pytest-verified against the naive all-pairs plan).
- **MinHash is native DataFrame code, not MLlib.** Signatures are computed
  with narrow array expressions (no shuffle, no UDF, no sparse vectors);
  banding gives sub-quadratic candidates; candidates are *exactly* verified,
  so precision is 1.0 and only recall is probabilistic (1-(1-J^r)^b).
- SimHash is linear in tokens (explode + two hash-partitioned aggregations)
  with pigeonhole banding for the pair search.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.text import fingerprint, words

#: Bitmap kernel limits: vocabulary must fit this many bit positions
#: (64 bits per bigint chunk) and the distinct-set count must keep the
#: size-banded join quadratic-in-reps affordable.
_BITMAP_MAX_VOCAB = 4096
_BITMAP_MAX_REPS = 200_000


def content_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id document per content fingerprint (md5 of
    normalized text). One shuffle on the digest."""
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 1) -> DataFrame:
    """(id, shingles array<string>) with distinct word n-gram shingles.

    n=1 -> distinct-word sets; n>=2 -> sliding word n-grams.
    """
    ws = words(text_col)
    if n == 1:
        sh = F.array_distinct(ws)
    else:
        # sliding n-grams via index sequence (JVM-side, no UDF)
        sh = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(-1))),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(ws, (i + j + 1).cast("int")) for j in range(n)]
                ),
            )
        )
    return df.select(F.col(id_col).alias("id"), sh.alias("shingles")).filter(
        F.size("shingles") > 0
    )


# ---------------------------------------------------------------------------
# Shared machinery: canonical-set reduction, verification, expansion
# ---------------------------------------------------------------------------


def _canonicalize(sets_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Collapse byte-identical shingle sets.

    Returns (reps, members):
    - reps:    (fp, shingles sorted, sz) — one row per distinct set
    - members: (fp, id, sz)              — every input id, keyed to its set
    """
    keyed = sets_df.select(
        F.xxhash64(F.concat_ws("\x00", F.array_sort("shingles"))).alias("fp"),
        F.array_sort("shingles").alias("shingles"),
        F.size("shingles").alias("sz"),
        "id",
    )
    members = keyed.select("fp", "id", "sz")
    reps = keyed.select("fp", "shingles", "sz").dropDuplicates(["fp"])
    return reps, members


def _size_band_join(a: DataFrame, b: DataFrame, threshold: float) -> DataFrame:
    """Equi-join distinct sets on compatible sizes (tau*|B| <= |A| <= |B|/tau).

    The b side explodes to every admissible partner size, so the match is a
    hash join on an integer key, not a broadcast-nested-loop cross join.
    """
    b_exp = b.withColumn(
        "cand_sz",
        F.explode(
            F.sequence(
                F.ceil(F.lit(threshold) * F.col("sz_b")).cast("int"),
                F.floor(F.col("sz_b") / F.lit(threshold)).cast("int"),
            )
        ),
    )
    return a.join(b_exp, (a["sz_a"] == b_exp["cand_sz"]) & (a["fp_a"] < b_exp["fp_b"]))


def _mask_reps(reps: DataFrame, n_vocab: int) -> DataFrame:
    """(fp, sz, mask array<bigint>) — dictionary-encoded packed bitmap of
    ``ceil(n_vocab / 64)`` words.

    Bit positions come from a global shingle dictionary (row_number over the
    distinct vocabulary — small by precondition, so the single-partition
    window is fine). Intersections then cost O(n_chunks) bigint ops.
    """
    n_chunks = max(1, (n_vocab + 63) // 64)
    vocab = (
        reps.select(F.explode("shingles").alias("w"))
        .distinct()
        .withColumn("idx", F.row_number().over(Window.orderBy("w")) - 1)
    )
    bits = (
        reps.select("fp", F.explode("shingles").alias("w"))
        .join(F.broadcast(vocab), "w")
        .select(
            "fp",
            (F.col("idx") / 64).cast("int").alias("chunk"),
            F.expr("shiftleft(CAST(1 AS BIGINT), idx % 64)").alias("bitval"),
        )
        .groupBy("fp", "chunk")
        # words are distinct per set, so per-(fp,chunk) bit values are
        # distinct powers of two: sum == bitwise or
        .agg(F.sum("bitval").alias("m"))
        .groupBy("fp")
        .agg(F.map_from_entries(F.collect_list(F.struct("chunk", "m"))).alias("mm"))
        .select(
            "fp",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_chunks - 1)),
                lambda c: F.coalesce(F.element_at("mm", c.cast("int")), F.lit(0).cast("long")),
            ).alias("mask"),
        )
    )
    return reps.select("fp", "sz").join(bits, "fp")


def _mask_intersection(mask_a: Column, mask_b: Column) -> Column:
    return F.aggregate(
        F.zip_with(mask_a, mask_b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def _jaccard_filter(pairs: DataFrame, threshold: float) -> DataFrame:
    """Attach jaccard = n_common / (sz_a + sz_b - n_common) and filter."""
    return pairs.withColumn(
        "jaccard",
        F.col("n_common").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"),
    ).filter(F.col("jaccard") >= threshold)


def _bitmap_verify(masked: DataFrame, pair, threshold: float) -> DataFrame:
    """Exact packed-bitmap verification of rep pairs: ``pair(a, b)`` joins
    the (fp_a, sz_a, mask_a) and (fp_b, sz_b, mask_b) sides of ``masked``
    (a size-band join or a candidate join), and each pair's popcount
    intersection feeds ``_jaccard_filter``."""
    a = masked.select(
        F.col("fp").alias("fp_a"), F.col("sz").alias("sz_a"), F.col("mask").alias("mask_a")
    )
    b = masked.select(
        F.col("fp").alias("fp_b"), F.col("sz").alias("sz_b"), F.col("mask").alias("mask_b")
    )
    return _jaccard_filter(
        pair(a, b).select(
            "fp_a",
            "fp_b",
            _mask_intersection(F.col("mask_a"), F.col("mask_b")).alias("n_common"),
            "sz_a",
            "sz_b",
        ),
        threshold,
    )


def _verify_with_arrays(cand: DataFrame, reps: DataFrame, threshold: float) -> DataFrame:
    """cand (fp_a, fp_b) -> exact-verified rep pairs via array_intersect."""
    ra = reps.select(F.col("fp").alias("fp_a"), F.col("shingles").alias("sh_a"))
    rb = reps.select(F.col("fp").alias("fp_b"), F.col("shingles").alias("sh_b"))
    joined = (
        cand.join(ra, "fp_a")
        .join(rb, "fp_b")
        .select(
            "fp_a",
            "fp_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size("sh_a").alias("sz_a"),
            F.size("sh_b").alias("sz_b"),
        )
    )
    return _jaccard_filter(joined, threshold)


def _expand_pairs(rep_pairs: DataFrame, members: DataFrame, threshold: float) -> DataFrame:
    """Rep-level verified pairs -> id-level pairs, plus the intra-group pairs
    (identical sets, jaccard exactly 1.0). Output is id_a < id_b with n_a/n_b
    following the ids (not the rep order)."""
    ma = members.select(F.col("fp").alias("fp_a"), F.col("id").alias("ia"))
    mb = members.select(F.col("fp").alias("fp_b"), F.col("id").alias("ib"))
    cross = (
        rep_pairs.join(ma, "fp_a")
        .join(mb, "fp_b")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "n_common",
            F.when(F.col("ia") < F.col("ib"), F.col("sz_a")).otherwise(F.col("sz_b")).alias("n_a"),
            F.when(F.col("ia") < F.col("ib"), F.col("sz_b")).otherwise(F.col("sz_a")).alias("n_b"),
            "jaccard",
        )
    )
    m1 = members.select("fp", F.col("id").alias("id_a"), F.col("sz").alias("n_a"))
    m2 = members.select("fp", F.col("id").alias("id_b"), F.col("sz").alias("n_b"))
    intra = (
        m1.join(m2, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.col("n_a").alias("n_common"),
            "n_a",
            "n_b",
            F.lit(1.0).alias("jaccard"),
        )
    )
    out = cross.unionByName(intra) if threshold <= 1.0 else cross
    return out.select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")


# ---------------------------------------------------------------------------
# Exact Jaccard pairs
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = 1,
    strategy: str = "auto",
) -> DataFrame:
    """Exact Jaccard near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Plan: canonical-set reduction, then candidate generation by ``strategy``:

    - ``"bitmap"``: dictionary-encoded packed-bitmap kernel over a
      size-banded equi-join of distinct sets. The scale path for small
      vocabularies (the degenerate regime for prefix filtering) and for
      within-bucket verification.
    - ``"prefix"``: PPJoin-style prefix filtering over the distinct sets —
      the general scale path for open vocabularies.
    - ``"auto"`` (default): measure the vocabulary/distinct-set size with one
      cheap aggregate and pick.

    All strategies are lossless and return identical results
    (tests/test_dedup.py proves fast == naive on fixture data).

    Returns columns: id_a, id_b, n_common, n_a, n_b, jaccard.
    jaccard is a single double division of exact integers — deterministic.
    """
    sets_df = shingle_sets(df, id_col, text_col, n=n)
    verified, members = _rep_pairs(sets_df, threshold, strategy)
    return _expand_pairs(verified, members, threshold)


def _rep_pairs(
    sets_df: DataFrame, threshold: float, strategy: str = "auto"
) -> tuple[DataFrame, DataFrame]:
    """Verified distinct-set pairs (fp_a, fp_b, n_common, sz_a, sz_b,
    jaccard) plus the (fp, id, sz) membership frame — the pre-expansion core
    shared by jaccard_pairs (which expands to id pairs) and near_dedup
    (which clusters at the rep level and never materializes id pairs)."""
    reps, members = _canonicalize(sets_df)
    reps = reps.persist()
    members = members.persist()

    if strategy == "auto":
        n_vocab, n_reps = _corpus_stats(reps)
        strategy = (
            "bitmap"
            if n_vocab <= _BITMAP_MAX_VOCAB and n_reps <= _BITMAP_MAX_REPS
            else "prefix"
        )
    else:
        n_vocab = None

    if strategy == "bitmap":
        if n_vocab is None:
            n_vocab, _ = _corpus_stats(reps)
        masked = _mask_reps(reps, n_vocab).persist()
        verified = _bitmap_verify(
            masked, lambda a, b: _size_band_join(a, b, threshold), threshold
        )
    elif strategy == "prefix":
        cand = _prefix_candidates(reps, threshold)
        verified = _verify_with_arrays(cand, reps, threshold)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    return verified, members


def _corpus_stats(reps: DataFrame) -> tuple[int, int]:
    """(vocabulary size, distinct-set count) in one aggregate job."""
    row = reps.select(F.explode("shingles").alias("w"), "fp").agg(
        F.count_distinct("w").alias("v"), F.count_distinct("fp").alias("r")
    ).first()
    return int(row["v"]), int(row["r"])


def _prefix_candidates(reps: DataFrame, threshold: float) -> DataFrame:
    """PPJoin-style prefix-filter candidates over distinct sets.

    For J >= tau, two sets must share at least one of their
    ``floor((1-tau)*|S|)+1`` rarest shingles under a global (freq, shingle)
    canonical order, and sizes must satisfy ``|A| >= tau*|B|`` (pigeonhole —
    no false negatives).
    """
    freq = (
        reps.select(F.explode("shingles").alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    exploded = reps.select("fp", "sz", F.explode("shingles").alias("sh")).join(
        F.broadcast(freq), "sh"
    )
    rank_w = Window.partitionBy("fp").orderBy("freq", "sh")
    prefixes = exploded.withColumn("pos", F.row_number().over(rank_w)).filter(
        F.col("pos") <= F.floor(F.lit(1.0 - threshold) * F.col("sz")) + 1
    )
    a = prefixes.select(F.col("fp").alias("fp_a"), F.col("sz").alias("sz_a"), "sh")
    b = prefixes.select(F.col("fp").alias("fp_b"), F.col("sz").alias("sz_b"), "sh")
    return (
        a.join(b, "sh")
        .filter(
            (F.col("fp_a") < F.col("fp_b"))
            & (F.col("sz_a") >= F.ceil(F.lit(threshold) * F.col("sz_b")))
            & (F.col("sz_b") >= F.ceil(F.lit(threshold) * F.col("sz_a")))
        )
        .select("fp_a", "fp_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# MinHash LSH (native)
# ---------------------------------------------------------------------------


def minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    num_hash_tables: int = 8,
    rows_per_band: int = 2,
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs via native MinHash LSH banding + exact verification.

    - Signatures: ``num_hash_tables * rows_per_band`` seeded minhashes per
      distinct set, each ``min over shingles of xxhash64(seed, g, shingle)``
      — narrow array expressions, no shuffle, no UDF, no MLlib.
    - Candidates: sets agreeing on all ``rows_per_band`` rows of >= 1 band
      (join on the band digest). Sub-quadratic; recall for a pair with
      Jaccard J is ``1 - (1 - J^r)^b`` (J=0.8, r=2, b=8 -> 0.9997).
    - Verification: candidates are checked *exactly* (bitmap kernel when the
      vocabulary is small, array intersection otherwise), so every returned
      pair carries its true Jaccard and precision is 1.0. Identical sets are
      always found (canonical-set reduction pairs them deterministically).

    ``hasher``: "xxhash64" (default — JVM intrinsic, the 100 TB fast path)
    or "crossengine" (hex_hash60 of a tagged string per hash function —
    reproducible in DuckDB SQL, so the whole LSH pipeline incl. banding
    recall sits under the oracle gate).

    Returns: id_a, id_b, n_common, n_a, n_b, jaccard — the same schema as
    ``jaccard_pairs`` (recall-only divergence, asserted in tests).
    """
    sets_df = shingle_sets(df, id_col, text_col, n=1)
    reps, members = _canonicalize(sets_df)
    reps = reps.persist()
    members = members.persist()
    bands = _minhash_band_keys(reps, num_hash_tables, rows_per_band, seed, hasher)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["bd", "bkey"])
        .filter(F.col("a.fp") < F.col("b.fp"))
        .select(F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"))
        .distinct()
    )
    verified = _verify_candidates(cand, reps, threshold)
    return _expand_pairs(verified, members, threshold)


def _minhash_band_keys(
    reps: DataFrame,
    num_hash_tables: int,
    rows_per_band: int,
    seed: int,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(fp, bd, bkey) LSH band digests of each distinct set — narrow
    array expressions, no shuffle, no UDF. xxhash64 mode digests the band
    rows into a bigint; crossengine mode (hex_hash60 row hashes) joins on
    the ':'-joined decimal row values instead (injective, so tuple
    equality == string equality — and trivially reproducible in SQL)."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.text import hex_hash60

    n_hashes = num_hash_tables * rows_per_band

    def _hash_fn(g: int):
        # NB: the lambda must take exactly one argument — pyspark calls
        # two-argument transform lambdas as f(element, index).
        if hasher == "crossengine":
            return lambda w: hex_hash60(F.concat(F.lit(f"mh|{g}|"), w))
        return lambda w: F.xxhash64(F.lit(seed), F.lit(g), w)

    def _band_key(bd: int) -> Column:
        rows = [F.col(f"mh{bd * rows_per_band + r}") for r in range(rows_per_band)]
        if hasher == "crossengine":
            return F.concat_ws(":", *[r.cast("string") for r in rows])
        return F.xxhash64(F.lit(seed), F.lit(bd), *rows)

    mh = [
        F.array_min(F.transform(F.col("shingles"), _hash_fn(g))).alias(f"mh{g}")
        for g in range(n_hashes)
    ]
    sigs = reps.select("fp", *mh)
    return sigs.select(
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bd).alias("bd"), _band_key(bd).alias("bkey"))
                    for bd in range(num_hash_tables)
                ]
            )
        ).alias("band"),
    ).select("fp", F.col("band.bd").alias("bd"), F.col("band.bkey").alias("bkey"))


def _verify_candidates(
    cand: DataFrame, reps: DataFrame, threshold: float
) -> DataFrame:
    """Exact verification of (fp_a, fp_b) candidates: packed-bitmap kernel
    when the vocabulary is small, array intersection otherwise."""
    n_vocab, n_reps = _corpus_stats(reps)
    if n_vocab <= _BITMAP_MAX_VOCAB and n_reps <= _BITMAP_MAX_REPS:
        return _bitmap_verify(
            _mask_reps(reps, n_vocab),
            lambda a, b: cand.join(a, "fp_a").join(b, "fp_b"),
            threshold,
        )
    return _verify_with_arrays(cand, reps, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: bits per SimHash fingerprint by word-hash family: xxhash64 fills 63
#: usable bits (sign bit kept clear); the cross-engine hex_hash60 hash is
#: 60 bits by construction. Exposed so callers/oracles agree on the width.
SIMHASH_BITS = {"xxhash64": 63, "crossengine": 60}


def simhash64(
    df: DataFrame, id_col: str, text_col: str, hasher: str = "xxhash64"
) -> DataFrame:
    """SimHash fingerprint per document (positive bigint, deterministic).

    Bit j of the fingerprint is 1 iff the sum over distinct words of
    sign(bit j of hash(word)) is positive. Near-duplicate word sets
    flip few bits. Implementation is explode + two hash-partitioned
    aggregations — linear in tokens, no pairwise work.

    ``hasher``: "xxhash64" (default — JVM intrinsic, the 100 TB fast path)
    or "crossengine" (hex_hash60: md5-derived 60-bit hash reproducible in
    DuckDB SQL, putting the whole fingerprint under the oracle gate).
    """
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.text import hex_hash60

    nbits = SIMHASH_BITS[hasher]
    word_hash = (
        F.xxhash64("w") if hasher == "xxhash64" else hex_hash60(F.col("w"))
    )
    word_df = (
        shingle_sets(df, id_col, text_col, n=1)
        .select("id", F.explode("shingles").alias("w"))
        .select("id", word_hash.alias("h"))
    )
    # One aggregation with 63 sign-sum expressions beats exploding 63 rows
    # per word (63x less shuffle volume; partial aggregation applies).
    sign_sums = [
        F.sum(
            F.expr(f"CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END")
        ).alias(f"s{j}")
        for j in range(nbits)
    ]
    per_id = word_df.groupBy("id").agg(*sign_sums)
    fp = F.lit(0).cast("long")
    for j in range(nbits):
        fp = fp + F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return per_id.select("id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 8,
    hasher: str = "xxhash64", min_band_bits: int = 4,
) -> DataFrame:
    """Near-dup pairs whose SimHash Hamming distance <= max_hamming.

    Candidate generation: split the hash into ``max_hamming + 1`` bands —
    a pair within the distance bound must match exactly on at least
    one band (pigeonhole), so the join is on (band_idx, band_bits), not all
    pairs. Exact Hamming verification on candidates. Banding is EXACT for
    the Hamming predicate (pigeonhole, no false negatives), so the result
    equals the brute-force all-pairs answer — which is how the
    "crossengine" variant sits under a brute-force DuckDB oracle.
    """
    hashes = simhash64(df, id_col, text_col, hasher=hasher).persist()
    return hamming_band_pairs(
        hashes, "id", "simhash", SIMHASH_BITS[hasher], max_hamming,
        min_band_bits=min_band_bits,
    )


def hamming_band_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    nbits: int,
    max_hamming: int,
    min_band_bits: int = 4,
) -> DataFrame:
    """Pairs of rows whose ``hash_col`` fingerprints differ in at most
    ``max_hamming`` bits — the banded candidate join shared by SimHash
    text near-dup and perceptual-hash media near-dup (multimodal/ops.py).

    The ``nbits`` bit positions partition into exactly ``max_hamming + 1``
    contiguous BALANCED bands (band k covers bit positions
    ``k*nbits//(h+1) .. (k+1)*nbits//(h+1) - 1``): a pair within the bound
    must agree exactly on >= 1 band (pigeonhole over h+1 real, disjoint,
    non-empty bands), so candidates come from an equi-join on
    (band, band_bits) — linear in matches, never all-pairs — and exact
    Hamming verification makes the banding LOSSLESS: output == brute
    force (how this sits under brute-force DuckDB oracles). Balanced
    boundaries keep every shift < ``nbits`` <= 63 — the earlier
    uniform-width layout shifted band k by ``k*width``, which can reach
    64, and Java masks long-shift amounts to 6 bits, so the top band
    silently duplicated band 0 and pairs at distance exactly
    ``max_hamming`` could be dropped (round-5 verdict repro: nbits=63,
    h=16, fp_a=0, fp_b=sum(1<<4i)). Fingerprints must keep the sign bit
    clear (``nbits <= 63``) so arithmetic shiftright is safe.

    ``min_band_bits`` guards the selectivity cliff: per-band collision
    probability on random fingerprints is ~2^-width, so narrow bands make
    the candidate join approach all-pairs on a large corpus. Calls whose
    narrowest band is below the floor are refused (pass
    ``min_band_bits=1`` to run anyway, e.g. for audits); widths below 8
    bits additionally warn. Returns (id_a, id_b, hamming), id_a < id_b."""
    n_bands = max_hamming + 1
    if not 1 <= nbits <= 63:
        raise ValueError(f"nbits must be in 1..63 (sign bit clear), got {nbits}")
    if n_bands > nbits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_bands} non-empty bands but "
            f"the fingerprint has only {nbits} bits — the pigeonhole "
            "guarantee cannot hold; lower max_hamming or widen the hash"
        )
    narrowest = nbits // n_bands
    if narrowest < min_band_bits:
        raise ValueError(
            f"band width {narrowest} < min_band_bits={min_band_bits}: with "
            f"{n_bands} bands over {nbits} bits the per-band collision rate "
            f"is ~2^-{narrowest} and the candidate join degenerates toward "
            "all-pairs at corpus scale — lower max_hamming, or pass "
            "min_band_bits=1 to override for a small audit run"
        )
    if narrowest < 8:
        import warnings

        warnings.warn(
            f"hamming_band_pairs: narrowest band is {narrowest} bits "
            f"({n_bands} bands over {nbits} bits) — per-band collision "
            f"~2^-{narrowest}; candidate volume grows accordingly on large "
            "corpora (bands >= 8 bits are the comfortable regime)",
            stacklevel=2,
        )
    # Balanced band extraction: one array literal of n_bands (shift, mask)
    # projections, posexploded — every shift stays < nbits <= 63.
    band_arr = (
        "array("
        + ",".join(
            f"(shiftright(fp, {k * nbits // n_bands}) & "
            f"{(1 << ((k + 1) * nbits // n_bands - k * nbits // n_bands)) - 1}L)"
            for k in range(n_bands)
        )
        + ")"
    )
    bands = hashes.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("fp")
    ).selectExpr("id", "fp", f"posexplode({band_arr}) AS (band, band_bits)")
    a = bands.select(
        F.col("id").alias("id_a"), F.col("fp").alias("h_a"), "band", "band_bits"
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("fp").alias("h_b"), "band", "band_bits"
    )
    cands = (
        a.join(b, ["band", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the similarity graph
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
    local_threshold: int = 500_000,
) -> DataFrame:
    """(node, component) labels for the undirected graph in ``edges`` —
    component = min node id reachable (deterministic canonical labels).

    Iterative min-label propagation: every node adopts the smallest label in
    its closed neighborhood until fixpoint (checked with a cheap aggregate;
    hop count is bounded by graph diameter, and near-dup graphs are dense
    clusters with tiny diameters, so 2-4 rounds in practice). Each round is
    one join + one aggregation — all hash-partitioned by node id, no driver
    data movement. This is the standard Spark CC shape (GraphX/GraphFrames
    use the same label-propagation plan); for graphs with genuinely large
    diameters use the large-star/small-star variant.
    """
    # Adaptive local solve: the edge frame this operator sees is already
    # canonical-set-reduced (distinct contents, not documents), so in the
    # common case it is tiny even when the corpus is huge. Below the
    # threshold, collect the edge list and union-find on the driver — the
    # same small-side-collect tradeoff as a broadcast join, and it replaces
    # O(diameter) shuffle rounds with one job. Above it, fall through to
    # distributed min-label propagation. Set ``local_threshold=0`` to force
    # the distributed path.
    pair_df = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).persist()
    if local_threshold > 0 and pair_df.count() <= local_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in pair_df.collect():
            a, b = row["a"], row["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by canonical min so labels are deterministic
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(n, find(n)) for n in parent]
        spark = edges.sparkSession
        schema = pair_df.schema
        out_schema = T.StructType(
            [
                T.StructField("node", schema["a"].dataType),
                T.StructField("component", schema["a"].dataType),
            ]
        )
        pair_df.unpersist()
        return spark.createDataFrame(rows, out_schema)

    # localCheckpoint truncates lineage each round — without it the logical
    # plan doubles per iteration (labels appears twice) and planning itself
    # OOMs long before the data does. Standard iterative-graph idiom.
    both = (
        pair_df.unionByName(
            pair_df.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .localCheckpoint()
    )
    pair_df.unpersist()
    labels = (
        both.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )

    for _ in range(max_iterations):
        neighbor_labels = (
            both.join(labels, both["b"] == labels["node"])
            .select(F.col("a").alias("node"), "component")
        )
        new_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        changed = (
            new_labels.withColumnRenamed("component", "new_component")
            .join(labels, "node")
            .filter(F.col("new_component") != F.col("component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", "component")


def near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    n: int = 1,
) -> DataFrame:
    """Near-duplicate-free corpus: mine the exact Jaccard similarity graph
    (jaccard_pairs), cluster it with connected components, and keep the
    lowest-id document of every cluster (singletons pass through untouched).

    THE end-to-end dedup operator of a training-data pipeline: the output is
    the input minus every document whose cluster has a smaller-id member.
    Deterministic; idempotence (near_dedup(near_dedup(x)) == near_dedup(x))
    holds because representatives of distinct clusters are never within
    ``threshold`` of each other... unless transitively linked, which the
    clustering already collapsed.

    Scale shape: the similarity graph is clustered at the *canonical-set*
    level (distinct contents), never expanded to id-level pairs — a corpus
    with heavy exact duplication mines and clusters a graph orders of
    magnitude smaller than the id-pair graph. Members then map to their
    set's component and survive iff they are the cluster's min id.
    """
    # The input is scanned twice (shingling, final keep-join); when it is
    # itself an expensive chain (curate() feeds the quality-gated,
    # window-deduped corpus in here) that chain would run twice. persist is
    # MEMORY_AND_DISK so at cluster scale this spills rather than OOMs.
    df = df.persist()
    sets_df = shingle_sets(df, id_col, text_col, n=n)
    rep_pairs, members = _rep_pairs(sets_df, threshold)  # members arrives persisted
    components = connected_components(rep_pairs, src="fp_a", dst="fp_b")

    # fp -> component (singleton sets are their own component)
    labeled = (
        members.join(components, members["fp"] == components["node"], "left")
        .select(
            F.col("id"),
            F.coalesce(F.col("component"), F.col("fp")).alias("component"),
        )
    )
    w = Window.partitionBy("component")
    survivors = (
        labeled.withColumn("min_id", F.min("id").over(w))
        .filter(F.col("id") == F.col("min_id"))
        .select(F.col("id").alias(id_col), F.lit(1).alias("__surv"))
    )
    # One scan of df instead of a semi + anti pair (each would re-run the
    # full upstream chain): both markers are unique per id, so the two left
    # joins cannot multiply rows. Keep a row iff it never entered the graph
    # (empty shingle set) or it is its cluster's survivor.
    in_graph = members.select(F.col("id").alias(id_col), F.lit(1).alias("__in_graph"))
    return (
        df.join(in_graph, id_col, "left")
        .join(survivors, id_col, "left")
        .filter(F.col("__in_graph").isNull() | F.col("__surv").isNotNull())
        .drop("__in_graph", "__surv")
    )


# ---------------------------------------------------------------------------
# Persisted-signature incremental near-dedup
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hash_tables: int = 8,
    rows_per_band: int = 2,
    seed: int = 42,
) -> DataFrame:
    """The persistable signature table incremental dedup reads instead of
    re-shingling the store: one row per document —

        (id, fp, sz, shingles array<string>, bands array<struct<bd,bkey>>)

    ``fp`` is the canonical-set fingerprint (identical contents share it),
    ``shingles`` the sorted distinct-word set (kept so candidate pairs can
    still be verified EXACTLY — admit/reject decisions are bit-identical
    to the re-shingling path), and ``bands`` the LSH band digests (so the
    store side of each batch costs one band-key join, zero hashing).
    Shingling/banding run once per distinct content (canonical reps),
    then fan back out to ids. Write this frame to a parquet/Delta table
    keyed by id; at 100 TB the per-batch store-side work drops from
    tokenize+shingle+hash of every stored document to a columnar scan of
    (fp, bands) plus shingle reads for the verified candidates only.
    """
    sets_df = shingle_sets(df, id_col, text_col, n=1)
    reps, members = _canonicalize(sets_df)
    reps = reps.persist()
    bands = _minhash_band_keys(reps, num_hash_tables, rows_per_band, seed)
    band_arr = bands.groupBy("fp").agg(
        F.array_sort(F.collect_list(F.struct("bd", "bkey"))).alias("bands")
    )
    return (
        members.select("id", "fp")
        .join(reps, "fp")
        .join(band_arr, "fp")
        .select("id", "fp", "sz", "shingles", "bands")
    )


def incremental_near_dedup_sigs(
    batch: DataFrame,
    sig_store: DataFrame | None,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    num_hash_tables: int = 8,
    rows_per_band: int = 2,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Append-only incremental near-dedup against a PERSISTED signature
    store: admit from ``batch`` only the documents whose near-dup cluster
    (at ``threshold``, transitively within the batch) touches NOTHING
    already in the store; surviving clusters admit their min-id
    representative, exactly like ``near_dedup`` (tests pin equality with
    a full-corpus ``near_dedup`` on a bridge-free fixture). The store
    side is the ``minhash_signatures`` table — only the batch is
    shingled/hashed; stored documents contribute their precomputed band
    keys to the candidate join and their stored shingle sets to exact
    verification.

    Returns (kept_batch, updated_sig_store = sig_store ∪ signatures of
    kept batch docs). The signature table is append-only, mirroring the
    admitted corpus exactly.
    """
    sig_batch = minhash_signatures(
        batch, id_col, text_col, num_hash_tables, rows_per_band, seed
    ).persist()
    if sig_store is None:
        kept = near_dedup(batch, id_col, text_col, threshold=threshold)
        kept_sigs = sig_batch.join(
            kept.select(F.col(id_col).alias("id")), "id", "left_semi"
        )
        return kept, kept_sigs

    all_sigs = sig_store.unionByName(sig_batch)
    members = all_sigs.select("fp", "id", "sz")
    reps = all_sigs.select("fp", "shingles", "sz").dropDuplicates(["fp"]).persist()
    bands = all_sigs.select(
        "fp", F.explode("bands").alias("b")
    ).select("fp", F.col("b.bd").alias("bd"), F.col("b.bkey").alias("bkey")).distinct()
    batch_fps = sig_batch.select("fp").distinct()

    # candidates restricted to pairs touching >= 1 batch set — store-store
    # edges are frozen by construction (admitted documents are never revisited)
    raw_cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["bd", "bkey"])
        .filter(F.col("a.fp") < F.col("b.fp"))
        .select(F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"))
    )
    cand = (
        raw_cand.join(batch_fps.withColumnRenamed("fp", "fp_a"), "fp_a", "left_semi")
        .unionByName(
            raw_cand.join(
                batch_fps.withColumnRenamed("fp", "fp_b"), "fp_b", "left_semi"
            )
        )
        .distinct()
    )
    verified = _verify_candidates(cand, reps, threshold)
    pairs = _expand_pairs(verified, members, threshold)

    store_ids = sig_store.select(F.col("id").alias("sid")).distinct()
    batch_ids = batch.select(F.col(id_col).alias("bid")).distinct()
    be = (
        pairs.join(batch_ids, pairs.id_a == F.col("bid"), "left_semi")
        .unionByName(pairs.join(batch_ids, pairs.id_b == F.col("bid"), "left_semi"))
        .distinct()
    )
    if be.isEmpty():
        kept = batch
    else:
        comp = connected_components(be.select("id_a", "id_b"))
        bad = (
            comp.join(store_ids, comp.node == F.col("sid"), "left_semi")
            .select("component")
            .distinct()
        )
        labeled = comp.join(F.broadcast(bad), "component", "left_anti")
        clean_reps = labeled.groupBy("component").agg(
            F.min("node").alias("keep_id")
        )
        in_graph = comp.select(F.col("node").alias("gid")).distinct()
        isolated = batch_ids.join(
            in_graph, F.col("bid") == F.col("gid"), "left_anti"
        ).select(F.col("bid").alias("keep_id"))
        keep_ids = clean_reps.select("keep_id").unionByName(isolated).distinct()
        kept = batch.join(
            keep_ids, batch[id_col] == F.col("keep_id"), "left_semi"
        )
    updated = sig_store.unionByName(
        sig_batch.join(kept.select(F.col(id_col).alias("id")), "id", "left_semi")
    )
    return kept, updated


# ---------------------------------------------------------------------------
# Per-source MinHash signatures (mergeable overlap sketches — q358)
# ---------------------------------------------------------------------------

_SRC_MH_PERMS = 64
_SRC_MH_P = 1_000_000_007
_SRC_MH_A0, _SRC_MH_A1 = 1_103_515_245, 99_991
_SRC_MH_B0, _SRC_MH_B1 = 12_345, 7_919


def source_minhash_signatures(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n_perms: int = _SRC_MH_PERMS,
) -> DataFrame:
    """Per-SOURCE MinHash signature ``(source, p, mh)``: the elementwise
    min over the source's distinct words of ``n_perms`` affine
    permutations of the rolling word hash. One corpus pass; the
    signature estimates pairwise source-vocabulary Jaccard as the match
    rate of signature slots (q358's construction, exposed as an
    operator). Mergeable: the signature of a union of shards is the
    elementwise min of shard signatures, so per-shard signatures
    accumulate without ever re-reading old shards."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.text import (
        rolling_fingerprint,
        words,
    )

    v = df.select(
        F.col(source_col).alias("source"), F.explode(words(text_col)).alias("w")
    ).distinct()
    hv = v.withColumn("rh", rolling_fingerprint("w"))
    lf = hv.select(
        "source",
        "rh",
        F.explode(F.sequence(F.lit(0), F.lit(n_perms - 1))).alias("p"),
    )
    a_p = (F.lit(_SRC_MH_A0).cast("long") + _SRC_MH_A1 * F.col("p")) % _SRC_MH_P
    b_p = (F.lit(_SRC_MH_B0).cast("long") + _SRC_MH_B1 * F.col("p")) % _SRC_MH_P
    return (
        lf.select("source", "p", ((a_p * F.col("rh") + b_p) % _SRC_MH_P).alias("h"))
        .groupBy("source", "p")
        .agg(F.min("h").alias("mh"))
    )


def signature_overlap_matrix(
    sig: DataFrame, n_perms: int = _SRC_MH_PERMS
) -> DataFrame:
    """Pairwise estimated Jaccard from signatures alone:
    ``(source_a, source_b, est_jaccard)``, never touching raw tokens."""
    sa = sig.select(F.col("source").alias("source_a"), "p", F.col("mh").alias("mha"))
    sb = sig.select(F.col("source").alias("source_b"), "p", F.col("mh").alias("mhb"))
    return (
        sa.join(sb, "p")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            (
                F.sum((F.col("mha") == F.col("mhb")).cast("int")).cast("double")
                / F.lit(n_perms)
            ).alias("est_jaccard")
        )
    )
