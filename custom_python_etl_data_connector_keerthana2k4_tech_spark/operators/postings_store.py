"""Persistent positional postings store: the on-disk inverted index
behind ``operators/postings.py``'s scale claim.

Postings rows (token, doc_id, pos) are written partitioned by a stable
TOKEN-HASH BUCKET (``hex_hash60(token) % n_buckets`` — the cross-engine
md5 hash with a driver-side twin, functions/text.py), so a phrase
query's bucket set is computable on the driver and the ``bucket IN``
predicate becomes PartitionFilters — a k-token phrase opens at most k
bucket directories, never the corpus. Appends (batch or streaming
``foreachBatch``) encode with the same layout, so the index grows under
ingest; queries reuse ``postings.phrase_match`` unchanged on the pruned
reader (the operator is layout-agnostic — the store only narrows what
gets scanned).

Why hash buckets and not one directory per token: real vocabularies are
millions of tokens (file-system metadata death); a fixed bucket count
keeps directory fan-out constant while still pruning ~(1 - k/n_buckets)
of the bytes per query. Reference parity: no text/search surface in the
reference at all (SURVEY §0, §2.2).

Durability model (operators/genstore.py's ``GenStore`` core, shared
with pq_store; this store's two legs are the postings, partitioned by
``bucket``, and the doclen sidecar, partitioned by ``dbucket``):

- GENERATIONS: maintenance verbs (``compact``/``upsert``/``delete``)
  never mutate live directories. They build generation ``N+1`` (postings
  AND the doclen sidecar — both flip together) and commit with ONE
  atomic pointer-file replace, so a crash at any step leaves the store
  fully readable under the old pointer. Untouched bucket directories
  carry into the new generation as HARDLINKS (no bytes copied): an
  upsert of a handful of documents rewrites only the buckets their
  tokens hash to, never the corpus.
- CAS PUBLISH (round 7): each verb captures the pointer VERSION when it
  reads its base generation and publishes only if the version is still
  current — two concurrent maintainers raise ``ConcurrentWriteError``
  instead of last-write-winning (one rewrite silently vanishing).
- RETAINED GENERATIONS (round 7): a publish keeps the last
  ``keep_gens`` superseded generations on disk (hardlinked — the bytes
  exist once), so ``reader(gen=N)`` / ``ranked_bm25(as_of_gen=N)``
  re-serve the exact pre-mutation index for reproducible evals;
  ``vacuum()`` sweeps them and later pinned reads fail loudly.
- EPOCH COMMITS: ``streaming_append`` stages each micro-batch in a
  temp directory and publishes it with one atomic directory rename,
  keyed by the epoch id — a RETRIED epoch sees its commit directory and
  skips, so at-least-once foreachBatch delivery becomes exactly-once
  index content (a blind parquet append would double-count postings and,
  worse, duplicate doclen sidecar rows, silently skewing every BM25
  score). Epoch ids are unique only within a checkpoint LINEAGE; the
  first committing lineage (the checkpoint's query id) is recorded in
  the pointer and any OTHER lineage raises ``LineageMismatchError``
  instead of having its batches silently dropped as replays (round 7 —
  use ``reset_lineage()`` to deliberately re-point a new stream).
- The doclen sidecar is partitioned by a DOC-hash bucket (``dbucket``),
  so document upsert/delete rewrites only the touched dbucket
  directories — dbucket is a pure function of doc_id, hence stable
  across text edits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.text import hex_hash60, py_hex_hash60
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.genstore import GenStore, Leg
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings import build_postings, phrase_match

class PostingsStore(GenStore):
    """A bucket-partitioned positional inverted index on disk."""

    LEGS = (
        Leg("data", "postings", "bucket", stamped=False),
        Leg("doclen", "doclen", "dbucket", stamped=True),
    )
    KEY = "doc_id"
    _PTR_FILE = "_store_ptr"
    _PARAMS_FILE = "_postings_params.json"

    # the shared verbs, bound in this class's own namespace so per-class
    # method wrappers (perfbench/spans.py) see every verb of the store
    append = GenStore.append
    upsert = GenStore.upsert
    delete = GenStore.delete
    compact = GenStore.compact
    vacuum = GenStore.vacuum
    reset_lineage = GenStore.reset_lineage
    streaming_append = GenStore.streaming_append

    def _parse(self, p: dict) -> None:
        self.n_buckets: int = p["n_buckets"]
        self.id_col: str = p["id_col"]
        self.text_col: str = p["text_col"]

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        path: str,
        n_buckets: int = 64,
    ) -> "PostingsStore":
        params = {"n_buckets": n_buckets, "id_col": id_col, "text_col": text_col}
        return cls._create(spark, path, params, docs)

    def _doclen_path(self) -> str:
        return self._live_dirs()[1]

    # -- encode / ingest ------------------------------------------------------

    def _doclen(self, docs: DataFrame, stamp: int = 0) -> DataFrame:
        """(doc_id, dlen, mstamp, dbucket) — dlen counts the same slots
        build_postings emits (single-space split, empties kept), so the
        sidecar always agrees with the postings rows per doc; dbucket is
        the doc-hash partition (stable across text edits). ``mstamp`` is
        the MUTATION STAMP riding each doc row (round 8): paired
        maintenance (operators/paired.py) writes the same stamp to both
        stores of a hybrid deployment, so ``reconcile_stores`` can catch
        a half-landed upsert — same ids, one leg stale — that an id-only
        audit reconciles as consistent. Builds/appends/epochs stamp 0."""
        return docs.select(
            F.col(self.id_col).alias("doc_id"),
            F.size(F.split(F.col(self.text_col), " ")).cast("long").alias("dlen"),
            F.lit(int(stamp)).cast("long").alias("mstamp"),
        ).withColumn(
            "dbucket",
            (hex_hash60(F.col("doc_id").cast("string")) % self.n_buckets).cast(
                "int"
            ),
        )

    def _encode(self, docs: DataFrame) -> DataFrame:
        postings = build_postings(docs, self.id_col, self.text_col)
        return postings.withColumn(
            "bucket",
            (hex_hash60(F.col("token")) % self.n_buckets).cast("int"),
        )

    def _leg_frames(
        self, docs: DataFrame, stamp: int = 0
    ) -> tuple[DataFrame, DataFrame]:
        return self._encode(docs), self._doclen(docs, stamp)

    # -- read -----------------------------------------------------------------

    def reader(self, gen: int | None = None) -> DataFrame:
        """The live index (generation + committed epochs), or — with
        ``gen`` — a PINNED read of exactly that retained generation (no
        epoch legs: a pinned generation is the folded state at its
        publish). Pinned reads of vacuumed generations raise."""
        return self._leg_reader(0, gen)

    def doclen_reader(self, gen: int | None = None) -> DataFrame:
        """The (doc_id, dlen, dbucket) sidecar (``gen`` pins a retained
        generation, as in ``reader``); raises a descriptive error for
        stores built before the sidecar existed (rebuild to enable
        ranked retrieval)."""
        if gen is None and not os.path.isdir(self._doclen_path()):
            raise FileNotFoundError(
                "this postings store has no doclen sidecar (built by an "
                "older version?) — rebuild the store to enable ranked_bm25"
            )
        return self._leg_reader(1, gen)

    # -- query ----------------------------------------------------------------

    def ranked_bm25(
        self, terms: list[str], topk: int = 10,
        k1: float = 1.2, b: float = 0.75,
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """Okapi BM25 ranked retrieval FROM the store — the query a
        retrieval user actually runs (phrase() is the exact-match
        sibling). Plan: the query terms' bucket directories prune via
        PartitionFilters (<= |terms| dirs opened, plan-asserted in
        tests), tf/df derive from the pruned postings only, and the
        corpus-level length stats come from the ``doclen`` sidecar the
        store maintains at build/append time (a 2-column frame whose
        aggregate is a 1-row broadcast) — so scoring never rescans the
        corpus text. Scoring is q171's operand-identical BM25 tree
        (plans/round4.py), and the final top-k is an orderBy+limit
        (TakeOrderedAndProject — distributed partial top-k, no global
        window). Ties break on doc_id. ``as_of_gen`` serves the query
        from a RETAINED generation (reproducible evals over a mutating
        index). Returns doc_id, bm25, n_terms_hit (the top ``topk`` by
        score)."""
        if not terms:
            raise ValueError("empty term set")
        buckets = sorted({py_hex_hash60(t) % self.n_buckets for t in terms})
        pruned = (
            self.reader(gen=as_of_gen)
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("token").isin(list(terms)))
        )
        tf = pruned.groupBy("doc_id", "token").agg(
            F.count(F.lit(1)).cast("long").alias("tf")
        )
        dl = self.doclen_reader(gen=as_of_gen).select(
            F.col("doc_id").alias("d_id"), "dlen"
        )
        stats = dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avg_len"),
        )
        dfreq = tf.groupBy("token").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        ).select(F.col("token").alias("f_term"), "df")
        idf = F.log(
            ((F.col("n_docs") - F.col("df")).cast("double") + 0.5)
            / (F.col("df").cast("double") + 0.5)
            + 1
        )
        contrib = idf * (
            (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + (F.lit(b) * F.col("dlen")) / F.col("avg_len"))
            )
        )
        # Order-independent sum (exact DECIMAL accumulation, then one
        # deterministic cast): per-(doc) contributions arrive in whatever
        # order partial aggregation delivers them, and a plain double sum
        # would drift by an ulp between plans — this keeps the single-query
        # and query-table paths (and the DuckDB oracle) bit-identical.
        # dfreq is bounded by the caller's term LIST here, so the explicit
        # broadcast is always right; the table sibling lets AQE size it.
        scored = (
            tf.join(F.broadcast(dfreq), tf.token == F.col("f_term"))
            .join(dl, tf.doc_id == F.col("d_id"))
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(
                F.sum(contrib.cast("decimal(30,10)")).cast("double").alias("bm25"),
                F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            )
        )
        return scored.orderBy(F.desc("bm25"), "doc_id").limit(topk)

    def ranked_bm25_table(
        self, query_terms: DataFrame, topk: int = 10,
        k1: float = 1.2, b: float = 0.75,
        query_id_col: str = "query_id", term_col: str = "term",
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """BM25 ranked retrieval for a query TABLE — the batch sibling of
        ``ranked_bm25`` (which serves ONE Python term list). Queries stay
        a DataFrame end to end: ``query_terms`` is a (query_id, term)
        frame (duplicates collapse, matching the single-query ``isin``
        semantics), and the result is row-identical per query to looping
        ``ranked_bm25`` over each query's terms (pinned in tests). An
        input with no non-NULL terms returns an EMPTY correctly-typed
        frame (NULL terms can never match a posting — the degenerate
        input behaves like any unmatched query, mirroring the
        single-query path's empty result).

        Plan: the only driver collect is the distinct BUCKET ids of the
        queries' terms (<= n_buckets ints at any Q — the pq_store
        query device), so the bucket predicate stays a literal
        PartitionFilters entry; the postings are additionally semi-joined
        to the distinct term set (evaluated where the terms live, never
        collected). tf/df compute ONCE over the union of all query terms
        and are shared across queries — df(token) is a corpus property,
        so per-query and batch scoring agree exactly. The per-query fan
        out is one equi-join of tf against the (query_id, term) frame;
        corpus length stats are the 1-row doclen-sidecar broadcast; the
        per-query cut is a window top-k (ties on doc_id, the single-query
        rule). The per-term df join is left UNHINTED so AQE sizes it at
        runtime: at fixture vocabularies it converts to a broadcast, and
        a 10^7-term offline batch falls back to a shuffle join instead of
        OOMing on a forced broadcast (both regimes pinned in tests).
        ``as_of_gen`` serves the whole batch from a RETAINED generation
        (postings AND doclen legs pin together — round 8: the
        reproducible BATCH eval over a mutating index no longer loops
        single queries), row-identical to looping ``ranked_bm25(...,
        as_of_gen=N)`` per query (pinned in tests).
        Returns query_id, doc_id, bm25, n_terms_hit, rank."""
        qts = (
            query_terms.select(
                F.col(query_id_col).alias("query_id"),
                F.col(term_col).alias("token"),
            )
            # NULL terms can never match a posting (the equi-join drops
            # them) — filter them here so the bucket collect below can't
            # surface a None bucket as an opaque TypeError
            .filter(F.col("token").isNotNull())
            .distinct()
        )
        buckets = sorted(
            int(r["bucket"])
            for r in qts.select(
                (hex_hash60(F.col("token")) % self.n_buckets)
                .cast("int")
                .alias("bucket")
            )
            .distinct()
            .collect()
        )
        # no non-NULL terms: nothing can match — run the same plan with a
        # false bucket gate so the result is empty WITH the right schema
        bucket_gate = (
            F.col("bucket").isin(buckets) if buckets else F.lit(False)
        )
        terms = qts.select("token").distinct()
        pruned = (
            self.reader(gen=as_of_gen)
            .filter(bucket_gate)
            .join(terms, "token", "left_semi")
        )
        tf = pruned.groupBy("doc_id", "token").agg(
            F.count(F.lit(1)).cast("long").alias("tf")
        )
        dl = self.doclen_reader(gen=as_of_gen).select(
            F.col("doc_id").alias("d_id"), "dlen"
        )
        stats = dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avg_len"),
        )
        dfreq = tf.groupBy("token").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        ).select(F.col("token").alias("f_term"), "df")
        idf = F.log(
            ((F.col("n_docs") - F.col("df")).cast("double") + 0.5)
            / (F.col("df").cast("double") + 0.5)
            + 1
        )
        contrib = idf * (
            (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + (F.lit(b) * F.col("dlen")) / F.col("avg_len"))
            )
        )
        scored = (
            tf.join(qts, "token")
            .join(dfreq, tf.token == F.col("f_term"))
            .join(dl, tf.doc_id == F.col("d_id"))
            .crossJoin(F.broadcast(stats))
            .groupBy("query_id", "doc_id")
            .agg(
                F.sum(contrib.cast("decimal(30,10)")).cast("double").alias("bm25"),
                F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            )
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), "doc_id")
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= topk)
            .select("query_id", "doc_id", "bm25", "n_terms_hit", "rank")
        )

    def phrase(self, phrase: list[str], as_of_gen: int | None = None) -> DataFrame:
        """Exact phrase search reading ONLY the phrase tokens' buckets
        (driver-computed via the cross-engine hash twin; the bucket IN
        predicate lands in PartitionFilters). ``as_of_gen`` pins a
        retained generation."""
        buckets = sorted({py_hex_hash60(tok) % self.n_buckets for tok in phrase})
        pruned = self.reader(gen=as_of_gen).filter(F.col("bucket").isin(buckets))
        return phrase_match(pruned.select("token", "doc_id", "pos"), phrase)

    def phrase_table(
        self,
        phrases: DataFrame,
        phrase_id_col: str = "phrase_id",
        pos_col: str = "ppos",
        term_col: str = "term",
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """Exact phrase search for a phrase TABLE — the batch sibling of
        ``phrase`` (ranked_bm25_table's device applied to adjacency):
        the only driver collect is the distinct BUCKET ids of the
        phrases' terms (<= n_buckets ints at any number of phrases, so
        the bucket predicate stays literal PartitionFilters), the
        postings additionally semi-join to the distinct term set, and
        ``phrase_match_table`` resolves all phrases in ONE anchor-
        alignment join. Row-identical per phrase to looping ``phrase``
        (pinned in tests). ``as_of_gen`` serves the batch from a
        RETAINED generation (round 8 — the batch sibling of
        ``phrase(as_of_gen=)``). Returns phrase_id, doc_id, n_matches,
        first_pos."""
        from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.postings import (
            phrase_match_table,
        )

        ph = phrases.select(
            F.col(phrase_id_col).alias("phrase_id"),
            F.col(pos_col).alias("ppos"),
            F.col(term_col).alias("term"),
        )
        raw = [
            r["bucket"]
            for r in ph.select(
                (hex_hash60(F.col("term")) % self.n_buckets)
                .cast("int")
                .alias("bucket")
            )
            .distinct()
            .collect()
        ]
        if any(b is None for b in raw):
            # a NULL slot can never match a token, and silently dropping
            # it would SHORTEN the phrase (adjacency would skip the slot)
            raise ValueError("phrase table contains a NULL term slot")
        buckets = sorted(int(b) for b in raw)
        if not buckets:
            raise ValueError("empty phrase table")
        terms = ph.select(F.col("term").alias("token")).distinct()
        pruned = (
            self.reader(gen=as_of_gen)
            .filter(F.col("bucket").isin(buckets))
            .join(terms, "token", "left_semi")
            .select("token", "doc_id", "pos")
        )
        return phrase_match_table(pruned, ph)
