"""Persistent IVF-PQ index store: build once, append forever, query with
directory-pruned ADC scans.

``pq.py``'s query-time recipes train their parameters per call; a real
vector-search deployment trains ONCE and then keeps the index fresh
under ingest. This store freezes the trained parameters (k-means
centroids + PQ codebook) as a JSON sidecar next to the data, encodes
every vector to ``(id, c0..c{m-1}, cluster)`` — M bytes of payload per
vector, the PQ memory story — and writes ``partitionBy("cluster")``, so
a query's ``cluster IN probes`` predicate is DIRECTORY PRUNING: only the
probed lists' files are ever opened.

Appends (batch or streaming ``foreachBatch``) encode with the SAME
frozen parameters, so an index grown incrementally is row-identical to
one built in a single shot — tested in tests/test_pq_store.py. This is
the standard production contract (FAISS-style: train on a sample,
add() forever); re-training is an explicit rebuild, never implicit.

Durability (operators/genstore.py's ``GenStore`` core, shared with the
postings store; this store's one leg is the codes, partitioned by
``cluster``): maintenance verbs publish new generations behind a
CAS-guarded atomic pointer flip (concurrent maintainers raise
``ConcurrentWriteError`` instead of last-write-winning); superseded
generations are RETAINED (hardlinked) for ``reader(gen=N)`` /
``query(as_of_gen=N)`` pinned reads until ``vacuum()``; streaming epochs
commit exactly-once per checkpoint LINEAGE, and a foreign lineage raises
``LineageMismatchError`` instead of silently dropping its batches
(``reset_lineage()`` re-points deliberately).

Scale (100 TB): encoding is one narrow projection per batch (codes are
literal-array argmins — JVM codegen, no join, no UDF); the store holds
M+1 small ints per vector; query cost is |probed lists| × ADC lookups +
one per-query top-k. Reference parity: the reference has no vector
surface at all (/root/reference/etl_connector.py, SURVEY §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.genstore import GenStore, Leg
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.kmeans import kmeans
from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.pq import (
    _bq,
    adc_join_topk,
    encode_queries_join,
    pq_fit_codebook,
    with_code_cols,
)
from custom_python_etl_data_connector_keerthana2k4_tech_spark.functions.vectors import quantize


class IVFPQStore(GenStore):
    """A directory-backed IVF-PQ index with frozen parameters."""

    LEGS = (Leg("data", "codes", "cluster", stamped=True),)
    KEY = "vid"
    _PTR_FILE = "_data_ptr"
    _PARAMS_FILE = "_ivfpq_params.json"
    # the pointer names the live generation by its dirname
    # (``data-0000000N``), as stores written before the shared core did
    _PTR_GEN_DIRNAME = True

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
        self.centroids: list[list[float]] = p["centroids"]
        self.codebook: list[list[list[int]]] = p["codebook"]
        self.m: int = p["m"]
        self.id_col: str = p["id_col"]
        self.vec_col: str = p["vec_col"]
        self.attr_cols: list[str] = p.get("attr_cols", [])
        self.sub: int = len(self.codebook[0][0])

    # -- lifecycle ----------------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        path: str,
        n_lists: int = 8,
        km_iters: int = 3,
        m: int = 4,
        k_centroids: int = 8,
        centroids: list | None = None,
        codebook: list | None = None,
        attr_cols: list[str] | None = None,
    ) -> "IVFPQStore":
        """Train coarse quantizer + codebook on ``df``, freeze them, and
        write the encoded corpus partitioned by list. Pre-trained
        ``centroids`` / ``codebook`` (the shapes ``kmeans`` /
        ``pq_fit_codebook`` return) skip training — e.g. parameters
        shared with an online ``ivfpq_topk`` path over the same corpus;
        training is deterministic, so they freeze identically.

        ``attr_cols`` names metadata columns of ``df`` to carry into the
        coded table for FILTERED search (``query(where=...)``) — the
        standard production ANN feature (per-tenant / per-label / per-
        freshness retrieval). Attributes ride the codes as plain parquet
        columns, so predicates on them push down to the probed lists'
        row groups."""
        if centroids is None:
            _, centroids = kmeans(df, vec_col, id_col, k=n_lists, iters=km_iters)
        if codebook is None:
            codebook = pq_fit_codebook(df, id_col, vec_col, m, k_centroids)
        params = {
            "centroids": centroids,
            "codebook": codebook,
            "m": m,
            "id_col": id_col,
            "vec_col": vec_col,
            "attr_cols": list(attr_cols or []),
        }
        return cls._create(spark, path, params, df)

    # -- encode / ingest ----------------------------------------------------

    def _encode(self, df: DataFrame, stamp: int = 0) -> DataFrame:
        """(id, c0..c{m-1}, mstamp, cluster) under the FROZEN parameters
        — one narrow projection, no join, no Python in the hot path.
        Centroid literals render as SQL text (one parse, not a py4j
        round trip per float — the pq.py device). ``mstamp`` is the
        per-row MUTATION STAMP (round 8): paired maintenance
        (operators/paired.py) writes the same stamp to both stores of a
        hybrid deployment so ``reconcile_stores`` catches half-landed
        paired upserts; builds/appends/epochs stamp 0."""
        from custom_python_etl_data_connector_keerthana2k4_tech_spark.operators.kmeans import _sql_dist_sq

        dists = (
            "array("
            + ",".join(
                _sql_dist_sq("__ev", c) for c in self.centroids
            )
            + ")"
        )
        base = df.select(
            F.col(self.id_col).alias("vid"),
            *self.attr_cols,
            quantize(self.vec_col).alias("qv"),
            F.transform(F.col(self.vec_col), lambda x: x.cast("double")).alias(
                "__ev"
            ),
        ).selectExpr(
            "vid",
            *[_bq(c) for c in self.attr_cols],
            "qv",
            f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)"
            " AS cluster",
        )
        return with_code_cols(base, self.codebook, self.m, self.sub).select(
            "vid",
            *self.attr_cols,
            *[f"c{s}" for s in range(self.m)],
            F.lit(int(stamp)).cast("long").alias("mstamp"),
            "cluster",
        )

    def _leg_frames(self, batch: DataFrame, stamp: int = 0) -> tuple[DataFrame]:
        return (self._encode(batch, stamp),)

    # -- query --------------------------------------------------------------

    def reader(
        self, epochs: list[str] | None = None, gen=None
    ) -> DataFrame:
        """The live generation plus every committed, unfolded streaming
        epoch (unioned by name; ``epochs`` pins an explicit snapshot so
        maintenance verbs can't race a streaming commit between listing
        and reading). ``gen`` pins a RETAINED generation instead (no
        epoch legs — a pinned generation is the folded state at its
        publish); pinned reads of vacuumed generations raise. Empty
        epoch commits (a 0-row micro-batch) leave no cluster directories
        and are skipped; the ``cluster IN probes`` predicate prunes
        every union leg."""
        return self._leg_reader(0, gen, epochs)

    def query(
        self, queries: DataFrame, nprobe: int = 2, topk: int = 10,
        where: str | None = None,
        attr_filters: DataFrame | None = None,
        attr_ranges: DataFrame | None = None,
        as_of_gen=None,
    ) -> DataFrame:
        """ADC top-k over the probed lists only.

        The queries stay a DataFrame end to end (operators/pq
        ``encode_queries_join`` + ``adc_join_topk``): probe selection and
        ADC arrays compute distributed, and the only collect is the
        distinct probed-list ids (at most ``n_lists`` ints), so the
        ``cluster IN probes`` gate stays explicit PartitionFilters
        directory pruning (asserted in tests); scoring reads codes only,
        never vectors. Exact-rerank consumers join the survivor ids back
        to the raw vector source (O(Q×topk) lookups).

        ``where`` takes a SQL predicate over the store's ``attr_cols``
        (e.g. ``"label = 3"``) for FILTERED search: candidates are
        filtered BEFORE scoring, so the top-k is the best k *matching*
        vectors in the probed lists (post-filter IVF semantics — a
        match whose home list was not probed is missed, the same recall
        contract as unfiltered IVF; raise nprobe for selective filters).
        The predicate pushes down to the probed lists' parquet row
        groups alongside the PartitionFilters pruning.

        ``attr_filters`` is the BATCH sibling of ``where``: a
        (query_id, attr...) DataFrame giving each query its OWN
        exact-match constraints as DATA — per-tenant / per-label
        retrieval for a query TABLE. Every listed column must be one of
        the store's ``attr_cols``; a candidate pairs with a query only
        when all its constraint columns match (SQL equality — a NULL
        constraint matches nothing). Row-identical per query to looping
        ``query(where=...)`` (pinned in tests); the constraint join is an
        equi-join on (query_id, attrs) — never a crossJoin.

        ``attr_ranges`` gives each query its own NUMERIC BANDS: a
        (query_id, <attr>_lo, <attr>_hi) DataFrame where each
        ``_lo``/``_hi`` column names a store attribute and bounds it
        INCLUSIVELY (price ∈ [lo, hi], date ≥ cutoff — supply only the
        ``_lo`` column for a one-sided bound). Bands ride the cluster
        equi-join as join residuals — candidates outside a query's band
        drop IN the join, before scoring, and candidate volume stays
        bounded by the probed lists. A NULL bound matches nothing (the
        attr_filters rule). Composable with ``attr_filters``;
        row-identical per query to looping
        ``query(where="attr BETWEEN lo AND hi")`` (pinned in tests).

        ``as_of_gen`` serves the query from a RETAINED generation
        (``reader(gen=...)``) — the reproducible-eval path over a
        mutating index; vacuumed generations raise.

        Returns query_id, neighbor_id, cluster, rank, adc_dist.
        """
        qenc = encode_queries_join(
            queries, self.id_col, self.vec_col, self.codebook,
            self.m, self.sub, self.centroids, nprobe,
        )
        # Bounded collect: <= n_lists ints — keeps directory pruning a
        # literal PartitionFilters predicate (plan-asserted) instead of
        # relying on runtime DPP. The queries scan runs twice (here and
        # in the join); at any Q that is noise next to the corpus scan.
        probed = sorted(
            int(r["cluster"])
            for r in qenc.select("cluster").distinct().collect()
        )
        coded = self.reader(gen=as_of_gen).filter(F.col("cluster").isin(probed))
        if where is not None:
            coded = coded.filter(F.expr(where))
        pair_filters = []
        if attr_filters is not None:
            fcols = [c for c in attr_filters.columns if c != "query_id"]
            bad = [c for c in fcols if c not in self.attr_cols]
            if bad or not fcols:
                raise ValueError(
                    f"attr_filters columns {fcols} must be non-empty and "
                    f"drawn from the store's attr_cols {self.attr_cols}"
                )
            wants = attr_filters.select(
                "query_id",
                *[F.col(c).alias(f"__want_{c}") for c in fcols],
            )
            qenc = qenc.join(wants, "query_id")
            pair_filters += [(c, f"__want_{c}") for c in fcols]
        if attr_ranges is not None:
            bcols = [c for c in attr_ranges.columns if c != "query_id"]
            bad = [
                c
                for c in bcols
                if not (
                    (c.endswith("_lo") or c.endswith("_hi"))
                    and c[:-3] in self.attr_cols
                )
            ]
            if bad or not bcols:
                raise ValueError(
                    f"attr_ranges columns {bcols} must be non-empty "
                    "'<attr>_lo'/'<attr>_hi' names over the store's "
                    f"attr_cols {self.attr_cols}"
                )
            bands = attr_ranges.select(
                "query_id",
                *[F.col(c).alias(f"__band_{c}") for c in bcols],
            )
            qenc = qenc.join(bands, "query_id")
            pair_filters += [
                (c[:-3], f"__band_{c}", ">=" if c.endswith("_lo") else "<=")
                for c in bcols
            ]
        return adc_join_topk(
            coded.withColumnRenamed("vid", "neighbor_id"),
            qenc, self.m, topk, pair_filters=pair_filters or None,
        )
