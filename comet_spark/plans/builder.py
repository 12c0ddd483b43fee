"""Fluent search builders — the user-facing query API.

Mirrors the reference's builder surface (``index_search.go:141-430``,
``hybrid_search_index.go:326-365``): ``VectorSearch().with_query(...)
.with_k(10).with_threshold(t).execute()`` etc. The builder *is* the logical
plan; ``execute()`` emits a DataFrame graph and Catalyst does the real
optimization (SURVEY.md §3.4).

Defaults match the reference: k=10, sum aggregation, cutoff=-1 (off),
weighted-sum fusion with weights 1.0/1.0 (``hybrid_search_index.go:230-239``,
``fusion.go:62-83``).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from comet_spark.operators import fusion as fusion_ops
from comet_spark.operators.autocut import autocut
from comet_spark.operators.bm25 import BM25
from comet_spark.operators.knn import knn, knn_aggregate
from comet_spark.operators.metadata import Filter, Group, Where
from comet_spark.operators.topk import topk
from comet_spark.session import local_frame

__all__ = ["Corpus", "VectorSearch", "TextSearch", "HybridSearch"]

_FUSIONS = {
    "weighted_sum": fusion_ops.weighted_sum,
    "rrf": fusion_ops.rrf,
    "max": fusion_ops.fuse_max,
    "min": fusion_ops.fuse_min,
}


@dataclass
class Corpus:
    """One document table = the reference's HybridSearchIndex facade
    (``index.go:103-139``): id + vector + text + typed metadata columns.

    ``build_ivf(nlist)`` attaches an IVF layout; a VectorSearch with
    ``with_nprobes(n)`` then runs the pruned scan instead of flat.
    ``with_ef_search(ef)`` routes through the LSH ANN path (HNSW's role)."""

    docs: DataFrame
    id_col: str = "id"
    vec_col: str = "vector"
    text_col: str = "text"
    metric: str = "l2"
    _bm25: BM25 | None = None
    _ivf: Any = None
    _ivf_assigned: DataFrame | None = None
    _hnsw: Any = None
    _pq: Any = None
    _pq_codes: DataFrame | None = None
    _ivfpq: Any = None
    _ivfpq_enc: DataFrame | None = None
    _ivf_sizes: dict | None = None
    _ivfpq_sizes: dict | None = None

    def _ivf_list_sizes(self) -> dict:
        """List masses for scan-fraction probing (``auto_nprobe``): one
        ``groupBy(cluster_id).count()`` over the attached layout,
        memoized — computed once per layout (build_ivf invalidates),
        reused by every query."""
        if self._ivf_sizes is None:
            self._ivf_sizes = {
                r["cluster_id"]: r["n"]
                for r in self._ivf_assigned.groupBy("cluster_id")
                .agg(F.count("*").alias("n"))
                .collect()
            }
        return self._ivf_sizes

    def _ivfpq_list_sizes(self) -> dict:
        """The IVFPQ twin of :meth:`_ivf_list_sizes` (coarse lists of the
        encoded table; build_ivfpq invalidates)."""
        if self._ivfpq_sizes is None:
            self._ivfpq_sizes = {
                r["cluster_id"]: r["n"]
                for r in self._ivfpq_enc.groupBy("cluster_id")
                .agg(F.count("*").alias("n"))
                .collect()
            }
        return self._ivfpq_sizes

    def bm25(self) -> BM25:
        if self._bm25 is None:
            self._bm25 = BM25(self.docs, id_col=self.id_col, text_col=self.text_col)
        return self._bm25

    def to_store(self, store) -> None:
        """Persist the corpus as one segment (A8 serialization sink)."""
        store.append(self.docs.withColumnRenamed(self.id_col, store.id_col))

    @classmethod
    def from_store(
        cls, store, *, id_col: str = "id", vec_col: str = "vector",
        text_col: str = "text", metric: str = "l2",
    ) -> "Corpus":
        """Reopen a corpus from a DocumentStore's merged view (A10/J5:
        segments unioned, newest version wins, deletes hidden)."""
        docs = store.read()
        if store.id_col != id_col:
            docs = docs.withColumnRenamed(store.id_col, id_col)
        return cls(docs, id_col=id_col, vec_col=vec_col, text_col=text_col, metric=metric)

    def build_ivf(self, nlist: int, max_iter: int = 20) -> "Corpus":
        from comet_spark.operators.ann import IVFIndex

        self._ivf = IVFIndex.train(
            self.docs, nlist, id_col=self.id_col, vec_col=self.vec_col,
            metric=self.metric, max_iter=max_iter,
        )
        self._ivf_assigned = self._ivf.assign(
            self.docs, id_col=self.id_col, vec_col=self.vec_col
        ).cache()
        self._ivf_sizes = None  # a new layout invalidates the mass memo
        return self

    def build_pq(
        self, m: int | None = None, nbits: int | None = None, max_iter: int = 20
    ) -> "Corpus":
        """Attach a PQ compressed layout (codes cached); a VectorSearch
        with ``with_adc(...)`` then runs the compressed-domain ADC scan.
        PQ codebooks/LUTs are L2 constructions — non-L2 corpora are
        rejected rather than silently scanned with the wrong geometry."""
        from comet_spark.operators.ann import PQIndex

        if self.metric != "l2":
            raise ValueError(
                f"PQ ADC is an L2 layout; corpus metric is {self.metric!r} "
                "(use the flat/IVF/LSH paths, or normalize vectors at write "
                "time so L2 ranks like cosine)"
            )
        if m is None:
            dim = len(self.docs.select(self.vec_col).first()[0])
            m, rec_nbits = PQIndex.params_for(dim)
            # a caller-supplied nbits survives m auto-selection
            nbits = rec_nbits if nbits is None else nbits
        nbits = 8 if nbits is None else nbits
        self._pq = PQIndex.train(
            self.docs, m=m, nbits=nbits, id_col=self.id_col,
            vec_col=self.vec_col, max_iter=max_iter,
        )
        self._pq_codes = self._pq.encode(
            self.docs, id_col=self.id_col, vec_col=self.vec_col
        ).cache()
        return self

    def build_ivfpq(
        self, nlist: int, m: int, nbits: int = 8, max_iter: int = 20
    ) -> "Corpus":
        """Attach the coarse+residual layout; ``with_adc()`` +
        ``with_nprobes(n)`` then runs the probed residual-ADC scan."""
        from comet_spark.operators.ann import IVFPQIndex

        if self.metric != "l2":
            raise ValueError(
                f"IVFPQ residual ADC is an L2 layout; corpus metric is "
                f"{self.metric!r} (see build_pq)"
            )
        self._ivfpq = IVFPQIndex.train(
            self.docs, nlist=nlist, m=m, nbits=nbits, id_col=self.id_col,
            vec_col=self.vec_col, max_iter=max_iter,
        )
        self._ivfpq_enc = self._ivfpq.encode(
            self.docs, id_col=self.id_col, vec_col=self.vec_col
        ).cache()
        self._ivfpq_sizes = None  # a new layout invalidates the mass memo
        return self

    def build_hnsw(
        self, m: int = 8, ef_construction: int = 100, *,
        seed: int = 42, max_rows: int = 1_000_000,
        distributed: bool = False, num_partitions: int | None = None,
    ) -> "Corpus":
        """Attach the true graph index; ``with_ef_search(ef)`` then
        traverses the graph instead of the LSH path — the reference's
        WithEfSearch→HNSW mapping.

        ``distributed=False`` (default): driver-built serving graph
        (hnsw.py HNSWIndex, ``max_rows``-guarded collect).
        ``distributed=True``: per-partition sub-graphs built in
        mapInPandas (DistributedHNSW) — no driver collect, no row cap;
        same search/search_batch surface, so every builder knob
        composes unchanged."""
        if distributed:
            from comet_spark.operators.hnsw import DistributedHNSW

            self._hnsw = DistributedHNSW.build(
                self.docs, id_col=self.id_col, vec_col=self.vec_col, m=m,
                ef_construction=ef_construction, seed=seed,
                metric=self.metric, num_partitions=num_partitions,
            )
            return self
        from comet_spark.operators.hnsw import HNSWIndex

        self._hnsw = HNSWIndex.build(
            self.docs, id_col=self.id_col, vec_col=self.vec_col, m=m,
            ef_construction=ef_construction, seed=seed, metric=self.metric,
            max_rows=max_rows,
        )
        return self

    def vector_search(self) -> "VectorSearch":
        return VectorSearch(self)

    def text_search(self) -> "TextSearch":
        return TextSearch(self)

    def hybrid_search(self) -> "HybridSearch":
        return HybridSearch(self)


def _check_auto_nprobe_args(target_scan_frac: float, max_nprobe: int | None) -> float:
    """Shared validation for with_auto_nprobe: a fraction outside
    (0, 1] or a non-positive cap would silently degenerate to a flat
    scan / an unrelated index path — fail loudly at the knob instead."""
    frac = float(target_scan_frac)
    if not 0.0 < frac <= 1.0:
        raise ValueError(
            f"with_auto_nprobe: target_scan_frac must be in (0, 1], got {frac}"
        )
    if max_nprobe is not None and max_nprobe < 1:
        raise ValueError(
            f"with_auto_nprobe: max_nprobe must be >= 1, got {max_nprobe}"
        )
    return frac


@dataclass
class VectorSearch:
    corpus: Corpus
    _queries: list[list[float]] = dc_field(default_factory=list)
    _node_ids: list[int] = dc_field(default_factory=list)
    k: int = 10
    threshold: float | None = None
    agg: str = "sum"
    cutoff: int = -1
    _prefilter: Column | None = None
    _reranker: Any = None
    nprobes: int = 0
    ef_search: int = 0
    n_probes_lsh: int = 0
    adc: bool = False
    rescore: int = 0
    auto_scan_frac: float = 0.0
    auto_max_nprobe: int | None = None

    def with_nprobes(self, n: int) -> "VectorSearch":
        """IVF probing (requires ``corpus.build_ivf``); reference
        ``index_search.go:178-182`` WithNProbes."""
        self.nprobes = n
        return self

    def with_auto_nprobe(
        self, target_scan_frac: float, max_nprobe: int | None = None
    ) -> "VectorSearch":
        """Scan-fraction-driven probing (``IVFIndex.auto_nprobe``): pick
        the smallest nprobe whose cumulative probed-list MASS reaches the
        target — recall tracks the scanned corpus fraction, not the probe
        count, under skewed list sizes (RECALL.md ladder). List sizes
        come from one memoized ``groupBy(cluster_id).count()`` on the
        corpus. For a query batch, each query gets its OWN choice — the
        per-query ``{qid: n}`` map feeds ``search_batch``, so every
        query probes exactly the lists its target needs (the largest
        value only gates the single-query scalar path). Composes with
        ``with_adc()`` (the IVFPQ probed residual scan); an explicit
        ``with_nprobes`` wins over this knob."""
        self.auto_scan_frac = _check_auto_nprobe_args(target_scan_frac, max_nprobe)
        self.auto_max_nprobe = max_nprobe
        return self

    def with_adc(self, rescore: int = 0) -> "VectorSearch":
        """Compressed-domain ADC scan over the PQ layout (requires
        ``corpus.build_pq``, or ``build_ivfpq`` when combined with
        ``with_nprobes``); ``rescore=R`` adds the exact ADC+R rerank of
        the R-deep shortlist — the reference searches PQ/IVFPQ through
        the same builder (``index_search.go:141-279``)."""
        self.adc = True
        self.rescore = rescore
        return self

    def with_ef_search(self, ef: int) -> "VectorSearch":
        """Route through the LSH ANN scan (the HNSW-role path); reference
        ``index_search.go:195-199`` WithEfSearch."""
        self.ef_search = ef
        return self

    def with_multi_probe(self, n: int) -> "VectorSearch":
        """Multi-probe LSH (Lv et al., VLDB'07): when the ef path runs
        WITHOUT an attached HNSW graph, also probe the ``n`` cheapest
        bit-flip neighbor band buckets — recall per plane budget without
        touching the plan shape (similarity.lsh_ann_topk n_probes).
        Ignored by the graph and IVF paths, which have their own dials
        (ef_search / nprobes)."""
        self.n_probes_lsh = n
        return self

    def with_reranker(self, fn) -> "VectorSearch":
        """Post-search hook (reference ``index_search.go:50-60`` Reranker):
        a DataFrame→DataFrame callable applied after limit/autocut — runs
        on ≤ k rows, so arbitrary Python (mapInPandas or collect-side
        models) is fine here."""
        self._reranker = fn
        return self

    def with_query(self, *vecs: list[float]) -> "VectorSearch":
        self._queries.extend(vecs)
        return self

    def with_node(self, *ids: int) -> "VectorSearch":
        """More-like-this: stored vectors by id become the queries
        (``flat_index_search.go:171-196``)."""
        self._node_ids.extend(ids)
        return self

    def with_k(self, k: int) -> "VectorSearch":
        self.k = k
        return self

    def with_threshold(self, t: float) -> "VectorSearch":
        self.threshold = t
        return self

    def with_score_aggregation(self, agg: str) -> "VectorSearch":
        self.agg = agg
        return self

    def with_cutoff(self, c: int) -> "VectorSearch":
        self.cutoff = c
        return self

    def with_prefilter(self, pred: Column) -> "VectorSearch":
        self._prefilter = pred
        return self

    def _query_df(self) -> DataFrame:
        c = self.corpus
        parts = []
        if self._queries:
            parts.append(
                self._local_queries(
                    (i, [float(x) for x in v]) for i, v in enumerate(self._queries)
                )
            )
        if self._node_ids:
            looked_up = c.docs.filter(F.col(c.id_col).isin(self._node_ids)).select(
                (F.col(c.id_col) + 1_000_000_000).alias("qid"),
                F.col(c.vec_col).alias("qvec"),
            )
            parts.append(looked_up)
        if not parts:
            raise ValueError("vector search needs with_query(...) or with_node(...)")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _local_queries(self, rows) -> DataFrame:
        """Driver-held ``(qid, qvec)`` rows as a local relation: the batch
        paths take collected query rows back this way (no second
        node-lookup join)."""
        return local_frame(
            self.corpus.docs.sparkSession, rows, "qid bigint, qvec array<double>"
        )

    def _query_rows(self) -> list:
        """The query batch as collected ``(qid, qvec)`` rows. Driver-held
        vectors come straight from ``_queries``; only node-id queries
        run their lookup join."""
        if self._node_ids:
            return self._query_df().collect()
        if not self._queries:
            raise ValueError("vector search needs with_query(...) or with_node(...)")
        return [
            Row(qid=i, qvec=[float(x) for x in v])
            for i, v in enumerate(self._queries)
        ]

    def execute(self) -> DataFrame:
        c = self.corpus
        if self.adc:
            return self._execute_adc()
        if (
            self.nprobes > 0 or self.ef_search > 0 or self.n_probes_lsh > 0
            or self.auto_scan_frac > 0
        ):
            return self._execute_ann()
        # r13: a one-query batch needs neither the per-qid window top-k
        # nor the cross-query groupBy — the aggregate of a single row is
        # the row (sum/max/mean; scores are already round(…, 6) and
        # round is idempotent), and per-query ids are unique, so both
        # shuffles collapse into one TakeOrderedAndProject. Exact same
        # rows; the count agg (score := 1.0) keeps the general path.
        single = len(self._queries) == 1 and not self._node_ids
        per_query = knn(
            c.docs,
            # r14: a one-query batch holds its vector driver-side — knn
            # scores against the folded array literal and the plan loses
            # the one-row query broadcast + cross join (one fewer
            # broadcast wave per serving call); multi-query and
            # node-lookup batches keep the broadcast join
            None if single else self._query_df(),
            k=self.k,
            metric=c.metric,
            id_col=c.id_col,
            vec_col=c.vec_col,
            threshold=self.threshold,
            prefilter=self._prefilter,
            literal_query=self._queries[0] if single else None,
        )
        if single and self.agg in ("sum", "max", "mean"):
            out = topk(
                per_query.select("id", "score"),
                [F.col("score").asc(), F.col("id").asc()],
                self.k,
            )
        else:
            out = knn_aggregate(per_query, k=self.k, agg=self.agg, ascending=True)
        return self._finish(out)

    def _finish(self, out: DataFrame) -> DataFrame:
        if self.cutoff != -1:
            out = autocut(out, cutoff=self.cutoff, ascending=True)
        if self._reranker is not None:
            out = self._reranker(out)
        return out

    def _auto_nprobe_map(self, qrows) -> dict | None:
        """Per-query probe depths ``{qid: n}`` from the auto knob, or
        None when the knob is off / an explicit with_nprobes overrides.
        Each query's choice covers its own cumulative probed-list mass;
        on the ADC path the coarse quantizer and masses come from the
        IVFPQ layout (with_adc + auto composes like with_adc +
        with_nprobes). Every value is clamped to >= 1 so an auto choice
        can never fall through to an unrelated index path."""
        if self.nprobes > 0 or self.auto_scan_frac <= 0:
            return None
        import numpy as np

        c = self.corpus
        if self.adc:
            if c._ivfpq is None:
                raise ValueError(
                    "with_adc + with_auto_nprobe requires corpus.build_ivfpq(...)"
                )
            ivf, sizes = c._ivfpq.ivf, c._ivfpq_list_sizes()
        else:
            if c._ivf is None:
                raise ValueError("with_auto_nprobe requires corpus.build_ivf(nlist)")
            ivf, sizes = c._ivf, c._ivf_list_sizes()
        return {
            int(r["qid"]): max(
                1,
                ivf.auto_nprobe(
                    np.asarray([float(x) for x in r["qvec"]]), sizes,
                    target_scan_frac=self.auto_scan_frac,
                    max_nprobe=self.auto_max_nprobe,
                ),
            )
            for r in qrows
        }

    def _effective_nprobes(self, qrows) -> tuple[dict | None, int]:
        """(auto_map, scalar): the per-query depths from the auto knob
        (None when off/overridden) and the scalar the probed-path gate
        and single-query calls use — the largest auto choice; 1 for an
        empty auto batch (keeps the IVF path, result is empty)."""
        m = self._auto_nprobe_map(qrows)
        n = self.nprobes if m is None else (max(m.values()) if m else 1)
        return m, n

    def _execute_adc(self) -> DataFrame:
        """PQ / IVFPQ compressed-domain paths (per-query ADC scan, optional
        exact rescore, cross-query aggregation for batches)."""
        c = self.corpus
        qrows = self._query_rows()
        vectors = c.docs if self.rescore else None
        auto_map, nprobes = self._effective_nprobes(qrows)
        if nprobes == 0 and not self.rescore and len(qrows) > 1:
            # plain-PQ batch: ONE scan of the codes table for all queries
            # (PQIndex.search_batch) instead of one full ADC scan per query
            if c._pq is None:
                raise ValueError("with_adc requires corpus.build_pq(...)")
            codes = c._pq_codes
            if self._prefilter is not None:
                codes = codes.join(
                    c.docs.filter(self._prefilter).select(F.col(c.id_col).alias("id")),
                    "id", "left_semi",
                )
            # rebuild the query DF from the ALREADY-collected rows — going
            # back through _query_df() would re-run the node-lookup join
            # just for search_batch to collect it again
            per_query = c._pq.search_batch(codes, self._local_queries(qrows), k=self.k)
            out = knn_aggregate(per_query, k=self.k, agg=self.agg, ascending=True)
            if self.threshold is not None and self.threshold > 0:
                out = out.filter(F.col("score") <= F.lit(self.threshold))
            return self._finish(out)
        per_parts = []
        for r in qrows:
            qvec = [float(x) for x in r["qvec"]]
            if nprobes > 0:
                if c._ivfpq is None:
                    raise ValueError(
                        "with_adc + with_nprobes requires corpus.build_ivfpq(...)"
                    )
                enc = c._ivfpq_enc
                if self._prefilter is not None:
                    enc = enc.join(
                        c.docs.filter(self._prefilter).select(
                            F.col(c.id_col).alias("id")
                        ),
                        "id", "left_semi",
                    )
                part = c._ivfpq.search(
                    enc, qvec, k=self.k,
                    nprobe=auto_map.get(int(r["qid"]), 1) if auto_map else nprobes,
                    rescore=self.rescore, vectors=vectors,
                    id_col=c.id_col, vec_col=c.vec_col,
                )
            else:
                if c._pq is None:
                    raise ValueError("with_adc requires corpus.build_pq(...)")
                codes = c._pq_codes
                if self._prefilter is not None:
                    codes = codes.join(
                        c.docs.filter(self._prefilter).select(
                            F.col(c.id_col).alias("id")
                        ),
                        "id", "left_semi",
                    )
                part = c._pq.search(
                    codes, qvec, k=self.k, rescore=self.rescore, vectors=vectors,
                    id_col=c.id_col, vec_col=c.vec_col,
                )
            per_parts.append(part.select(F.lit(int(r["qid"])).alias("qid"), "id", "score"))
        if len(per_parts) == 1:
            out = per_parts[0].select("id", "score")
        else:
            per_query = per_parts[0]
            for p in per_parts[1:]:
                per_query = per_query.unionByName(p)
            out = knn_aggregate(per_query, k=self.k, agg=self.agg, ascending=True)
        if self.threshold is not None and self.threshold > 0:
            out = out.filter(F.col("score") <= F.lit(self.threshold))
        return self._finish(out)

    def _execute_ann(self) -> DataFrame:
        """Approximate paths: IVF (nprobes) or LSH (ef).

        Multi-query mirrors the reference (every index type accepts a query
        batch, ``index_search.go:141-279``): per-query approximate top-k,
        then cross-query score aggregation — IVF batches all queries into
        ONE probed job (``IVFIndex.search_batch``); LSH unions per-query
        scans into one lazy DAG (queries are driver-held literals either
        way, so no extra collect happens)."""
        c = self.corpus
        qrows = self._query_rows()
        auto_map, nprobes = self._effective_nprobes(qrows)
        if nprobes > 0:
            if c._ivf is None:
                raise ValueError("with_nprobes requires corpus.build_ivf(nlist)")
            docs = c._ivf_assigned
            if self._prefilter is not None:
                docs = docs.join(
                    c.docs.filter(self._prefilter).select(F.col(c.id_col)),
                    c.id_col,
                    "left_semi",
                )
            if len(qrows) == 1:
                out = c._ivf.search(
                    docs, [float(x) for x in qrows[0]["qvec"]], k=self.k,
                    nprobe=nprobes, id_col=c.id_col, vec_col=c.vec_col,
                )
            else:
                # an auto batch probes PER QUERY (each query joins only
                # its own lists) — the max is just the path gate above
                per_query = c._ivf.search_batch(
                    docs, self._local_queries(qrows), k=self.k,
                    nprobe=auto_map if auto_map else nprobes,
                    id_col=c.id_col, vec_col=c.vec_col,
                )
                out = knn_aggregate(per_query, k=self.k, agg=self.agg, ascending=True)
        else:
            from comet_spark.operators.similarity import lsh_ann_topk

            docs = c.docs if self._prefilter is None else c.docs.filter(self._prefilter)
            # the graph owns the leg only when a beam was requested: a
            # multi-probe-only request (ef=0, n_probes>0) is an LSH
            # request by contract, even with a graph attached
            use_graph = c._hnsw is not None and self.ef_search > 0
            if use_graph and len(qrows) > 1:
                # true graph traversal, all queries scored in ONE job;
                # prefilter applies at the distributed scoring step = the
                # reference's post-filter-by-docIDs semantics
                per_query = c._hnsw.search_batch(
                    docs, self._local_queries(qrows), k=self.k,
                    ef_search=self.ef_search,
                    id_col=c.id_col, vec_col=c.vec_col,
                )
                out = knn_aggregate(per_query, k=self.k, agg=self.agg, ascending=True)
            else:
                per_parts = []
                for r in qrows:
                    qvec = [float(x) for x in r["qvec"]]
                    if use_graph:
                        part = c._hnsw.search(
                            docs, qvec, k=self.k, ef_search=self.ef_search,
                            id_col=c.id_col, vec_col=c.vec_col,
                        )
                    else:
                        part = lsh_ann_topk(
                            docs, qvec, k=self.k, id_col=c.id_col, vec_col=c.vec_col,
                            metric=c.metric, ef=self.ef_search,
                            n_probes=self.n_probes_lsh,
                        )
                    per_parts.append(
                        part.select(F.lit(int(r["qid"])).alias("qid"), "id", "score")
                    )
                if len(per_parts) == 1:
                    out = per_parts[0].select("id", "score")
                else:
                    per_query = per_parts[0]
                    for p in per_parts[1:]:
                        per_query = per_query.unionByName(p)
                    out = knn_aggregate(per_query, k=self.k, agg=self.agg, ascending=True)
        if self.threshold is not None and self.threshold > 0:
            # post-filter by distance threshold (reference post-filters ANN
            # results the same way, hnsw_index_search.go threshold path)
            out = out.filter(F.col("score") <= F.lit(self.threshold))
        return self._finish(out)


@dataclass
class TextSearch:
    corpus: Corpus
    _queries: list[str] = dc_field(default_factory=list)
    _node_ids: list[int] = dc_field(default_factory=list)
    k: int = 10
    cutoff: int = -1
    agg: str = "sum"
    _prefilter: Column | None = None

    def with_query(self, *texts: str) -> "TextSearch":
        self._queries.extend(texts)
        return self

    def with_node(self, *ids: int) -> "TextSearch":
        """Text more-like-this: the STORED documents' text becomes the
        queries (the reference reconstructs each query from the doc's
        indexed tokens, ``bm25_index_search.go:230-260``; here the raw
        text column is at hand and the identical tokenize pipeline
        applies to it at scoring). Unknown ids fail loudly, matching
        the reference's not-found error.

        execute() collects the NODE DOCS' text to the driver to tokenize
        it as queries — bounded by the handful of ids passed here, never
        by the corpus (the same per-id lookup the reference does
        in-process); the corpus itself is only ever scanned
        distributedly by the scoring join."""
        self._node_ids.extend(int(i) for i in ids)
        return self

    def with_k(self, k: int) -> "TextSearch":
        self.k = k
        return self

    def with_cutoff(self, c: int) -> "TextSearch":
        self.cutoff = c
        return self

    def with_score_aggregation(self, agg: str) -> "TextSearch":
        """Cross-query aggregation for text batches (reference text
        search takes the same WithScoreAggregation as vector,
        ``index_search.go:141-279``)."""
        self.agg = agg
        return self

    def with_prefilter(self, pred: Column) -> "TextSearch":
        self._prefilter = pred
        return self

    def execute(self) -> DataFrame:
        from comet_spark.operators.bm25 import tokenize_py

        c = self.corpus
        queries = list(self._queries)
        if self._node_ids:
            found = {
                r["id"]: r["t"]
                for r in c.docs.filter(F.col(c.id_col).isin(self._node_ids))
                .select(F.col(c.id_col).alias("id"), F.col(c.text_col).alias("t"))
                .collect()
            }
            missing = [i for i in self._node_ids if i not in found]
            if missing:
                raise ValueError(f"node id(s) {missing} not found in corpus")
            queries.extend(found[i] for i in self._node_ids)
        if not queries:
            raise ValueError("text search needs with_query(...) or with_node(...)")
        ids = None
        if self._prefilter is not None:
            ids = c.docs.filter(self._prefilter).select(F.col(c.id_col).alias("id"))

        # all queries scored in ONE batched job (per-query top-k inside),
        # then cross-query sum aggregation descending (D4)
        spark = c.docs.sparkSession
        if len(queries) == 1:
            # r13: the one-query batch is exactly BM25.score — which
            # takes the TakeOrderedAndProject top-k path (no per-qid
            # window shuffle, no full range-partitioned sort) and pushes
            # the query's literal terms into the postings scan. Same
            # rows: score() builds the identical term table and the
            # batch's per-query top-k for one query IS the global top-k.
            out = c.bm25().score(queries[0], k=self.k, prefilter_ids=ids)
        elif len(queries) <= 4:
            # r14: a HANDFUL of constant queries runs as per-leg literal
            # score() calls + the same aggregation — each leg takes the
            # single-query shape above (literal qtf, TakeOrdered, no
            # createDataFrame / query-terms broadcast / per-qid window). The
            # batch's per-qid top-k decomposes into per-leg top-k for
            # independent qids, and knn_aggregate groups by id alone, so
            # the result is identical to the score_batch route. Past a
            # handful the batched one-scan shape wins (N legs = N
            # postings scans at scale), hence the threshold.
            bm = c.bm25()
            per = None
            for q in queries:
                leg = bm.score(q, k=self.k, prefilter_ids=ids)
                per = leg if per is None else per.unionByName(leg)
            out = knn_aggregate(per, k=self.k, agg=self.agg, ascending=False)
        else:
            rows = []
            for qid, q in enumerate(queries):
                terms: dict[str, int] = {}
                for t in tokenize_py(q):
                    terms[t] = terms.get(t, 0) + 1
                rows.extend((qid, t, float(n)) for t, n in terms.items())
            qterms = local_frame(spark, rows, "qid bigint, term string, qtf double")
            per_query = c.bm25().score_batch(qterms, k=self.k, prefilter_ids=ids)
            out = knn_aggregate(per_query, k=self.k, agg=self.agg, ascending=False)
        if self.cutoff != -1:
            out = autocut(out, cutoff=self.cutoff, ascending=False)
        return out


@dataclass
class HybridSearch:
    """Metadata prefilter → vector + text search over candidates → fusion
    → sort desc → k (``hybrid_search_index.go:477-615``)."""

    corpus: Corpus
    k: int = 10
    _vec: list[float] | None = None
    _texts: list[str] = dc_field(default_factory=list)
    _filters: list[Filter] = dc_field(default_factory=list)
    _groups: Where | None = None
    fusion_kind: Any = "weighted_sum"
    fusion_args: dict[str, Any] = dc_field(default_factory=dict)
    nprobes: int = 0
    ef_search: int = 0
    n_probes_lsh: int = 0
    adc: bool = False
    rescore: int = 0
    auto_scan_frac: float = 0.0
    auto_max_nprobe: int | None = None
    threshold: float | None = None
    cutoff: int = -1
    agg: str = "sum"

    def with_vector(self, vec: list[float]) -> "HybridSearch":
        self._vec = list(vec)
        return self

    def with_nprobes(self, n: int) -> "HybridSearch":
        """Vector side runs the IVF probed scan (reference hybrid
        delegates to whatever index it wraps,
        ``hybrid_search_index.go:477-615``)."""
        self.nprobes = n
        return self

    def with_auto_nprobe(
        self, target_scan_frac: float, max_nprobe: int | None = None
    ) -> "HybridSearch":
        """Scan-fraction-driven probing on the vector leg (see
        VectorSearch.with_auto_nprobe)."""
        self.auto_scan_frac = _check_auto_nprobe_args(target_scan_frac, max_nprobe)
        self.auto_max_nprobe = max_nprobe
        return self

    def with_ef_search(self, ef: int) -> "HybridSearch":
        self.ef_search = ef
        return self

    def with_multi_probe(self, n: int) -> "HybridSearch":
        """Multi-probe LSH on the hybrid's vector leg (see
        VectorSearch.with_multi_probe); ignored when a graph or IVF
        layout owns the leg."""
        self.n_probes_lsh = n
        return self

    def with_adc(self, rescore: int = 0) -> "HybridSearch":
        self.adc = True
        self.rescore = rescore
        return self

    def with_threshold(self, t: float) -> "HybridSearch":
        """Distance threshold, routed to the VECTOR leg exactly like the
        reference hybrid (``hybrid_search_index.go:529`` applies
        WithThreshold to the wrapped vector search, not to the fused
        scores — fused RRF/weighted scores live on a different scale)."""
        self.threshold = t
        return self

    def with_cutoff(self, c: int) -> "HybridSearch":
        """Autocut on BOTH legs (the reference passes WithCutoff into
        the wrapped vector AND text searches,
        ``hybrid_search_index.go:520,556`` — each leg cuts its own
        monotone score curve before fusion; fused scores are never
        autocut, they live on a different scale)."""
        self.cutoff = c
        return self

    def with_text(self, *texts: str) -> "HybridSearch":
        """Text leg; accepts a BATCH of query strings like the reference
        (``hybrid_search_index.go:330-331`` WithText(queries ...string))
        — multiple texts score in one batched BM25 job and aggregate
        per ``with_score_aggregation``."""
        self._texts.extend(texts)
        return self

    def with_score_aggregation(self, agg: str) -> "HybridSearch":
        """Cross-query aggregation, routed to BOTH legs (the reference
        passes WithScoreAggregation into the wrapped vector AND text
        searches, ``hybrid_search_index.go:519,555``)."""
        self.agg = agg
        return self

    def with_metadata(self, *filters: Filter) -> "HybridSearch":
        self._filters.extend(filters)
        return self

    def with_metadata_groups(self, groups: Where) -> "HybridSearch":
        self._groups = groups
        return self

    def with_k(self, k: int) -> "HybridSearch":
        self.k = k
        return self

    def with_fusion(self, kind, **kwargs: Any) -> "HybridSearch":
        """Fusion by registered kind, or a CUSTOM callable
        ``fn(vec_df, txt_df, k=..., **kwargs) -> DataFrame`` — the K2
        plugin surface (reference WithFusion accepts any strategy
        implementing Combine, ``hybrid_search_index.go:358-361``)."""
        if not callable(kind) and kind not in _FUSIONS:
            raise ValueError(f"unknown fusion {kind!r}; one of {sorted(_FUSIONS)}")
        self.fusion_kind = kind
        self.fusion_args = kwargs
        return self

    def _candidate_pred(self) -> Column | None:
        preds = []
        if self._filters:
            preds.append(Group(list(self._filters)).expr())
        if self._groups is not None:
            preds.append(self._groups.expr())
        if not preds:
            return None
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out

    def execute(self) -> DataFrame:
        c = self.corpus
        pred = self._candidate_pred()

        vec_res = txt_res = None
        if self._vec is not None:
            vs = VectorSearch(
                c, _queries=[self._vec], k=self.k, nprobes=self.nprobes,
                ef_search=self.ef_search, n_probes_lsh=self.n_probes_lsh,
                adc=self.adc, rescore=self.rescore,
                auto_scan_frac=self.auto_scan_frac,
                auto_max_nprobe=self.auto_max_nprobe,
                threshold=self.threshold, cutoff=self.cutoff, agg=self.agg,
            )
            if pred is not None:
                vs = vs.with_prefilter(pred)
            vec_res = vs.execute()
        if self._texts:
            ts = TextSearch(
                c, _queries=list(self._texts), k=self.k, cutoff=self.cutoff,
                agg=self.agg,
            )
            if pred is not None:
                ts = ts.with_prefilter(pred)
            txt_res = ts.execute()

        if vec_res is not None and txt_res is not None:
            fuse = (
                self.fusion_kind
                if callable(self.fusion_kind)
                else _FUSIONS[self.fusion_kind]
            )
            return fuse(vec_res, txt_res, k=self.k, **self.fusion_args)
        if vec_res is not None:
            return vec_res
        if txt_res is not None:
            return txt_res
        if pred is not None:
            # metadata-only search: every candidate scores 1.0
            # (hybrid_search_index.go:589-593)
            return (
                c.docs.filter(pred)
                .select(F.col(c.id_col).alias("id"), F.lit(1.0).alias("score"))
                .orderBy(F.col("id").asc())
                .limit(self.k)
            )
        raise ValueError("hybrid search needs vector, text, or metadata input")
