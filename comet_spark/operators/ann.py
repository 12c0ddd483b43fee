"""Trained ANN layouts: IVF, PQ, IVFPQ — physical layouts of one logical table.

Reference semantics re-expressed for Spark (SURVEY.md §2.A/§2.I):

- **IVF** (``ivf_index.go``): k-means (nlist) centroids; each doc assigned
  to its nearest list at write. Search ranks centroids by distance to the
  query on the driver (nlist is tiny), scans only the ``nprobe`` nearest
  lists, exact distances on the candidates. In Spark the inverted list is a
  *partition*: the table is written ``partitionBy("cluster_id")`` and
  ``filter(cluster_id ∈ probed)`` becomes partition pruning — the scan
  never reads the other lists' files. With ``nprobe = nlist`` results are
  exactly the flat scan (that identity is the correctness oracle).
- **PQ** (``pq_index.go``): per-subspace codebooks (k-means on each of M
  subvector slices, L2², Ksub=2^nbits); docs stored as ``codes
  ARRAY<SMALLINT>``. ADC search builds an M×Ksub lookup table of squared
  distances from the query's subvectors to the codebooks and scores every
  code row with ``sqrt(Σ_m LUT[m][code_m])`` — expressed as a native
  Catalyst sum of ``element_at`` over broadcast-literal LUT arrays, so the
  scan stays JVM-side and is ~d/M times cheaper than flat.
- **IVFPQ** (``ivfpq_index.go``): coarse IVF assignment, PQ trained on
  *residuals* (v − centroid); search prunes to nprobe lists, builds one
  residual LUT per probed list, unions the per-list ADC scans.

Approximate recall (nprobe < nlist, PQ distortion) is validated by
recall-vs-flat tests — the same strategy the reference uses for its
approximate indexes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from comet_spark.functions.vector import to_double_array
from comet_spark.operators.topk import topk
from comet_spark.session import local_frame
from comet_spark.training.kmeans import assign_clusters, kmeans_train

__all__ = ["IVFIndex", "PQIndex", "IVFPQIndex"]


def _np_dist_sq(q: np.ndarray, cents: np.ndarray) -> np.ndarray:
    d = cents - q[None, :]
    return (d * d).sum(axis=1)


class IVFIndex:
    """Centroid table + cluster-assigned docs; lists = table partitions."""

    def __init__(self, centroids: np.ndarray, metric: str = "l2"):
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.metric = metric

    @classmethod
    def train(
        cls, docs: DataFrame, nlist: int, *, id_col: str = "id",
        vec_col: str = "vector", metric: str = "l2", max_iter: int = 20,
    ) -> "IVFIndex":
        cents = kmeans_train(
            docs, nlist, id_col=id_col, vec_col=vec_col, metric=metric, max_iter=max_iter
        )
        return cls(cents, metric)

    def assign(self, docs: DataFrame, *, id_col: str = "id", vec_col: str = "vector") -> DataFrame:
        return assign_clusters(
            docs, self.centroids, id_col=id_col, vec_col=vec_col, metric=self.metric
        )

    def assign_inplace(self, docs: DataFrame, *, vec_col: str = "vector") -> DataFrame:
        """Column-preserving assignment: adds ``cluster_id`` without
        projecting away payload columns (scalar Arrow UDF over the
        vector column) — what ``DocumentStore.compact(recluster=...)``
        calls to re-assign the merged view mid-rewrite."""
        from comet_spark.training.kmeans import assign_clusters_col

        return assign_clusters_col(
            docs, self.centroids, vec_col=vec_col, metric=self.metric
        )

    def refresh(
        self, docs: DataFrame, *, id_col: str = "id", vec_col: str = "vector",
        max_iter: int = 20,
    ) -> "IVFIndex":
        """Layout maintenance under ingest: retrain the centroids on the
        CURRENT corpus (same nlist / metric) — the Spark twin of the
        reference re-running ``Train()`` after the corpus drifts
        (``ivf_index.go:206-235``). Assignments are write-once, so a
        store growing via ``DocumentStore.append`` slowly invalidates
        the trained centroids; pair the refreshed index with
        ``DocumentStore.compact(recluster=index)`` to rewrite
        ``cluster_id`` for every surviving row in the same pass that
        merges segments."""
        return IVFIndex.train(
            docs, len(self.centroids), id_col=id_col, vec_col=vec_col,
            metric=self.metric, max_iter=max_iter,
        )

    def save(self, spark, path: str) -> None:
        """A8 sink for the model itself (the reference's WriteTo,
        ``flat_index.go:366-614`` family): centroids + metric as parquet —
        pair with :meth:`write` for the data layout."""
        rows = [
            (int(i), [float(x) for x in c]) for i, c in enumerate(self.centroids)
        ]
        local_frame(
            spark, rows, "cluster_id bigint, centroid array<double>"
        ).repartition(1).write.mode("overwrite").parquet(f"{path}/centroids.parquet")
        local_frame(spark, [(self.metric,)], "metric string").repartition(
            1
        ).write.mode("overwrite").parquet(f"{path}/meta.parquet")

    @classmethod
    def load(cls, spark, path: str) -> "IVFIndex":
        meta = spark.read.parquet(f"{path}/meta.parquet").first()
        rows = sorted(
            spark.read.parquet(f"{path}/centroids.parquet").collect(),
            key=lambda r: r["cluster_id"],
        )
        return cls(np.array([r["centroid"] for r in rows]), meta["metric"])

    def write(self, assigned: DataFrame, path: str) -> None:
        """Persist lists as partitions → nprobe search = partition pruning.

        Rows are co-located by list first: without it every input partition
        writes a file into every cluster directory (P × nlist small files —
        a metadata bomb at 100 TB); with it each list gets contiguous
        files."""
        assigned.repartition("cluster_id").write.mode("overwrite").partitionBy(
            "cluster_id"
        ).parquet(path)

    def probe_lists(self, qvec: np.ndarray, nprobe: int) -> list[int]:
        """Rank centroids by the INDEX METRIC's distance to the query
        (driver-side; nlist is small — ``ivf_index_search.go:244-261``).
        Lists were formed under this metric by kmeans, so probing must
        rank the same way: L2-ranking cosine centroids would bias toward
        small-norm centroids and silently collapse recall."""
        from comet_spark.training.kmeans import _dist_block

        q = np.asarray(qvec, dtype=np.float64)
        d = _dist_block(q[None, :], self.centroids, self.metric)[0]
        order = np.argsort(d, kind="stable")
        return [int(i) for i in order[: max(1, nprobe)]]

    def auto_nprobe(
        self, qvec: np.ndarray, list_sizes: dict[int, int], *,
        target_scan_frac: float = 0.25, max_nprobe: int | None = None,
    ) -> int:
        """IVF(PQ) recall is probe-bound (RECALL.md ladder): what matters
        is the *fraction of the corpus scanned*, not the nprobe count —
        under skewed list sizes a fixed nprobe scans wildly different
        masses per query. Pick the smallest nprobe whose cumulative
        probed-list mass reaches ``target_scan_frac``.

        ``list_sizes`` is one ``groupBy('cluster_id').count()`` over the
        layout — computed once, reused for every query."""
        order = self.probe_lists(np.asarray(qvec), len(self.centroids))
        total = max(1, sum(list_sizes.values()))
        acc = 0
        for i, cid in enumerate(order, start=1):
            acc += list_sizes.get(cid, 0)
            if acc >= target_scan_frac * total:
                return min(i, max_nprobe) if max_nprobe is not None else i
        # fall-through (target never reached) still honors the cap
        return min(len(order), max_nprobe) if max_nprobe is not None else len(order)

    def search(
        self, assigned: DataFrame, qvec: list[float], *, k: int = 10,
        nprobe: int = 8, id_col: str = "id", vec_col: str = "vector",
        round_to: int | None = 6, exclude_ids: DataFrame | None = None,
    ) -> DataFrame:
        """Exact distances over the probed lists only → ``(id, score)``.

        ``exclude_ids`` is the soft-delete skip (reference
        ``ivf_index.go:307-400`` marks ids in a deleted bitmap and every
        search drops them at collection): a DataFrame carrying
        ``id_col`` — the uniform contract across every layout's search —
        anti-joined
        (broadcast) into the probed candidates BEFORE top-k, so deleted
        docs neither appear nor consume result slots — the query-time
        view of a layout whose store has seen deletes since export;
        probe ranking stays delete-oblivious exactly like the
        reference's (centroids don't move on delete)."""
        from comet_spark.functions.vector import distance

        probed = self.probe_lists(np.asarray(qvec), nprobe)
        cand = assigned.filter(F.col("cluster_id").isin(probed))
        if exclude_ids is not None:
            cand = cand.join(
                F.broadcast(exclude_ids.select(F.col(id_col).alias(id_col))),
                id_col, "left_anti",
            )
        qlit = F.array(*[F.lit(float(x)) for x in qvec])
        score = distance(self.metric, to_double_array(vec_col), qlit)
        if round_to is not None:
            score = F.round(score, round_to)
        scored = cand.select(F.col(id_col).alias("id"), score.alias("score"))
        # cosine of a zero vector is NULL. Sort NULLs LAST and drop them
        # after the cut: a score.isNotNull() pre-filter re-evaluates the
        # whole distance expression in the filter condition (no CSE
        # across operators — see knn.py)
        out = topk(scored, [F.col("score").asc_nulls_last(), F.col("id").asc()], k)
        return out.filter(F.col("score").isNotNull())

    def search_batch(
        self, assigned: DataFrame, queries: DataFrame, *, k: int = 10,
        nprobe: int | dict = 8, id_col: str = "id", vec_col: str = "vector",
        qid_col: str = "qid", qvec_col: str = "qvec", round_to: int | None = 6,
    ) -> DataFrame:
        """Batch probed search, ONE job for all queries → (qid, id, score).

        Per-query probe sets are ranked on the driver (centroids are tiny)
        and become a broadcast (qid, cluster_id) probe table; the join
        against the cluster-partitioned docs restricts each query to its
        own lists, and per-query top-k uses rank-limit pushdown. Every
        query's pruning happens inside one distributed pass — the batch
        twin of the reference's per-query nprobe loop.

        ``nprobe`` may be a ``{qid: n}`` dict for PER-QUERY probe depths
        (what ``auto_nprobe`` produces for a batch): each query's probe
        table rows carry exactly its own lists, so a skewed batch never
        pays the deepest query's scan on every query. Missing qids
        default to 1."""
        from comet_spark.functions.vector import distance
        from comet_spark.operators.topk import topk_per_group

        spark = assigned.sparkSession
        qrows = queries.select(
            F.col(qid_col).alias("qid"), to_double_array(qvec_col).alias("qv")
        ).collect()
        # ONE (qid, cluster_id, qv) probe table instead of separate probe
        # and query-vector broadcasts: each probe row carries its query's
        # vector (≤ nprobe·|batch| rows, driver-built either way), so the
        # scan pays one broadcast build + one join, not two (r14, guide
        # §2.4; the duplicated vector bytes are bounded by the probe
        # table, KBs for any sane batch)
        probe_rows = []
        for r in qrows:
            qv = [float(x) for x in r["qv"]]
            n_q = nprobe.get(r["qid"], 1) if isinstance(nprobe, dict) else nprobe
            for cid in self.probe_lists(np.asarray(qv), n_q):
                probe_rows.append((r["qid"], cid, qv))
        probes = local_frame(
            spark, probe_rows, "qid bigint, cluster_id bigint, qv array<double>"
        )

        cand = assigned.join(F.broadcast(probes), "cluster_id")
        score = distance(self.metric, to_double_array(vec_col), F.col("qv"))
        if round_to is not None:
            score = F.round(score, round_to)
        scored = cand.select("qid", F.col(id_col).alias("id"), score.alias("score"))
        # NULL cosine: nulls-last + post-cut drop (single distance eval;
        # a pre-filter would land in the join condition — see knn.py)
        out = topk_per_group(
            scored, ["qid"], [F.col("score").asc_nulls_last(), F.col("id").asc()], k
        )
        return out.filter(F.col("score").isNotNull()).select("qid", "id", "score")


class PQIndex:
    """Product quantization: codebooks (M, Ksub, dsub) + ADC scan."""

    def __init__(self, codebooks: np.ndarray):
        self.codebooks = np.asarray(codebooks, dtype=np.float64)  # (M,Ksub,dsub)
        self.m = self.codebooks.shape[0]
        self.ksub = self.codebooks.shape[1]
        self.dsub = self.codebooks.shape[2]

    @staticmethod
    def params_for(dim: int) -> tuple[int, int]:
        """Recommended (M, nbits): prefer M=8, else smallest divisor in
        8..32, else 4 (``pq_index.go:50-67``)."""
        m = 8
        if dim % m != 0:
            for m in range(8, 33):
                if dim % m == 0:
                    break
            if dim % m != 0:
                m = 4
        return m, 8

    @classmethod
    def train(
        cls, docs: DataFrame, *, m: int, nbits: int = 8,
        id_col: str = "id", vec_col: str = "vector", max_iter: int = 20,
    ) -> "PQIndex":
        from comet_spark.training.kmeans import kmeans_train_grouped

        ksub = 2**nbits
        # NULL vectors (mergeSchema'd store views) dropped at ingestion,
        # same guard as every scoring path
        e = docs.select(
            F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
        ).filter(F.col("v").isNotNull())
        dim = len(e.select("v").first()[0])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by M={m}")
        dsub = dim // m
        # all M independent subspace clusterings share one iteration loop:
        # ~max_iter distributed passes total instead of M*max_iter
        sub_ids = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("grp")
        sliced = e.select("id", "v", sub_ids).select(
            "grp", "id", F.expr(f"slice(v, grp * {dsub} + 1, {dsub})").alias("vector")
        )
        cents = kmeans_train_grouped(
            sliced, ksub, group_col="grp", id_col="id", vec_col="vector",
            metric="l2sq", max_iter=max_iter,
        )
        books = []
        for sub in range(m):
            c = cents[sub]
            if c.shape[0] < ksub:  # k auto-clamped to n; pad for shape
                c = np.vstack([c] + [c[-1:]] * (ksub - c.shape[0]))
            books.append(c)
        return cls(np.stack(books))

    def save(self, spark, path: str) -> None:
        """A8 sink: codebooks as one (sub, code, centroid) parquet table."""
        rows = [
            (sub, code, [float(x) for x in self.codebooks[sub][code]])
            for sub in range(self.m)
            for code in range(self.ksub)
        ]
        local_frame(
            spark, rows, "sub int, code int, centroid array<double>"
        ).repartition(1).write.mode("overwrite").parquet(f"{path}/codebooks.parquet")

    @classmethod
    def load(cls, spark, path: str) -> "PQIndex":
        rows = sorted(
            spark.read.parquet(f"{path}/codebooks.parquet").collect(),
            key=lambda r: (r["sub"], r["code"]),
        )
        m = rows[-1]["sub"] + 1
        ksub = rows[-1]["code"] + 1
        books = np.array([r["centroid"] for r in rows]).reshape(m, ksub, -1)
        return cls(books)

    def encode(self, docs: DataFrame, *, id_col: str = "id", vec_col: str = "vector") -> DataFrame:
        """→ ``(id, codes ARRAY<SMALLINT>)`` (argmin per subspace, L2²)."""
        spark = docs.sparkSession
        bc = spark.sparkContext.broadcast(self.codebooks)
        m, dsub = self.m, self.dsub

        def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            books = bc.value
            for pdf in batches:
                mat = np.array(pdf["v"].tolist(), dtype=np.float64)
                if len(mat) == 0:
                    continue
                codes = _pq_encode_mat(books, mat, m, dsub)
                yield pd.DataFrame({"id": pdf["id"], "codes": list(codes)})

        e = docs.select(
            F.col(id_col).cast("bigint").alias("id"),
            to_double_array(vec_col).alias("v"),
        ).filter(F.col("v").isNotNull())  # mergeSchema'd stores mix NULLs in
        return e.mapInPandas(enc, "id bigint, codes array<smallint>")

    def encode_inplace(self, docs: DataFrame, *, vec_col: str = "vector") -> DataFrame:
        """Column-preserving encode: adds/replaces ``codes`` via a scalar
        Arrow UDF over the vector column alone — the codes twin of
        ``IVFIndex.assign_inplace``, for re-encoding a store's merged
        view during ``DocumentStore.compact(recluster=...)`` without
        dropping payload columns or paying a join-back shuffle."""
        spark = docs.sparkSession
        bc = spark.sparkContext.broadcast(self.codebooks)
        m, dsub = self.m, self.dsub

        @F.pandas_udf("array<smallint>")
        def _codes(v: pd.Series) -> pd.Series:
            books = bc.value
            out = pd.Series([None] * len(v), dtype=object)
            # NULL vectors (mergeSchema'd stores) keep NULL codes instead
            # of crashing the Arrow worker
            mask = v.notna()
            if mask.any():
                mat = np.array(v[mask].tolist(), dtype=np.float64)
                out[mask] = pd.Series(
                    list(_pq_encode_mat(books, mat, m, dsub)), index=out[mask].index
                )
            return out

        return docs.withColumn("codes", _codes(to_double_array(vec_col)))

    def refresh(
        self, docs: DataFrame, *, id_col: str = "id", vec_col: str = "vector",
        max_iter: int = 20,
    ) -> "PQIndex":
        """Retrain the codebooks on the CURRENT corpus (same M / Ksub) —
        the PQ leg of layout maintenance under ingest (reference
        re-Train, ``pq_index.go``); pair with
        ``store.compact(recluster=refreshed_pq)`` to rewrite codes."""
        import math

        nbits = int(round(math.log2(self.ksub)))
        return PQIndex.train(
            docs, m=self.m, nbits=nbits, id_col=id_col, vec_col=vec_col,
            max_iter=max_iter,
        )

    def lut(self, qvec: np.ndarray) -> np.ndarray:
        """M×Ksub table of squared distances query-subvector → codebook
        centroid (``pq_index_search.go:242-264``)."""
        q = np.asarray(qvec, dtype=np.float64)
        out = np.empty((self.m, self.ksub))
        for sub in range(self.m):
            qseg = q[sub * self.dsub : (sub + 1) * self.dsub]
            out[sub] = _pairwise_sq(qseg[None, :], self.codebooks[sub])[0]
        return out

    def adc_score_col(self, lut: np.ndarray, codes_col: str = "codes"):
        """Native Catalyst ADC: sqrt(Σ_m lut[m][code_m]) via element_at over
        literal arrays (stays in the JVM; the LUT is M×Ksub doubles)."""
        terms = []
        for sub in range(self.m):
            arr = F.array(*[F.lit(float(x)) for x in lut[sub]])
            idx = F.element_at(F.col(codes_col), sub + 1).cast("int") + 1
            terms.append(F.element_at(arr, idx))
        total = terms[0]
        for t in terms[1:]:
            total = total + t
        return F.sqrt(total)

    def search(
        self, codes: DataFrame, qvec: list[float], *, k: int = 10, round_to: int | None = 6,
        rescore: int = 0, vectors: DataFrame | None = None,
        id_col: str = "id", vec_col: str = "vector", metric: str = "l2",
        exclude_ids: DataFrame | None = None,
    ) -> DataFrame:
        """ADC top-k; with ``rescore=R > 0`` the ADC scan only selects an
        R-deep shortlist and the exact metric on ``vectors`` reranks it
        (ADC+R): compressed-domain pruning does the heavy scan, the exact
        pass touches R rows — recall ≈ P(true top-k ∈ ADC top-R), ~0.93 at
        R=100 on the synthetic corpus vs 0.43 for pure ADC. At 100 TB the
        rescore is a broadcast semi-join of R ids — negligible.
        ``exclude_ids``: soft-delete skip (reference ``pq_index.go:318+``)
        — a DataFrame carrying ``id_col``, anti-joined before the
        shortlist/top-k so deleted docs neither appear nor consume
        slots (the uniform per-layout contract)."""
        if exclude_ids is not None:
            codes = codes.join(
                F.broadcast(exclude_ids.select(F.col(id_col).alias("id"))),
                "id", "left_anti",
            )
        score = self.adc_score_col(self.lut(np.asarray(qvec)))
        if round_to is not None:
            score = F.round(score, round_to)
        scored = codes.select(F.col("id"), score.alias("score"))
        if rescore and vectors is not None:
            shortlist = topk(
                scored, [F.col("score").asc(), F.col("id").asc()], rescore
            ).select("id")
            return _exact_rescore(
                vectors, shortlist, qvec, k=k, id_col=id_col, vec_col=vec_col,
                metric=metric, round_to=round_to,
            )
        return topk(scored, [F.col("score").asc(), F.col("id").asc()], k)

    def search_batch(
        self, codes: DataFrame, queries: DataFrame, *, k: int = 10,
        qid_col: str = "qid", qvec_col: str = "qvec", round_to: int | None = 6,
    ) -> DataFrame:
        """Batch ADC → (qid, id, score), ONE scan of the codes table.

        Per-query LUTs become one broadcast (qid, sub, code, dist) table;
        the codes column posexplodes to (id, sub, code) rows (×M, shuffle-
        free) and joins the LUTs, then groupBy (qid, id) sums the M terms
        — the batch twin of the single-query literal-array expression
        (same math; the sum order differs only below ROUND 6)."""
        from comet_spark.operators.topk import topk_per_group

        spark = codes.sparkSession
        lut_rows = []
        for r in queries.select(
            F.col(qid_col).alias("qid"), to_double_array(qvec_col).alias("qv")
        ).collect():
            lut = self.lut(np.asarray([float(x) for x in r["qv"]]))
            lut_rows.extend(
                (r["qid"], sub, code, float(lut[sub][code]))
                for sub in range(self.m)
                for code in range(self.ksub)
            )
        luts = local_frame(spark, lut_rows, "qid bigint, sub int, code int, dist double")
        exploded = codes.select(
            "id", F.posexplode("codes").alias("sub", "code")
        ).select("id", F.col("sub").cast("int"), F.col("code").cast("int"))
        scored = (
            exploded.join(F.broadcast(luts), ["sub", "code"])
            .groupBy("qid", "id")
            .agg(F.sqrt(F.sum("dist")).alias("score"))
        )
        if round_to is not None:
            scored = scored.withColumn("score", F.round("score", round_to))
        return topk_per_group(
            scored, ["qid"], [F.col("score").asc(), F.col("id").asc()], k
        ).select("qid", "id", "score")


def _exact_rescore(
    vectors: DataFrame, shortlist: DataFrame, qvec: list[float], *, k: int,
    id_col: str, vec_col: str, metric: str, round_to: int | None,
) -> DataFrame:
    """Exact-metric rerank of a (small) candidate id set — the +R step."""
    from comet_spark.functions.vector import distance

    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    score = distance(metric, to_double_array(vec_col), qlit)
    if round_to is not None:
        score = F.round(score, round_to)
    exact = vectors.select(F.col(id_col).alias("id"), score.alias("score")).join(
        F.broadcast(shortlist), "id", "left_semi"
    )
    # NULL cosine: nulls-last + post-cut drop (single distance eval)
    out = topk(exact, [F.col("score").asc_nulls_last(), F.col("id").asc()], k)
    return out.filter(F.col("score").isNotNull())


def _pq_encode_mat(books: np.ndarray, mat: np.ndarray, m: int, dsub: int) -> np.ndarray:
    """THE per-subspace argmin quantizer (one copy — encode,
    encode_inplace, and the IVFPQ residual path all call it, so the
    sub-quantization math cannot silently diverge)."""
    codes = np.empty((len(mat), m), dtype=np.int16)
    for sub in range(m):
        seg = mat[:, sub * dsub : (sub + 1) * dsub]
        codes[:, sub] = np.argmin(_pairwise_sq(seg, books[sub]), axis=1).astype(
            np.int16
        )
    return codes


def _pairwise_sq(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (
        (a * a).sum(axis=1)[:, None] - 2.0 * (a @ b.T) + (b * b).sum(axis=1)[None, :]
    ).clip(min=0.0)


class IVFPQIndex:
    """Coarse IVF + PQ on residuals (``ivfpq_index.go:164-341``)."""

    def __init__(self, ivf: IVFIndex, pq: PQIndex):
        self.ivf = ivf
        self.pq = pq

    @classmethod
    def train(
        cls, docs: DataFrame, *, nlist: int, m: int, nbits: int = 8,
        id_col: str = "id", vec_col: str = "vector", max_iter: int = 20,
    ) -> "IVFPQIndex":
        ivf = IVFIndex.train(docs, nlist, id_col=id_col, vec_col=vec_col, metric="l2", max_iter=max_iter)
        assigned = ivf.assign(docs, id_col=id_col, vec_col=vec_col)
        resid = _residuals(assigned, ivf.centroids, vec_col=vec_col)
        pq = PQIndex.train(resid, m=m, nbits=nbits, id_col=id_col, vec_col="residual", max_iter=max_iter)
        return cls(ivf, pq)

    def save(self, spark, path: str) -> None:
        """A8 sink: coarse + residual models in subdirectories (the
        reference's hybrid 4-stream write, ``hybrid_search_index.go:
        617-659``, reduced to two model tables here)."""
        self.ivf.save(spark, f"{path}/ivf")
        self.pq.save(spark, f"{path}/pq")

    @classmethod
    def load(cls, spark, path: str) -> "IVFPQIndex":
        return cls(IVFIndex.load(spark, f"{path}/ivf"), PQIndex.load(spark, f"{path}/pq"))

    def encode(self, docs: DataFrame, *, id_col: str = "id", vec_col: str = "vector") -> DataFrame:
        """→ ``(id, cluster_id, codes)``: assignment + residual PQ codes."""
        assigned = self.ivf.assign(docs, id_col=id_col, vec_col=vec_col)
        resid = _residuals(assigned, self.ivf.centroids, vec_col=vec_col)
        codes = self.pq.encode(resid, id_col=id_col, vec_col="residual")
        return codes.join(
            assigned.select(F.col(id_col).alias("id"), "cluster_id"), "id"
        )

    def encode_inplace(self, docs: DataFrame, *, vec_col: str = "vector") -> DataFrame:
        """Column-preserving encode: adds/replaces ``cluster_id`` AND
        residual ``codes`` in ONE Arrow pass (assignment → residual →
        per-subspace argmin inside a single struct-returning pandas UDF)
        — what ``DocumentStore.compact(recluster=ivfpq)`` calls; the
        fresh cluster_id then also drives the rewrite's file
        co-location, so nprobe pruning AND the compressed codes stay
        honest together on a drifted corpus."""
        from comet_spark.training.kmeans import _dist_block

        spark = docs.sparkSession
        cents_bc = spark.sparkContext.broadcast(self.ivf.centroids)
        books_bc = spark.sparkContext.broadcast(self.pq.codebooks)
        m, dsub = self.pq.m, self.pq.dsub
        metric = self.ivf.metric

        @F.pandas_udf("struct<cluster_id: bigint, codes: array<smallint>>")
        def _enc(v: pd.Series) -> pd.DataFrame:
            cents = cents_bc.value
            books = books_bc.value
            out = pd.DataFrame(
                {
                    "cluster_id": pd.Series([None] * len(v), dtype="Int64"),
                    "codes": pd.Series([None] * len(v), dtype=object),
                }
            )
            # NULL vectors (mergeSchema'd stores) -> NULL layout columns
            mask = v.notna().to_numpy()
            if mask.any():
                mat = np.array(v[mask].tolist(), dtype=np.float64)
                cid = np.argmin(_dist_block(mat, cents, metric), axis=1)
                resid = mat - cents[cid]
                codes = _pq_encode_mat(books, resid, m, dsub)
                out.loc[mask, "cluster_id"] = cid
                out.loc[mask, "codes"] = pd.Series(
                    list(codes), index=out.index[mask]
                )
            return out

        tmp = docs.withColumn("__enc", _enc(to_double_array(vec_col)))
        return (
            tmp.withColumn("cluster_id", F.col("__enc.cluster_id"))
            .withColumn("codes", F.col("__enc.codes"))
            .drop("__enc")
        )

    def refresh(
        self, docs: DataFrame, *, id_col: str = "id", vec_col: str = "vector",
        max_iter: int = 20,
    ) -> "IVFPQIndex":
        """Retrain coarse centroids + residual codebooks on the CURRENT
        corpus (same nlist / M / Ksub) — layout maintenance for the
        compressed-domain path (reference re-Train,
        ``ivfpq_index.go:164-341``)."""
        import math

        nbits = int(round(math.log2(self.pq.ksub)))
        return IVFPQIndex.train(
            docs, nlist=len(self.ivf.centroids), m=self.pq.m, nbits=nbits,
            id_col=id_col, vec_col=vec_col, max_iter=max_iter,
        )

    def search(
        self, encoded: DataFrame, qvec: list[float], *, k: int = 10,
        nprobe: int = 8, round_to: int | None = 6,
        rescore: int = 0, vectors: DataFrame | None = None,
        id_col: str = "id", vec_col: str = "vector", metric: str = "l2",
        exclude_ids: DataFrame | None = None,
    ) -> DataFrame:
        """Residual ADC over the probed lists in ONE pruned scan: the
        per-cluster LUTs (nprobe × M × Ksub doubles) join in broadcast and
        the score is a native nested element_at sum — no per-cluster union
        branches (SURVEY.md A5: 'join codes⨝cluster_luts').
        ``exclude_ids``: soft-delete skip (reference ``ivf_index.go:
        307-400`` / ``pq_index.go:318+``) — a DataFrame carrying
        ``id_col``, anti-joined into the probed scan before the
        shortlist/top-k (the uniform per-layout contract)."""
        q = np.asarray(qvec, dtype=np.float64)
        probed = self.ivf.probe_lists(q, nprobe)
        spark = encoded.sparkSession
        lut_rows = [
            (int(cid), [[float(x) for x in row] for row in self.pq.lut(q - self.ivf.centroids[cid])])
            for cid in probed
        ]
        luts = local_frame(
            spark, lut_rows, "cluster_id bigint, lut array<array<double>>"
        )
        terms = [
            F.element_at(
                F.element_at(F.col("lut"), sub + 1),
                F.element_at(F.col("codes"), sub + 1).cast("int") + 1,
            )
            for sub in range(self.pq.m)
        ]
        total = terms[0]
        for t in terms[1:]:
            total = total + t
        score = F.sqrt(total)
        if round_to is not None:
            score = F.round(score, round_to)
        cand = encoded.filter(F.col("cluster_id").isin(probed))
        if exclude_ids is not None:
            cand = cand.join(
                F.broadcast(exclude_ids.select(F.col(id_col).alias("id"))),
                "id", "left_anti",
            )
        out = (
            cand
            .join(F.broadcast(luts), "cluster_id")
            .select(F.col("id"), score.alias("score"))
        )
        if rescore and vectors is not None:
            shortlist = topk(
                out, [F.col("score").asc(), F.col("id").asc()], rescore
            ).select("id")
            return _exact_rescore(
                vectors, shortlist, qvec, k=k, id_col=id_col, vec_col=vec_col,
                metric=metric, round_to=round_to,
            )
        return topk(out, [F.col("score").asc(), F.col("id").asc()], k)


def _residuals(assigned: DataFrame, centroids: np.ndarray, *, vec_col: str = "vector") -> DataFrame:
    """residual = v − centroid[cluster_id] (``ivfpq_index.go:216-226``)."""
    spark = assigned.sparkSession
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    cents = local_frame(spark, cent_rows, "cluster_id bigint, centroid array<double>")
    return (
        assigned.join(F.broadcast(cents), "cluster_id")
        .withColumn(
            "residual",
            F.zip_with(to_double_array(vec_col), "centroid", lambda a, b: a - b),
        )
        .drop("centroid")
    )
