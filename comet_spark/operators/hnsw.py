"""True graph-HNSW — the driver-built serving index (SURVEY §4.3 option a).

The reference's HNSW (`hnsw_index.go:473-694` build, `hnsw_index_search.go:
248-354` search) is sequential pointer-chasing — there is no idiomatic
distributed equivalent, so this repo ships TWO implementations of the A3
role and is explicit about which to use when:

- ``lsh_ann_topk`` (similarity.py): fully distributed signatures, the
  100 TB path — candidate generation never leaves the executors.
- ``HNSWIndex`` (here): the real hierarchical graph, built and traversed
  on the driver over a collected corpus — the *serving* shape (the
  reference itself is a single-node in-memory engine; its HNSW holds the
  whole graph in RAM too, ~634 MB at SIFT-1M per BASELINE.md). Build is
  capped by ``max_rows`` so a 100 TB table cannot be collected by
  accident.
- ``DistributedHNSW`` (here, SURVEY A3 option c): per-partition HNSW
  sub-graphs built INSIDE ``mapInPandas`` — no driver collect, no
  max_rows guard. Each partition owns a hash-random slice; a search
  walks every sub-graph in parallel and the union of the per-slice
  beams feeds one distributed exact top-k. The true global top-k is the
  union of per-slice top-k by construction, so recall only depends on
  each (small, easy) sub-graph's beam quality.

The *scoring* stays in Spark: ``search`` returns the beam's visited
candidate set and the cluster computes exact distances + top-k over a
broadcast semi-join, identical plan shape to ``lsh_ann_topk`` — so the
DuckDB oracle can replay scoring/ordering from an exported candidate
artifact (by-construction check), while graph traversal itself is
validated by recall-vs-flat and an ef ladder, exactly how the reference
validates HNSW (`hnsw_index_search_test.go:992-1150`).

Algorithm: standard HNSW (Malkov & Yashunin 2016, public): geometric
level assignment with p = 1/M (cap 16, matching `hnsw_index.go:473-484`),
greedy descent through upper layers, beam search (ef) at each insert
layer, bidirectional edges pruned to M (2M at layer 0).
"""

from __future__ import annotations

import heapq

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from comet_spark.functions.vector import to_double_array
from comet_spark.operators.topk import topk
from comet_spark.session import local_frame

__all__ = ["HNSWIndex", "DistributedHNSW"]

MAX_LEVEL_CAP = 16


def _inflated_ef(
    ef_search: int, k: int, exclude_ids: DataFrame | None,
    cap: int | None = None, exclude_count: int | None = None,
) -> int:
    """Beam width for a search that must yield k LIVE results: the base
    ``max(ef_search, k)``, plus the exclusion set's cardinality when a
    soft-delete skip is in play — a fixed-size beam anti-joined after
    traversal would otherwise return fewer than k survivors on a
    heavily-deleted index (ADVICE r08). The count is one extra job over
    the delete vector (broadcast-small by the exclude contract; its
    lineage evaluates again at the anti-join — tiny by the same
    contract); callers that reuse one exclusion set across many queries
    pass ``exclude_count`` to pay that job once (ADVICE r09). ``cap``
    clamps the result to the graph's node count: a store-scale delete
    vector mostly NOT in this index must not request a beam (and
    driver-side heap) far past "scan everything" — the driver path
    passes ``len(self.ids)``; the distributed path clamps per sub-graph
    inside the traversal task (each sub-graph caps the beam at its own
    node count, the same rule applied where the size is known)."""
    ef = max(int(ef_search), int(k))
    if exclude_ids is not None:
        if exclude_count is not None and int(exclude_count) < 0:
            # INVARIANT: exclude_count must be >= the true cardinality of
            # exclude_ids — an UNDERSTATED count silently reintroduces the
            # below-k live-result shrinkage this inflation exists to
            # prevent (degrades recall with no error; ADVICE r08/r10).
            # Negative is the one understatement detectable for free.
            raise ValueError(
                f"exclude_count must be >= 0, got {exclude_count}"
            )
        ef += int(
            exclude_count if exclude_count is not None else exclude_ids.count()
        )
    if cap is not None:
        ef = min(ef, max(int(cap), int(k)))
    return ef


class HNSWIndex:
    def __init__(
        self, ids: np.ndarray, mat: np.ndarray, *, m: int = 8,
        ef_construction: int = 100, seed: int = 42, metric: str = "l2",
    ):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.mat = np.asarray(mat, dtype=np.float64)
        self.m = m
        self.ef_construction = ef_construction
        if metric not in ("l2", "l2sq", "cosine"):
            # inner-product (MIPS) has no rank-equivalent L2 embedding —
            # refusing beats silently traversing with the wrong geometry
            raise ValueError(
                f"HNSW supports metrics l2/l2sq/cosine, got {metric!r}; "
                "use a flat scan or lsh_ann_topk for other metrics"
            )
        self.metric = metric
        self._tmat = self._traversal_mat(self.mat, metric)
        n = len(self.ids)
        rng = np.random.RandomState(seed)
        # geometric level: P(level >= l) = (1/M)^l, capped (hnsw_index.go:473-484)
        self.levels = np.minimum(
            rng.geometric(1.0 - 1.0 / m, size=n) - 1, MAX_LEVEL_CAP
        )
        self.max_level = int(self.levels.max(initial=0))
        # adjacency: per layer, node -> list of neighbor row indices
        self.adj: list[dict[int, list[int]]] = [
            {} for _ in range(self.max_level + 1)
        ]
        self.entry = 0
        for i in range(n):
            self._insert(i)

    # -- build ----------------------------------------------------------

    @staticmethod
    def _traversal_mat(mat: np.ndarray, metric: str) -> np.ndarray:
        """The geometry the graph is built and walked in: plain L2 for
        l2/l2sq (argmin-equivalent), and for cosine, L2 over
        unit-normalized vectors (|â−b̂|² = 2·(1−cosθ) — rank-equivalent,
        so traversal agrees with the exact cosine rescore)."""
        if metric != "cosine":
            return mat
        n = np.linalg.norm(mat, axis=1, keepdims=True)
        return mat / np.where(n == 0.0, 1.0, n)

    def _dist(self, q: np.ndarray, idxs: list[int] | np.ndarray) -> np.ndarray:
        d = self._tmat[np.asarray(idxs, dtype=np.int64)] - q[None, :]
        return np.sqrt((d * d).sum(axis=1))

    def _search_layer(
        self, q: np.ndarray, entry: int, ef: int, layer: int
    ) -> list[tuple[float, int]]:
        """Beam search within one layer → up to ef (dist, node) ascending."""
        d0 = float(self._dist(q, [entry])[0])
        visited = {entry}
        cand = [(d0, entry)]  # min-heap of frontier
        best = [(-d0, entry)]  # max-heap (negated) of current ef best
        while cand:
            d, u = heapq.heappop(cand)
            if d > -best[0][0] and len(best) >= ef:
                break
            neigh = [v for v in self.adj[layer].get(u, ()) if v not in visited]
            if not neigh:
                continue
            visited.update(neigh)
            for dv, v in zip(self._dist(q, neigh), neigh):
                dv = float(dv)
                if len(best) < ef or dv < -best[0][0]:
                    heapq.heappush(cand, (dv, v))
                    heapq.heappush(best, (-dv, v))
                    if len(best) > ef:
                        heapq.heappop(best)
        return sorted((-nd, v) for nd, v in best)

    def _insert(self, i: int) -> None:
        if i == 0:
            for layer in range(self.levels[0] + 1):
                self.adj[layer][0] = []
            self.entry = 0
            return
        q = self._tmat[i]
        level = int(self.levels[i])
        ep = self.entry
        # greedy descent through layers above the node's level
        for layer in range(self.max_level, level, -1):
            if self.adj[layer]:
                ep = self._greedy(q, ep, layer)
        for layer in range(min(level, self.max_level), -1, -1):
            if not self.adj[layer]:
                self.adj[layer][i] = []
                continue
            found = self._search_layer(q, ep, self.ef_construction, layer)
            cap = self.m if layer > 0 else 2 * self.m
            neighbors = [v for _, v in found[: self.m]]
            self.adj[layer][i] = list(neighbors)
            for v in neighbors:
                lst = self.adj[layer].setdefault(v, [])
                lst.append(i)
                if len(lst) > cap:  # prune to closest (hnsw_index.go:667-694)
                    dd = self._dist(self._tmat[v], lst)
                    order = np.argsort(dd, kind="stable")[:cap]
                    self.adj[layer][v] = [lst[j] for j in order]
            ep = found[0][1]
        if level > int(self.levels[self.entry]):
            self.entry = i

    def _greedy(self, q: np.ndarray, ep: int, layer: int) -> int:
        cur = ep if ep in self.adj[layer] else next(iter(self.adj[layer]))
        cur_d = float(self._dist(q, [cur])[0])
        improved = True
        while improved:
            improved = False
            neigh = self.adj[layer].get(cur, [])
            if neigh:
                dd = self._dist(q, neigh)
                j = int(np.argmin(dd))
                if float(dd[j]) < cur_d:
                    cur, cur_d, improved = neigh[j], float(dd[j]), True
        return cur

    # -- public API -----------------------------------------------------

    @classmethod
    def build(
        cls, docs: DataFrame, *, id_col: str = "id", vec_col: str = "vector",
        m: int = 8, ef_construction: int = 100, seed: int = 42,
        metric: str = "l2", max_rows: int = 1_000_000,
    ) -> "HNSWIndex":
        """Collect the corpus to the driver and build the graph.

        DELIBERATE driver collect — this is the serving-index shape (the
        graph must live in one memory space; the reference holds it in
        process RAM the same way). ``max_rows`` refuses corpora that
        don't fit; the distributed A3 path is ``lsh_ann_topk``.
        """
        n = docs.count()
        if n > max_rows:
            raise ValueError(
                f"HNSW build collects the corpus to the driver ({n} rows > "
                f"max_rows={max_rows}); use lsh_ann_topk for corpora beyond "
                "driver memory"
            )
        rows = docs.select(
            F.col(id_col).cast("bigint").alias("id"),
            to_double_array(vec_col).alias("v"),
        ).collect()
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        mat = np.array([r["v"] for r in rows], dtype=np.float64)
        order = np.argsort(ids, kind="stable")  # insertion order = id order
        return cls(
            ids[order], mat[order], m=m, ef_construction=ef_construction,
            seed=seed, metric=metric,
        )

    def save(self, spark, path: str) -> None:
        """A8 sink for the graph (reference ``hnsw_index.go:696-759``
        WriteTo): nodes (id, vector, level) + edges (layer, node, neighbors)
        as parquet — a load skips the whole build."""
        nodes = [
            (int(self.ids[i]), [float(x) for x in self.mat[i]], int(self.levels[i]))
            for i in range(len(self.ids))
        ]
        local_frame(
            spark, nodes, "id bigint, vector array<double>, level int"
        ).repartition(1).write.mode("overwrite").parquet(f"{path}/nodes.parquet")
        edges = [
            (layer, int(u), [int(v) for v in vs])
            for layer, adj in enumerate(self.adj)
            for u, vs in adj.items()
        ]
        local_frame(
            spark, edges, "layer int, node bigint, neighbors array<bigint>"
        ).repartition(1).write.mode("overwrite").parquet(f"{path}/edges.parquet")
        local_frame(
            spark, [(self.m, self.ef_construction, self.metric, int(self.entry))],
            "m int, ef_construction int, metric string, entry bigint",
        ).repartition(1).write.mode("overwrite").parquet(f"{path}/meta.parquet")

    @classmethod
    def load(cls, spark, path: str) -> "HNSWIndex":
        meta = spark.read.parquet(f"{path}/meta.parquet").first()
        nodes = sorted(
            spark.read.parquet(f"{path}/nodes.parquet").collect(),
            key=lambda r: r["id"],
        )
        ix = cls.__new__(cls)
        ix.ids = np.array([r["id"] for r in nodes], dtype=np.int64)
        ix.mat = np.array([r["vector"] for r in nodes], dtype=np.float64)
        ix.levels = np.array([r["level"] for r in nodes], dtype=np.int64)
        ix.m = meta["m"]
        ix.ef_construction = meta["ef_construction"]
        ix.metric = meta["metric"]
        ix._tmat = cls._traversal_mat(ix.mat, ix.metric)
        ix.entry = int(meta["entry"])
        ix.max_level = int(ix.levels.max(initial=0))
        ix.adj = [{} for _ in range(ix.max_level + 1)]
        for r in spark.read.parquet(f"{path}/edges.parquet").collect():
            ix.adj[r["layer"]][int(r["node"])] = [int(v) for v in r["neighbors"]]
        return ix

    def search_candidates(self, qvec: list[float], *, ef_search: int = 50) -> list[int]:
        """Graph traversal only → candidate doc ids (the layer-0 beam's
        result set, ≥ ef_search entries), driver-side."""
        q = np.asarray(qvec, dtype=np.float64)
        if self.metric == "cosine":
            qn = np.linalg.norm(q)
            if qn > 0:
                q = q / qn
        ep = self.entry
        for layer in range(self.max_level, 0, -1):
            if self.adj[layer]:
                ep = self._greedy(q, ep, layer)
        found = self._search_layer(q, ep, max(ef_search, 1), 0)
        return [int(self.ids[v]) for _, v in found]

    def search(
        self, docs: DataFrame, qvec: list[float], *, k: int = 10,
        ef_search: int = 50, id_col: str = "id", vec_col: str = "vector",
        round_to: int | None = 6, artifacts_path: str | None = None,
        exclude_ids: DataFrame | None = None, exclude_count: int | None = None,
    ) -> DataFrame:
        """Graph candidates → DISTRIBUTED exact scoring + top-k (same plan
        shape as lsh_ann_topk: broadcast semi-join prunes the scan, the
        cluster computes distances) → ``(id, score)``. ``exclude_count``:
        precomputed exclusion cardinality — pass it when one exclusion
        DataFrame serves many queries to skip the per-query count job.

        ``exclude_ids`` is the soft-delete skip, with the reference's
        exact semantics (``hnsw_index.go:507-510``: deleted nodes stay in
        the graph and keep ROUTING traversal — removing them would sever
        paths — but are skipped when results are collected): the beam
        walks the full graph, and the exclusion anti-joins the candidate
        set before scoring. The beam AUTO-INFLATES by the exclusion's
        cardinality (like the rescore shortlist), so a heavily-deleted
        index still surfaces k live results instead of silently
        returning fewer (ADVICE r08) — in the worst case every beam slot
        is a deleted node and the inflation restores exactly the lost
        capacity."""
        spark = docs.sparkSession
        cand_ids = self.search_candidates(
            qvec,
            ef_search=_inflated_ef(
                ef_search, k, exclude_ids, cap=len(self.ids),
                exclude_count=exclude_count,
            ),
        )
        cand = local_frame(spark, [(int(c),) for c in cand_ids], "id bigint")
        if exclude_ids is not None:
            cand = cand.join(
                F.broadcast(exclude_ids.select(F.col(id_col).alias("id"))),
                "id", "left_anti",
            )
        if artifacts_path is not None:
            # oracle-export: the candidate set as parquet → DuckDB replays
            # exact scoring + ordering over the same candidates
            cand.repartition(1).write.mode("overwrite").parquet(
                f"{artifacts_path}/candidates.parquet"
            )
            cand = spark.read.parquet(f"{artifacts_path}/candidates.parquet")
        return score_candidates(
            docs, cand, qvec, metric=self.metric, k=k, id_col=id_col,
            vec_col=vec_col, round_to=round_to,
        )

    def search_batch(
        self, docs: DataFrame, queries: DataFrame, *, k: int = 10,
        ef_search: int = 50, id_col: str = "id", vec_col: str = "vector",
        qid_col: str = "qid", qvec_col: str = "qvec", round_to: int | None = 6,
    ) -> DataFrame:
        """Batch graph search → (qid, id, score), ONE distributed job.

        Traversal runs per query on the driver (graph ops are
        microseconds), but all candidate sets union into one broadcast
        (qid, id) table; a single join + per-query top-k scores every
        query in the same pass — the batch twin of ``IVFIndex.
        search_batch``."""
        from comet_spark.functions.vector import distance as dist_fn
        from comet_spark.operators.topk import topk_per_group

        spark = docs.sparkSession
        qrows = queries.select(
            F.col(qid_col).alias("qid"), to_double_array(qvec_col).alias("qv")
        ).collect()
        cand_rows = []
        qvec_rows = []
        for r in qrows:
            qv = [float(x) for x in r["qv"]]
            qvec_rows.append((r["qid"], qv))
            for c in self.search_candidates(qv, ef_search=max(ef_search, k)):
                cand_rows.append((r["qid"], int(c)))
        cand = local_frame(spark, cand_rows, "qid bigint, id bigint")
        qvecs = local_frame(spark, qvec_rows, "qid bigint, qv array<double>")
        e = docs.select(
            F.col(id_col).cast("bigint").alias("id"),
            to_double_array(vec_col).alias("v"),
        )
        score = dist_fn(self.metric, F.col("v"), F.col("qv"))
        if round_to is not None:
            score = F.round(score, round_to)
        scored = (
            e.join(F.broadcast(cand), "id")
            .join(F.broadcast(qvecs), "qid")
            .select("qid", "id", score.alias("score"))
        )
        return topk_per_group(
            scored, ["qid"], [F.col("score").asc(), F.col("id").asc()], k
        ).select("qid", "id", "score")


# executor-local cache of deserialized sub-graphs, keyed by blob digest:
# Spark reuses executor processes across jobs, so repeated searches over
# a cached graph table skip the unpickle. FIFO-bounded — every REBUILD
# (new corpus/partitioning/appended data) mints new digests, so a
# long-lived executor serving periodically rebuilt indexes would
# otherwise accumulate every historical sub-graph (vectors + adjacency)
# until OOM.
_SUBGRAPH_CACHE: dict[str, "HNSWIndex"] = {}
_SUBGRAPH_CACHE_MAX = 64


def _subgraph_from_blob(blob: bytes) -> "HNSWIndex":
    import hashlib
    import pickle

    key = hashlib.md5(blob).hexdigest()
    g = _SUBGRAPH_CACHE.get(key)
    if g is None:
        state = pickle.loads(blob)
        g = HNSWIndex.__new__(HNSWIndex)
        g.__dict__.update(state)
        while len(_SUBGRAPH_CACHE) >= _SUBGRAPH_CACHE_MAX:
            _SUBGRAPH_CACHE.pop(next(iter(_SUBGRAPH_CACHE)))
        _SUBGRAPH_CACHE[key] = g
    return g


def score_candidates(
    docs: DataFrame, cand: DataFrame, qvec: list[float], *, metric: str,
    k: int, id_col: str = "id", vec_col: str = "vector",
    round_to: int | None = 6,
) -> DataFrame:
    """The ONE exact-scoring tail every graph path shares: broadcast
    semi-join prunes the scan to the candidate ids, the cluster computes
    the exact distance, total-order top-k. Used by HNSWIndex.search,
    DistributedHNSW.search, and the driver queries' artifact replays —
    so the scoring plan exists exactly once."""
    from comet_spark.functions.vector import distance as dist_fn

    e = docs.select(
        F.col(id_col).cast("bigint").alias("id"),
        to_double_array(vec_col).alias("v"),
    )
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    score = dist_fn(metric, F.col("v"), qlit)
    if round_to is not None:
        score = F.round(score, round_to)
    scored = e.join(F.broadcast(cand), "id", "left_semi").select(
        "id", score.alias("score")
    )
    return topk(scored, [F.col("score").asc(), F.col("id").asc()], k)


class DistributedHNSW:
    """Per-partition HNSW sub-graphs (SURVEY A3 option c) — the build
    path with NO driver collect and NO row cap.

    Build: one deterministic hash-repartition on id (slices are random,
    which is exactly what union-of-top-k wants), then each partition
    builds a standard :class:`HNSWIndex` over its own rows inside
    ``mapInPandas`` and emits it as one pickled row — the graph table is
    ``(part, n_rows, graph binary)``, one row per partition, cacheable
    and persistable like any DataFrame.

    Search: broadcast the query to every sub-graph row; each walks ITS
    graph (microseconds — sub-graphs are 1/P of the corpus) and emits
    its beam's candidate ids; exact scoring + global top-k then run as
    the SAME Spark plan the driver-built index uses (semi-join pruned
    scan), so scores are bit-identical to the flat scan on the
    candidate set and the DuckDB artifact-oracle scheme applies
    unchanged.

    Recall: the global top-k is contained in the union of per-slice
    top-k by construction; each slice's graph is small (n/P nodes), and
    small graphs at the same M/ef have *higher* beam recall, so the
    union meets the single-graph recall envelope. Validated like the
    reference validates HNSW — recall-vs-flat + a monotone ef ladder
    (``hnsw_index_search_test.go:992-1150``)."""

    def __init__(self, graphs: DataFrame, *, m: int, metric: str,
                 next_part: int | None = None):
        self.graphs = graphs
        self.m = m
        self.metric = metric
        # upper bound on used sub-graph part ids; lazily computed for
        # load()ed tables, tracked across add_batch so appends don't pay
        # a max() job per call
        self._next_part = next_part

    @classmethod
    def build(
        cls, docs: DataFrame, *, id_col: str = "id", vec_col: str = "vector",
        m: int = 8, ef_construction: int = 100, seed: int = 42,
        metric: str = "l2", num_partitions: int | None = None,
        cache: bool = True,
    ) -> "DistributedHNSW":
        if metric not in ("l2", "l2sq", "cosine"):
            raise ValueError(
                f"HNSW supports metrics l2/l2sq/cosine, got {metric!r}"
            )
        spark = docs.sparkSession
        p = num_partitions or spark.sparkContext.defaultParallelism
        e = docs.select(
            F.col(id_col).cast("bigint").alias("id"),
            to_double_array(vec_col).alias("v"),
        ).repartition(p, "id")

        def build_part(batches):
            import pickle

            import pandas as pd
            from pyspark import TaskContext

            ids: list[int] = []
            vecs: list[list[float]] = []
            for pdf in batches:
                ids.extend(int(x) for x in pdf["id"])
                vecs.extend(pdf["v"])
            if not ids:
                return
            part = TaskContext.get().partitionId()
            aids = np.asarray(ids, dtype=np.int64)
            mat = np.asarray(list(vecs), dtype=np.float64)
            order = np.argsort(aids, kind="stable")  # insertion = id order
            # per-partition seed keeps rebuilds deterministic under the
            # deterministic hash partitioning
            g = HNSWIndex(
                aids[order], mat[order], m=m,
                ef_construction=ef_construction,
                seed=seed * 1_000_003 + part, metric=metric,
            )
            blob = pickle.dumps(
                {
                    "ids": g.ids, "mat": g.mat, "m": g.m,
                    "ef_construction": g.ef_construction, "metric": g.metric,
                    "_tmat": g._tmat, "levels": g.levels,
                    "max_level": g.max_level, "adj": g.adj, "entry": g.entry,
                },
                protocol=4,
            )
            yield pd.DataFrame(
                {"part": [part], "n_rows": [len(ids)], "graph": [blob]}
            )

        graphs = e.mapInPandas(build_part, "part int, n_rows bigint, graph binary")
        if cache:
            graphs = graphs.cache()
        return cls(graphs, m=m, metric=metric, next_part=p)

    def add_batch(
        self, new_docs: DataFrame, *, id_col: str = "id", vec_col: str = "vector",
        ef_construction: int = 100, seed: int = 43,
        num_partitions: int | None = None, cache: bool = True,
        unpersist_old: bool = False,
    ) -> "DistributedHNSW":
        """Incremental layout maintenance for a corpus growing via append
        — the graph twin of ``IVFIndex.refresh`` (the reference simply
        Add()s into its mutable in-memory graph, ``hnsw_index.go``; an
        immutable distributed graph instead gains NEW sub-graphs):
        builds sub-graphs over ONLY the new batch (cost ∝ batch size,
        not corpus) and unions them into the graph table under fresh
        partition ids. Search already unions every sub-graph's beam, so
        the top-k containment argument is unchanged and new docs are
        immediately searchable. Many small appends degrade only the
        constant factor (more graph rows to deserialize per query) —
        rebuild via :meth:`build` at compaction when the sub-graph count
        drifts well past the original partitioning, exactly when
        ``DocumentStore.compact(recluster=...)`` refreshes the IVF
        layout. Ingest loops that drop the old handle after each call
        should pass ``unpersist_old=True`` to release the superseded
        cache (see the inline note for why it is not the default)."""
        if unpersist_old and not cache:
            raise ValueError(
                "unpersist_old=True requires cache=True: without a cached "
                "union to materialize through, dropping the parent cache "
                "would force a full sub-graph rebuild on the next use"
            )
        if self._next_part is None:  # load()ed table: one tiny max() job
            base = self.graphs.agg(F.max("part").alias("p")).first()["p"]
            self._next_part = int(base) + 1 if base is not None else 0
        offset = self._next_part
        p = num_partitions or new_docs.sparkSession.sparkContext.defaultParallelism
        fresh = DistributedHNSW.build(
            new_docs, id_col=id_col, vec_col=vec_col, m=self.m,
            ef_construction=ef_construction, seed=seed, metric=self.metric,
            num_partitions=p, cache=False,
        )
        shifted = fresh.graphs.withColumn(
            "part", (F.col("part") + F.lit(offset)).cast("int")
        )
        merged = self.graphs.unionByName(shifted)
        if cache:
            merged = merged.cache()
            merged.count()  # materialize THROUGH the still-cached parent
            if unpersist_old:
                # opt-in for ingest loops that DROP the old handle after
                # each call — without it, N appends pin every
                # intermediate union (O(N^2) blob copies) in executor
                # storage. NOT the default because unpersisting the
                # receiver's cache silently degrades the superseded
                # handle: its next use recomputes sub-graphs from the
                # SOURCE, which is both expensive and wrong if the
                # source was compacted/rewritten since build.
                try:
                    lvl = self.graphs.storageLevel
                    if lvl.useMemory or lvl.useDisk:
                        self.graphs.unpersist()
                except Exception:
                    pass  # best-effort: nothing cached to drop
        return DistributedHNSW(
            merged, m=self.m, metric=self.metric, next_part=offset + p
        )

    def save(self, path: str) -> None:
        """A8 sink: the graph table IS the format — one parquet row per
        sub-graph, plus a meta row so load() can't silently score with a
        mismatched metric."""
        self.graphs.write.mode("overwrite").parquet(f"{path}/graphs.parquet")
        spark = self.graphs.sparkSession
        local_frame(
            spark, [(self.m, self.metric)], "m int, metric string"
        ).repartition(1).write.mode("overwrite").parquet(f"{path}/meta.parquet")

    @classmethod
    def load(cls, spark, path: str) -> "DistributedHNSW":
        meta = spark.read.parquet(f"{path}/meta.parquet").first()
        return cls(
            spark.read.parquet(f"{path}/graphs.parquet"),
            m=int(meta["m"]), metric=meta["metric"],
        )

    def candidates(self, qvec: list[float], *, ef_search: int = 50) -> DataFrame:
        """Distributed traversal → (id) union of every sub-graph's beam."""
        return self.candidates_batch([(0, qvec)], ef_search=ef_search).select("id")

    def candidates_batch(
        self, queries: list[tuple[int, list[float]]], *, ef_search: int = 50
    ) -> DataFrame:
        """ONE pass over the graph table for ALL queries → (qid, id):
        each sub-graph deserializes once and is walked per query —
        the batch shape that keeps Q queries from scanning the graph
        table Q times."""
        qs = [(int(qid), [float(x) for x in qv]) for qid, qv in queries]
        ef = max(int(ef_search), 1)

        def search_part(batches):
            import pandas as pd

            for pdf in batches:
                qids: list[int] = []
                ids: list[int] = []
                for blob in pdf["graph"]:
                    g = _subgraph_from_blob(bytes(blob))
                    # clamp the beam to THIS sub-graph's node count —
                    # a delete-inflated ef (mostly absent from this
                    # sub-graph) must not heap-walk past "scan
                    # everything here" (ADVICE r09; the per-partition
                    # twin of the driver path's len(self.ids) cap)
                    g_ef = min(ef, max(len(g.ids), 1))
                    for qid, qv in qs:
                        got = g.search_candidates(qv, ef_search=g_ef)
                        qids.extend([qid] * len(got))
                        ids.extend(got)
                yield pd.DataFrame(
                    {
                        "qid": pd.Series(qids, dtype="int64"),
                        "id": pd.Series(ids, dtype="int64"),
                    }
                )

        return self.graphs.mapInPandas(search_part, "qid bigint, id bigint")

    def search(
        self, docs: DataFrame, qvec: list[float], *, k: int = 10,
        ef_search: int = 50, id_col: str = "id", vec_col: str = "vector",
        round_to: int | None = 6, artifacts_path: str | None = None,
        exclude_ids: DataFrame | None = None, exclude_count: int | None = None,
    ) -> DataFrame:
        """Union-of-beams candidates → the SAME distributed exact-scoring
        plan as :meth:`HNSWIndex.search` → ``(id, score)``.
        ``exclude_ids``: soft-delete skip with HNSWIndex.search's
        traversal-preserving semantics (deleted nodes still route the
        per-partition beams; they drop at the candidate anti-join), and
        the same exclusion-count beam inflation — clamped inside each
        traversal task to that sub-graph's node count — so heavy
        deletion can't silently shrink the live result set below k while
        a store-scale delete vector can't blow up any one beam. Pass
        ``exclude_count`` when the same exclusion DataFrame serves many
        queries: it skips the per-query count job (the anti-join still
        evaluates the exclusion's lineage once — broadcast-small by the
        exclude contract)."""
        spark = docs.sparkSession
        cand = self.candidates(
            qvec,
            ef_search=_inflated_ef(
                ef_search, k, exclude_ids, exclude_count=exclude_count
            ),
        ).distinct()
        if exclude_ids is not None:
            cand = cand.join(
                F.broadcast(exclude_ids.select(F.col(id_col).alias("id"))),
                "id", "left_anti",
            )
        if artifacts_path is not None:
            cand.repartition(1).write.mode("overwrite").parquet(
                f"{artifacts_path}/candidates.parquet"
            )
            cand = spark.read.parquet(f"{artifacts_path}/candidates.parquet")
        return score_candidates(
            docs, cand, qvec, metric=self.metric, k=k, id_col=id_col,
            vec_col=vec_col, round_to=round_to,
        )

    def search_batch(
        self, docs: DataFrame, queries: DataFrame, *, k: int = 10,
        ef_search: int = 50, id_col: str = "id", vec_col: str = "vector",
        qid_col: str = "qid", qvec_col: str = "qvec", round_to: int | None = 6,
    ) -> DataFrame:
        """Batch distributed-graph search → (qid, id, score): ONE
        mapInPandas pass over the graph table carries ALL query vectors
        (each sub-graph deserializes once and is walked per query), then
        ONE scoring join + per-query top-k ranks every query — the same
        batch shape as HNSWIndex.search_batch, without scanning the
        graph table Q times."""
        from comet_spark.functions.vector import distance as dist_fn
        from comet_spark.operators.topk import topk_per_group

        spark = docs.sparkSession
        qrows = queries.select(
            F.col(qid_col).alias("qid"), to_double_array(qvec_col).alias("qv")
        ).collect()
        if not qrows:
            raise ValueError("search_batch needs at least one query")
        qvec_rows = [(r["qid"], [float(x) for x in r["qv"]]) for r in qrows]
        cand = self.candidates_batch(
            qvec_rows, ef_search=max(ef_search, k)
        ).distinct()
        qvecs = local_frame(spark, qvec_rows, "qid bigint, qv array<double>")
        e = docs.select(
            F.col(id_col).cast("bigint").alias("id"),
            to_double_array(vec_col).alias("v"),
        )
        score = dist_fn(self.metric, F.col("v"), F.col("qv"))
        if round_to is not None:
            score = F.round(score, round_to)
        scored = (
            e.join(F.broadcast(cand), "id")
            .join(F.broadcast(qvecs), "qid")
            .select("qid", "id", score.alias("score"))
        )
        return topk_per_group(
            scored, ["qid"], [F.col("score").asc(), F.col("id").asc()], k
        ).select("qid", "id", "score")
