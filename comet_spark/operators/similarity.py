"""All-pairs / top-k vector similarity — the pipeline-scale ANN operators.

Three strategies, one semantic (cosine similarity, DOUBLE math, ROUND 6):

- ``cosine_pairs_expr``: pure Catalyst expression cross-join. Zero Python,
  but Spark's higher-order array functions are interpreted per element, so
  the O(N²·d) inner loop is slow. Correct everywhere; use for small N or
  when Python workers are unavailable.
- ``cosine_pairs_blocked``: Arrow-batched ``mapInPandas`` block-nested-loop
  join — each task multiplies its Arrow batch of A (B_rows × d numpy
  float64) against a broadcast right-hand matrix with BLAS, ~100× the
  expression path. The broadcast side must fit in executor memory
  (~N·d·8 bytes) — a serving-path kernel for small corpora only.
- ``cosine_pairs_grid``: the scale path for exact all-pairs — block-
  partitioned grid join; each task BLAS-multiplies one (A-block, B-block)
  cell. No driver collect, no corpus broadcast; per-task memory is bounded
  by ``block_rows`` regardless of N.
- ``lsh_bucket_pairs``: random-hyperplane (SimHash-family) LSH banding —
  candidate pairs only form inside a (band, signature) bucket, turning the
  O(N²) join into a groupBy + within-bucket join; the exact kernel then
  verifies candidates. Recall is tunable via (n_planes, bands); this is the
  documented scale path and is validated by recall-vs-bruteforce tests,
  mirroring how the reference validates its approximate indexes
  (hnsw_index_search_test.go:992-1150).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from comet_spark.functions.vector import cosine_distance, to_double_array
from comet_spark.session import local_frame

__all__ = [
    "cosine_pairs_expr",
    "cosine_pairs_blocked",
    "cosine_pairs_grid",
    "lsh_bucket_pairs",
    "lsh_ann_topk",
    "semantic_dedup_pairs",
]

_OUT_SCHEMA = "a_id bigint, b_id bigint, cos_sim double"


def _round_half_up(a: np.ndarray, decimals: int) -> np.ndarray:
    """Round like Spark's ROUND / DuckDB (HALF_UP, ties away from zero)
    instead of numpy's default half-to-even — keeps the BLAS kernels'
    boundary behavior aligned with the expression path and the SQL
    oracles (a tie like 1/128 = 0.0078125 rounds to .007813 in both
    engines; np.round would give .007812)."""
    f = 10.0 ** decimals
    return np.sign(a) * np.floor(np.abs(a) * f + 0.5) / f


def _blas_cosine(a_mat: np.ndarray, b_mat: np.ndarray, round_to: int) -> np.ndarray:
    """The ONE BLAS cosine block all Python kernels share: dot / norms,
    clip to [-1, 1], HALF_UP round — matching the Catalyst expression
    path's rounding MODE. Residual boundary divergence, by design:
    Spark's ROUND on doubles rounds the value's shortest decimal
    representation (BigDecimal.valueOf goes through Double.toString)
    while this kernel rounds the scaled BINARY double — a value whose
    printed form ends in '…5' but whose binary image sits just below
    the .5 boundary (e.g. 0.5705875) rounds up in the expr path and
    down here. Bit-identity with the expr kernel is NOT part of the
    contract; callers needing it must rescore through the expression
    path."""
    sims = (a_mat @ b_mat.T) / np.outer(
        np.linalg.norm(a_mat, axis=1), np.linalg.norm(b_mat, axis=1)
    )
    np.clip(sims, -1.0, 1.0, out=sims)
    return _round_half_up(sims, round_to)


def cosine_pairs_expr(
    emb: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
    min_sim: float = 0.4, round_to: int = 6,
) -> DataFrame:
    """Reference implementation: Catalyst-only cross join a_id < b_id."""
    e = emb.select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("v"))
    a = e.select(F.col("id").alias("a_id"), F.col("v").alias("va"))
    b = e.select(F.col("id").alias("b_id"), F.col("v").alias("vb"))
    sim = F.round(F.lit(1.0) - cosine_distance(F.col("va"), F.col("vb")), round_to)
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= min_sim)
    )


def cosine_pairs_blocked(
    emb: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
    min_sim: float = 0.4, round_to: int = 6, serving: bool = False,
) -> DataFrame:
    """BLAS block-nested-loop all-pairs join (broadcast right side).

    SERVING-SCOPED, not a pipeline operator: the whole corpus is
    collected to the driver and broadcast, so it is only valid for
    corpora that fit one executor's memory (re-ranking a shortlist, test
    fixtures). The scale paths own this job elsewhere —
    :func:`cosine_pairs_grid` (distributed tiling, no collect) and
    :func:`lsh_bucket_pairs` (banded pruning). ``serving=True`` is a
    required acknowledgment of that scope; without it the call fails
    fast instead of silently OOMing the driver at corpus scale."""
    if not serving:
        raise ValueError(
            "cosine_pairs_blocked collects and broadcasts the whole corpus "
            "— serving-scoped only. Pass serving=True for a driver-sized "
            "corpus, or use cosine_pairs_grid / lsh_bucket_pairs at scale."
        )
    spark = emb.sparkSession
    rows = emb.select(id_col, to_double_array(vec_col).alias("v")).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((ids, mat))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_mat = bc.value
        for pdf in batches:
            a_ids = pdf["id"].to_numpy(dtype=np.int64)
            a_mat = np.array(pdf["v"].tolist(), dtype=np.float64)
            # sim = clamp(dot/(|a||b|)) — same formula as the expr path
            sims = _blas_cosine(a_mat, b_mat, round_to)
            ai, bi = np.nonzero((sims >= min_sim) & (a_ids[:, None] < b_ids[None, :]))
            yield pd.DataFrame(
                {"a_id": a_ids[ai], "b_id": b_ids[bi], "cos_sim": sims[ai, bi]}
            )

    left = emb.select(
        F.col(id_col).cast("bigint").alias("id"), to_double_array(vec_col).alias("v")
    )
    return left.mapInPandas(compute, _OUT_SCHEMA)


def cosine_pairs_grid(
    emb: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
    min_sim: float = 0.4, round_to: int = 6,
    block_rows: int = 8192, nblocks: int | None = None,
) -> DataFrame:
    """Block-partitioned grid all-pairs join — fully distributed, NO driver
    collect and NO broadcast of the corpus.

    Rows hash into ``nblocks`` disjoint blocks; the pair space is tiled into
    grid cells (i, j), i ≤ j. Each row is tagged into every cell where it
    participates (as the A side of row-block i, and the B side of
    column-block j), one shuffle keyed on the cell id, and each cell runs
    the same BLAS block kernel as ``cosine_pairs_blocked`` over just its two
    blocks. Memory per task = 2 · block_rows · d · 8 bytes regardless of
    corpus size; replication factor = nblocks per side — at 10⁸ rows with
    block_rows 8192 that's ~12k blocks, so the grid is paired with LSH
    pre-bucketing (``lsh_bucket_pairs``) to prune cells; here it IS the
    exact path and every cell is evaluated.

    Exactness: blocks are disjoint, each unordered pair {x, y} lands in
    exactly one cell (block(x), block(y)) sorted; the diagonal cell dedups
    by a_id < b_id, off-diagonal output is (least, greatest). Same DOUBLE
    math / ROUND 6 as the expr path, so the DuckDB oracle is unchanged.
    """
    e = emb.select(
        F.col(id_col).cast("bigint").alias("id"), to_double_array(vec_col).alias("v")
    )
    if nblocks is None:
        n = e.count()
        nblocks = max(1, math.ceil(n / block_rows))
    blk = F.pmod(F.col("id"), F.lit(nblocks)).cast("int")
    base = e.withColumn("blk", blk)
    # A side: row-block i paired with every column block j ≥ i
    a_side = base.select(
        "id", "v",
        F.col("blk").alias("ci"),
        F.explode(F.sequence(F.col("blk"), F.lit(nblocks - 1))).alias("cj"),
        F.lit(0).alias("side"),
    )
    # B side: column-block j paired with every row block i ≤ j
    b_side = base.select(
        "id", "v",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("ci"),
        F.col("blk").alias("cj"),
        F.lit(1).alias("side"),
    )
    tagged = a_side.unionByName(b_side)

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ci, cj = int(key[0]), int(key[1])
        amask = pdf["side"].to_numpy() == 0
        A, B = pdf[amask], pdf[~amask]
        empty = pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []})
        if len(A) == 0 or len(B) == 0:
            return empty
        a_ids = A["id"].to_numpy(dtype=np.int64)
        b_ids = B["id"].to_numpy(dtype=np.int64)
        a_mat = np.array(A["v"].tolist(), dtype=np.float64)
        b_mat = np.array(B["v"].tolist(), dtype=np.float64)
        sims = _blas_cosine(a_mat, b_mat, round_to)
        mask = sims >= min_sim
        if ci == cj:  # same block on both sides: emit each pair once
            mask &= a_ids[:, None] < b_ids[None, :]
        ai, bi = np.nonzero(mask)
        if len(ai) == 0:
            return empty
        lo = np.minimum(a_ids[ai], b_ids[bi])
        hi = np.maximum(a_ids[ai], b_ids[bi])
        return pd.DataFrame({"a_id": lo, "b_id": hi, "cos_sim": sims[ai, bi]})

    return tagged.groupBy("ci", "cj").applyInPandas(kernel, _OUT_SCHEMA)


def _random_hyperplanes(n_planes: int, dim: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def lsh_bucket_pairs(
    emb: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
    min_sim: float = 0.4, round_to: int = 6,
    n_planes: int = 16, bands: int = 4, seed: int = 42, dim: int | None = None,
) -> DataFrame:
    """LSH-banded candidate generation + exact cosine verification.

    Signature = sign bits against ``n_planes`` random hyperplanes, split
    into ``bands``; a pair is a candidate iff some band matches. For
    cos θ ≥ min_sim the per-plane collision prob is 1 − θ/π; banding
    amplifies it. Candidates are verified with the exact expression, so
    precision is 1.0 and only recall is approximate.
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    planes = _random_hyperplanes(n_planes, dim, seed)
    rows_per_band = n_planes // bands

    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(planes)

    def signatures(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = bc.value
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["v"].tolist(), dtype=np.float64)
            bits = (mat @ pl.T) >= 0  # (n, n_planes)
            out_id, out_band, out_sig = [], [], []
            for b in range(bands):
                seg = bits[:, b * rows_per_band : (b + 1) * rows_per_band]
                sig = seg @ (1 << np.arange(rows_per_band, dtype=np.int64))
                out_id.append(ids)
                out_band.append(np.full(len(ids), b, dtype=np.int64))
                out_sig.append(sig)
            yield pd.DataFrame(
                {
                    "id": np.concatenate(out_id),
                    "band": np.concatenate(out_band),
                    "sig": np.concatenate(out_sig),
                }
            )

    e = emb.select(
        F.col(id_col).cast("bigint").alias("id"), to_double_array(vec_col).alias("v")
    )
    sigs = e.mapInPandas(signatures, "id bigint, band int, sig bigint")

    a = sigs.select(F.col("band").alias("ba"), F.col("sig").alias("sa"), F.col("id").alias("a_id"))
    b = sigs.select(F.col("band").alias("bb"), F.col("sig").alias("sb"), F.col("id").alias("b_id"))
    cand = (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("sa") == F.col("sb")) & (F.col("a_id") < F.col("b_id")))
        .select("a_id", "b_id")
        .distinct()
    )

    va = e.select(F.col("id").alias("a_id"), F.col("v").alias("va"))
    vb = e.select(F.col("id").alias("b_id"), F.col("v").alias("vb"))
    sim = F.round(F.lit(1.0) - cosine_distance(F.col("va"), F.col("vb")), round_to)
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .select("a_id", "b_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= min_sim)
    )


# (session, artifacts_path, query/config fingerprint) triples whose
# signature export already ran — the persisted sigs bake in the
# query-dependent band_hit column, so the query must be part of the key.
# The session key is the applicationId (stable for the app's lifetime),
# NOT id(spark): a GC'd session's reused address could alias a new
# session onto a stale memo and skip a needed re-export.
_LSH_WRITTEN: set[tuple[str, str, int]] = {*()}


def lsh_ann_topk(
    docs: DataFrame, qvec: list[float], *, k: int = 10,
    id_col: str = "id", vec_col: str = "vector", metric: str = "l2",
    n_planes: int = 60, bands: int = 4, band_bits: int = 4, seed: int = 42,
    ef: int = 0, n_probes: int = 0, round_to: int = 6,
    artifacts_path: str | None = None,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """HNSW-role approximate top-k (SURVEY.md A3): random-hyperplane LSH
    candidate generation + exact distance on candidates.

    Two decoupled signature roles (so the ef knob has HNSW-like effect):
    banding uses the first ``bands × band_bits`` planes — a doc is a
    candidate when any band signature matches the query's; the FULL
    ``n_planes``-bit signature (60 default: fits a signed bigint) ranks
    docs by Hamming distance to the query, and ``ef > 0`` pads the
    candidate set with the ef Hamming-nearest — exactly efSearch's role:
    a larger beam, monotonically more candidates, higher recall
    (recall-vs-ef ladder in RECALL.md; monotonicity is tested the way the
    reference tests HNSW's ef ladder, hnsw_index_search_test.go:992-1150
    and docs/INDEX.md:972-974). The plan is a pruned exact scan, so
    precision within the candidate set is 1.0.

    ``n_probes > 0`` enables multi-probe LSH (Lv et al., VLDB 2007):
    beyond the query's own band buckets, also probe the ``n_probes``
    cheapest bit-flip neighbor buckets across all bands — ranked by the
    summed squared hyperplane margins of the flipped bits, since a
    near neighbor most likely lands across the boundaries the query
    itself barely cleared. The probe set is computed driver-side from
    the QUERY alone (≤ bands·2^band_bits buckets enumerated) and checked
    inside the same signature kernel, so the doc-side plan is unchanged:
    one scan, no shuffle, higher recall per plane budget.

    ``exclude_ids``: soft-delete skip — anti-joined into the candidate
    set before the exact rescore (the same per-layout delete contract
    as IVF/PQ/IVFPQ/HNSW search).
    """
    from comet_spark.functions.vector import distance as dist_fn

    dim = len(qvec)
    planes = _random_hyperplanes(n_planes, dim, seed)
    if bands * band_bits > n_planes:
        raise ValueError("bands * band_bits must be <= n_planes")
    q = np.asarray(qvec, dtype=np.float64)
    proj = planes @ q
    qbits = proj >= 0
    weights = 1 << np.arange(band_bits, dtype=np.int64)
    qsigs = [
        int(qbits[b * band_bits : (b + 1) * band_bits] @ weights)
        for b in range(bands)
    ]
    qfull = int(qbits @ (1 << np.arange(n_planes, dtype=np.int64)))

    # per-band allowed bucket signatures: the query's own, plus (with
    # multi-probe) the n_probes globally-cheapest bit-flip neighbors
    allowed: dict[int, set[int]] = {b: {qsigs[b]} for b in range(bands)}
    if n_probes > 0:
        flips: list[tuple[float, int, int]] = []
        for b in range(bands):
            lo = b * band_bits
            seg_bits = qbits[lo : lo + band_bits]
            seg_marg = proj[lo : lo + band_bits]
            for mask in range(1, 1 << band_bits):
                idx = [i for i in range(band_bits) if (mask >> i) & 1]
                cost = float(sum(seg_marg[i] * seg_marg[i] for i in idx))
                flipped = seg_bits.copy()
                flipped[idx] = ~flipped[idx]
                flips.append((cost, b, int(flipped @ weights)))
        flips.sort()
        for _cost, b, sig in flips[:n_probes]:
            allowed[b].add(sig)

    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(planes)

    def signatures(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = bc.value
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["v"].tolist(), dtype=np.float64)
            bits = (mat @ pl.T) >= 0
            full = bits @ (1 << np.arange(pl.shape[0], dtype=np.int64))
            hit = np.zeros(len(ids), dtype=bool)
            for b in range(bands):
                seg = bits[:, b * band_bits : (b + 1) * band_bits]
                sigvals = seg @ weights
                for s in allowed[b]:
                    hit |= sigvals == s
            yield pd.DataFrame({"id": ids, "full_sig": full, "band_hit": hit})

    e = docs.select(
        F.col(id_col).cast("bigint").alias("id"), to_double_array(vec_col).alias("v")
    )
    sigs = e.mapInPandas(signatures, "id bigint, full_sig bigint, band_hit boolean")

    if artifacts_path is not None:
        # oracle-export hook: persist the per-doc signatures + the query's
        # full signature so a SQL oracle can replay candidate selection,
        # ef padding, and the exact rescore from the same artifacts.
        # Memoized per (session, path, query+config fingerprint) —
        # repeated executions of the SAME search read the already-written
        # table instead of recomputing signatures (mirrors _PROBE_WRITTEN
        # in the IVF/PQ query paths); a different query vector or LSH
        # config re-exports rather than silently reusing stale band_hits.
        key = (
            spark.sparkContext.applicationId,
            artifacts_path,
            hash((
                tuple(float(x) for x in qvec),
                n_planes, bands, band_bits, seed, n_probes,
            )),
        )
        if key not in _LSH_WRITTEN:
            sigs.write.mode("overwrite").parquet(f"{artifacts_path}/sigs.parquet")
            local_frame(spark, [(qfull,)], "qfull bigint").repartition(
                1
            ).write.mode("overwrite").parquet(f"{artifacts_path}/qmeta.parquet")
            _LSH_WRITTEN.add(key)
        sigs = spark.read.parquet(f"{artifacts_path}/sigs.parquet")

    cand = sigs.filter("band_hit").select("id")
    if ef > 0:
        ham = F.expr(f"bit_count(full_sig ^ CAST({qfull} AS BIGINT))")
        near = (
            sigs.select("id", ham.alias("h"))
            .orderBy(F.col("h").asc(), F.col("id").asc())
            .limit(ef)
            .select("id")
        )
        cand = cand.union(near).distinct()

    if exclude_ids is not None:
        # soft-delete skip (same contract as the IVF/PQ/HNSW layouts):
        # deleted docs drop from the candidate set before the exact
        # rescore, after bucket/beam selection — they neither appear nor
        # consume result slots
        cand = cand.join(
            F.broadcast(exclude_ids.select(F.col(id_col).alias("id"))),
            "id", "left_anti",
        )
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    score = dist_fn(metric, F.col("v"), qlit)
    if round_to is not None:
        score = F.round(score, round_to)
    scored = e.join(cand, "id", "left_semi").select("id", score.alias("score"))
    return scored.orderBy(F.col("score").asc(), F.col("id").asc()).limit(k)


def semantic_dedup_pairs(
    assigned: DataFrame, *, id_col: str = "id", vec_col: str = "vector",
    cluster_col: str = "cluster_id", min_sim: float = 0.95,
    round_to: int = 6, kernel: str = "blas",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    k-means-cluster the embedding space, then mine near-duplicate pairs
    ONLY within each cluster — the published recipe for web-scale
    semantic dedup, because the cluster id is a blocking key that
    confines the quadratic join to cluster populations (cost
    Σ_c |c|² instead of N²; cross-cluster near-dups are the documented,
    deliberately-accepted recall loss).

    ``assigned`` is any table carrying (id, vector, cluster) — e.g.
    ``IVFIndex.assign``'s output, so a corpus that already maintains an
    IVF layout gets semantic dedup for free off the same assignment.
    Returns ``(a_id, b_id, cos_sim)`` with cos_sim ≥ ``min_sim``.

    Spark shape: ONE shuffle keyed on the cluster column — never a
    cartesian, no driver collect. ``kernel="blas"`` (default) runs each
    cluster's pair block as an Arrow-batched numpy matmul
    (applyInPandas — the same kernel family as ``cosine_pairs_grid``,
    same DOUBLE/clip/ROUND-6 math, so the oracle is unchanged); memory
    per task is that cluster's |c|·d matrix, the quantity SemDeDup's
    clustering explicitly bounds. ``kernel="expr"`` is the zero-Python
    Catalyst equi-join for environments without Python workers."""
    e = assigned.select(
        F.col(cluster_col).alias("__c"),
        F.col(id_col).cast("bigint").alias("id"),
        to_double_array(vec_col).alias("v"),
    )
    if kernel == "expr":
        a = e.select("__c", F.col("id").alias("a_id"), F.col("v").alias("va"))
        b = e.select("__c", F.col("id").alias("b_id"), F.col("v").alias("vb"))
        sim = F.round(
            F.lit(1.0) - cosine_distance(F.col("va"), F.col("vb")), round_to
        )
        return (
            a.join(b, "__c")
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id", sim.alias("cos_sim"))
            .filter(F.col("cos_sim") >= min_sim)
        )
    if kernel != "blas":
        raise ValueError(f"unknown kernel {kernel!r}; 'blas' or 'expr'")

    def cluster_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []})
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        sims = _blas_cosine(mat, mat, round_to)
        ai, bi = np.nonzero((sims >= min_sim) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"a_id": ids[ai], "b_id": ids[bi], "cos_sim": sims[ai, bi]}
        )

    # NULL-cluster rows are UNASSIGNED — excluded on both kernels (the
    # expr equi-join drops them; filter explicitly here so the kernels
    # agree): an unassigned row has no blocking key to dedup within
    return (
        e.filter(F.col("__c").isNotNull())
        .groupBy("__c")
        .applyInPandas(cluster_kernel, _OUT_SCHEMA)
    )
