"""Deterministic distributed Lloyd's k-means.

Mirrors the reference's trainer semantics (``clustering.go:100-243``):
- init: every (n//k)-th vector *in id order* (uniform spacing, no RNG —
  ``clustering.go:146-162``), clamped to the last row
- assignment: argmin over centroids, first centroid wins ties
- update: mean of assigned vectors; an empty cluster keeps its old centroid
- stop: assignments stable (equivalently: centroids reach a fixpoint) or
  ``max_iter`` (default 20, ``clustering.go:13-15``)

Distributed shape (the same one MLlib uses internally): centroids are a
k×d numpy array on the driver (tiny), broadcast each iteration; one
``mapInPandas`` pass per iteration computes BLAS argmin assignments *and*
per-cluster partial sums inside each task, so the per-iteration shuffle is
only k×d partials per partition — never the vectors themselves. MLlib
KMeans remains the drop-in alternative when reference-deterministic
centroids aren't required.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from comet_spark.functions.vector import to_double_array
from comet_spark.session import local_frame

__all__ = ["kmeans_train", "kmeans_train_grouped", "assign_clusters"]

# corpora up to this many matrix cells (rows × dim ≈ 64 MB float64) train
# driver-side: identical init/update/tie-break math, but 20 Lloyd
# iterations cost microseconds of numpy instead of 20 Python-worker job
# round-trips (~0.25 s each locally). The reference trains fully in-memory
# always; we keep the distributed path for corpora that don't fit.
#
# Determinism caveat: each path is bit-deterministic run-to-run, but the
# two paths are NOT bit-identical to each other — float addition is not
# associative, and the driver path accumulates in row order while the
# distributed path merges per-partition partials in canonical sort order.
# A corpus crossing the 8M-cell boundary can therefore see final-ULP
# centroid differences (which may flip exact argmin ties downstream).
# Pin the path explicitly if cross-scale bit-stability matters.
DRIVER_TRAIN_CELLS = 8_000_000


def _lloyd(
    mat: np.ndarray, centroids: np.ndarray, metric: str, max_iter: int
) -> np.ndarray:
    """In-memory Lloyd iterations — the same update rule the distributed
    pass computes (argmin first-wins, mean update, empty keeps old,
    fixpoint early-exit)."""
    k = centroids.shape[0]
    for _ in range(max_iter):
        a = np.argmin(_dist_block(mat, centroids, metric), axis=1)
        sums = np.zeros_like(centroids)
        counts = np.zeros(k, dtype=np.int64)
        np.add.at(sums, a, mat)
        np.add.at(counts, a, 1)
        new = centroids.copy()
        nz = counts > 0
        new[nz] = sums[nz] / counts[nz, None]
        if np.array_equal(new, centroids):
            break
        centroids = new
    return centroids


def _dist_block(mat: np.ndarray, cents: np.ndarray, metric: str) -> np.ndarray:
    """(n×d, k×d) → n×k distance matrix. l2sq == l2 for argmin purposes."""
    if metric in ("l2", "l2sq"):
        # |a-b|^2 = |a|^2 - 2ab + |b|^2
        d = (
            (mat * mat).sum(axis=1)[:, None]
            - 2.0 * (mat @ cents.T)
            + (cents * cents).sum(axis=1)[None, :]
        )
        return np.maximum(d, 0.0)
    if metric == "cosine":
        # zero norms (zero vectors/centroids) guard to 1.0: the dot is 0,
        # sim = 0, distance = 1.0 — defined, no NaN poisoning the argmin
        an = np.linalg.norm(mat, axis=1)
        cn = np.linalg.norm(cents, axis=1)
        sim = (mat @ cents.T) / np.outer(
            np.where(an == 0, 1.0, an), np.where(cn == 0, 1.0, cn)
        )
        return 1.0 - np.clip(sim, -1.0, 1.0)
    raise ValueError(f"unsupported kmeans metric {metric!r}")


def kmeans_train(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "id",
    vec_col: str = "vector",
    metric: str = "l2sq",
    max_iter: int = 20,
) -> np.ndarray:
    """Train and return the k×d centroid matrix (float64)."""
    spark = df.sparkSession
    # NULL vectors (mergeSchema'd store views) are dropped at ingestion —
    # the same guard every scoring path applies; training on NULL crashes
    # the kernel and a NULL row carries no geometry to learn from
    e = (
        df.select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .cache()
    )
    n = e.count()
    if n == 0 or k <= 0:
        raise ValueError("kmeans needs rows and k > 0")
    k = min(k, n)

    # uniform-spacing init over id order
    step = max(n // k, 1)
    wanted = sorted({min(j * step, n - 1) + 1 for j in range(k)})  # 1-based rn

    dim = len(e.select("v").first()["v"])
    if n * dim <= DRIVER_TRAIN_CELLS:
        rows = e.orderBy("id").collect()
        mat = np.array([r["v"] for r in rows], dtype=np.float64)
        centroids = mat[[rn - 1 for rn in wanted]]
        while centroids.shape[0] < k:
            centroids = np.vstack([centroids, centroids[-1]])
        e.unpersist()
        return _lloyd(mat, centroids, metric, max_iter)

    # Two-pass global rank — a bare Window.orderBy("id") would funnel every
    # row through ONE task to number them. Instead: range-partition by id
    # (partition p holds strictly smaller ids than p+1), count each
    # partition (tiny collect), turn the counts into cumulative offsets,
    # and then a partition-LOCAL row_number plus the partition's offset is
    # the exact global rank. Both passes are fully parallel.
    parts = e.repartitionByRange(F.col("id")).withColumn(
        "__pid", F.spark_partition_id()
    )
    parts.persist()
    pc = {
        r["__pid"]: r["n"]
        for r in parts.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(pc):
        offsets[pid] = acc
        acc += pc[pid]
    off_df = local_frame(
        spark, [(int(p), int(o)) for p, o in offsets.items()], "__pid int, __off bigint"
    )
    wl = Window.partitionBy("__pid").orderBy("id")
    init_rows = (
        parts.withColumn("__lrn", F.row_number().over(wl))
        .join(F.broadcast(off_df), "__pid")
        .withColumn("__rn", F.col("__lrn") + F.col("__off"))
        .filter(F.col("__rn").isin(wanted))
        .orderBy("__rn")
        .collect()
    )
    parts.unpersist()
    centroids = np.array([r["v"] for r in init_rows], dtype=np.float64)
    # duplicates of the clamped last index collapse in the set; pad if needed
    while centroids.shape[0] < k:
        centroids = np.vstack([centroids, centroids[-1]])

    for _ in range(max_iter):
        bc = spark.sparkContext.broadcast(centroids)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cents = bc.value
            kk, dd = cents.shape
            sums = np.zeros((kk, dd))
            counts = np.zeros(kk, dtype=np.int64)
            for pdf in batches:
                mat = np.array(pdf["v"].tolist(), dtype=np.float64)
                if len(mat) == 0:
                    continue
                a = np.argmin(_dist_block(mat, cents, metric), axis=1)
                np.add.at(sums, a, mat)
                np.add.at(counts, a, 1)
            nz = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {
                    "cluster_id": nz.astype(np.int64),
                    "psum": list(sums[nz]),
                    "pcount": counts[nz],
                }
            )

        rows = e.mapInPandas(
            partials, "cluster_id bigint, psum array<double>, pcount bigint"
        ).collect()
        # canonical merge order → centroids are bit-stable run-to-run for a
        # fixed partitioning (float addition is not associative; an
        # arrival-order merge would make them nondeterministic)
        rows.sort(key=lambda r: (r["cluster_id"], r["pcount"], tuple(r["psum"])))
        sums = np.zeros_like(centroids)
        counts = np.zeros(centroids.shape[0], dtype=np.int64)
        for r in rows:
            sums[r["cluster_id"]] += np.array(r["psum"])
            counts[r["cluster_id"]] += r["pcount"]
        new = centroids.copy()  # empty clusters keep old centroid
        nz = counts > 0
        new[nz] = sums[nz] / counts[nz, None]
        bc.unpersist()
        if np.array_equal(new, centroids):
            break
        centroids = new

    e.unpersist()
    return centroids


def kmeans_train_grouped(
    df: DataFrame,
    k: int,
    *,
    group_col: str = "grp",
    id_col: str = "id",
    vec_col: str = "vector",
    metric: str = "l2sq",
    max_iter: int = 20,
) -> dict[int, np.ndarray]:
    """Train one independent k-means per group in a SHARED iteration loop.

    Semantically identical to calling :func:`kmeans_train` per group (same
    init, same updates) but every iteration is ONE distributed pass over
    all groups instead of one per group — this is what makes PQ training
    (M independent subspace clusterings, ``pq_index.go:180-247``) cost
    ~max_iter jobs instead of ~M·max_iter. Returns {group: k×d centroids}.
    """
    spark = df.sparkSession
    e = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(group_col).cast("bigint").alias("g"),
        F.col(id_col).alias("id"),
        to_double_array(vec_col).alias("v"),
    ).cache()
    n_total = e.count()
    first = e.select("v").first()
    if first is not None and n_total * len(first["v"]) <= DRIVER_TRAIN_CELLS:
        # driver-side fast path, same rule set (see kmeans_train)
        by_g: dict[int, list] = {}
        for r in e.orderBy("g", "id").collect():
            by_g.setdefault(int(r["g"]), []).append(r["v"])
        out: dict[int, np.ndarray] = {}
        for g, vecs in by_g.items():
            mat = np.array(vecs, dtype=np.float64)
            n = len(mat)
            kk = min(k, n)
            step = max(n // kk, 1)
            rns = sorted({min(j * step, n - 1) for j in range(kk)})
            c = mat[rns]
            while c.shape[0] < kk:
                c = np.vstack([c, c[-1]])
            out[g] = _lloyd(mat, c, metric, max_iter)
        e.unpersist()
        return out

    # per-group uniform-spacing init over id order
    w = Window.partitionBy("g").orderBy("id")
    counts = {r["g"]: r["n"] for r in e.groupBy("g").agg(F.count("*").alias("n")).collect()}
    wanted: dict[int, list[int]] = {}
    for g, n in counts.items():
        kk = min(k, n)
        step = max(n // kk, 1)
        wanted[g] = sorted({min(j * step, n - 1) + 1 for j in range(kk)})
    wanted_df = local_frame(
        spark, [(g, rn) for g, rns in wanted.items() for rn in rns], "g bigint, __rn int"
    )
    init = (
        e.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(wanted_df), ["g", "__rn"])
        .collect()
    )
    by_group: dict[int, list] = {}
    for r in init:  # one pass, not O(rows·groups)
        by_group.setdefault(r["g"], []).append(r)
    cents: dict[int, np.ndarray] = {}
    for g in wanted:
        rows = sorted(by_group.get(g, []), key=lambda r: r["__rn"])
        c = np.array([r["v"] for r in rows], dtype=np.float64)
        while c.shape[0] < min(k, counts[g]):
            c = np.vstack([c, c[-1]])
        cents[g] = c

    for _ in range(max_iter):
        bc = spark.sparkContext.broadcast(cents)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cc = bc.value
            acc_sum: dict[int, np.ndarray] = {}
            acc_cnt: dict[int, np.ndarray] = {}
            for pdf in batches:
                for g, sub in pdf.groupby("g"):
                    g = int(g)
                    mat = np.array(sub["v"].tolist(), dtype=np.float64)
                    a = np.argmin(_dist_block(mat, cc[g], metric), axis=1)
                    if g not in acc_sum:
                        acc_sum[g] = np.zeros_like(cc[g])
                        acc_cnt[g] = np.zeros(cc[g].shape[0], dtype=np.int64)
                    # one vectorized scatter-add per group, no per-cluster loop
                    np.add.at(acc_sum[g], a, mat)
                    np.add.at(acc_cnt[g], a, 1)
            if acc_sum:
                out_g, out_c, out_s, out_n = [], [], [], []
                for g, s in acc_sum.items():
                    nz = np.nonzero(acc_cnt[g])[0]
                    out_g.extend([g] * len(nz))
                    out_c.extend(int(c) for c in nz)
                    out_s.extend(list(s[nz]))
                    out_n.extend(int(x) for x in acc_cnt[g][nz])
                yield pd.DataFrame(
                    {"g": out_g, "cluster_id": out_c, "psum": out_s, "pcount": out_n}
                )

        rows = e.mapInPandas(
            partials, "g bigint, cluster_id bigint, psum array<double>, pcount bigint"
        ).collect()
        # canonical merge order (same rationale as kmeans_train)
        rows.sort(key=lambda r: (r["g"], r["cluster_id"], r["pcount"], tuple(r["psum"])))
        new = {g: c.copy() for g, c in cents.items()}
        sums = {g: np.zeros_like(c) for g, c in cents.items()}
        cnts = {g: np.zeros(c.shape[0], dtype=np.int64) for g, c in cents.items()}
        for r in rows:
            sums[r["g"]][r["cluster_id"]] += np.array(r["psum"])
            cnts[r["g"]][r["cluster_id"]] += r["pcount"]
        for g in new:
            nz = cnts[g] > 0
            new[g][nz] = sums[g][nz] / cnts[g][nz, None]
        bc.unpersist()
        if all(np.array_equal(new[g], cents[g]) for g in cents):
            break
        cents = new

    e.unpersist()
    return cents


def assign_clusters(
    df: DataFrame,
    centroids: np.ndarray,
    *,
    id_col: str = "id",
    vec_col: str = "vector",
    metric: str = "l2sq",
) -> DataFrame:
    """Return ``(id, vector, cluster_id)`` — the write-time assignment step
    (reference ``clustering.go:259-272`` FindNearestCentroidIndex)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf in batches:
            mat = np.array(pdf["v"].tolist(), dtype=np.float64)
            if len(mat) == 0:
                yield pd.DataFrame({"id": [], "v": [], "cluster_id": []})
                continue
            a = np.argmin(_dist_block(mat, cents, metric), axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"], "v": pdf["v"], "cluster_id": a.astype(np.int64)}
            )

    e = df.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    ).filter(F.col("v").isNotNull())  # NULL vectors (mergeSchema) are dropped,
    # not crashed on — the column-preserving twin keeps them with NULL ids
    out = e.mapInPandas(assign, "id bigint, v array<double>, cluster_id bigint")
    return out.select(
        F.col("id").alias(id_col), F.col("v").alias(vec_col), "cluster_id"
    )


def assign_clusters_col(
    df: DataFrame,
    centroids: np.ndarray,
    *,
    vec_col: str = "vector",
    metric: str = "l2sq",
) -> DataFrame:
    """Like :func:`assign_clusters` but PRESERVES every input column:
    ``cluster_id`` is added as a scalar Arrow-batched pandas UDF over the
    vector column alone — the shape layout maintenance needs (re-assign
    during a store rewrite without dropping payload columns or paying a
    join-back shuffle)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf("bigint")
    def _cid(v: pd.Series) -> pd.Series:
        cents = bc.value
        out = pd.Series([None] * len(v), dtype="Int64")
        # NULL vectors (mergeSchema'd stores mix vector-less segments in)
        # keep a NULL cluster_id instead of crashing the Arrow worker —
        # the same posture as knn's isNotNull guard
        mask = v.notna()
        if mask.any():
            mat = np.array(v[mask].tolist(), dtype=np.float64)
            out[mask] = np.argmin(_dist_block(mat, cents, metric), axis=1)
        return out

    return df.withColumn("cluster_id", _cid(to_double_array(vec_col)))
