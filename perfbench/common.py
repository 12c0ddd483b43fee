"""Types and helpers the workloads share."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class Ctx:
    """What a workload gets: the session, its seed and budget, a scratch
    directory, and the tracing hooks (None when untraced)."""

    spark: object
    seed: int
    seconds: float
    smoke: bool
    tmp: Path
    tracer: object = None
    counters: object = None


@dataclass
class Outcome:
    """What a workload returns: operation counts, end-to-end values,
    per-request Spark counters by plan type (traced runs), extra
    per-layer values and human-readable notes."""

    attempted: int
    failed: int
    e2e: dict[str, float]
    plans: dict[str, list[dict]] = field(default_factory=dict)
    layer_extra: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)


def write_docs(docs, path: Path) -> Path:
    """Write a ``gen.Docs`` block as one parquet file in directory ``path``."""
    path.mkdir(parents=True)
    table = pa.table({
        "id": pa.array(docs.ids, pa.int64()),
        "vector": pa.array(list(docs.vectors), pa.list_(pa.float64())),
        "text": pa.array(docs.texts, pa.string()),
        "cat": pa.array(docs.cats, pa.int64()),
        "price": pa.array(docs.prices, pa.float64()),
        "lang": pa.array(docs.langs, pa.string()),
    })
    pq.write_table(table, path / "part-0.parquet")
    return path


def file_sizes(path) -> dict[str, int]:
    """``{file path: bytes}`` for every regular file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def du(*paths) -> int:
    """Bytes of every regular file under ``paths``."""
    return sum(sum(file_sizes(p).values()) for p in paths)


def cached_mb(spark) -> float:
    """Megabytes Spark holds in storage memory for cached data."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() for r in infos) / 1e6


def index_segments(ix_path) -> int:
    """Segments of a persisted BM25 index: one stats file per segment."""
    return sum(
        f.startswith("part-") and f.endswith(".parquet")
        for f in os.listdir(Path(ix_path) / "stats")
    )


def median_or_zero(xs: list[float]) -> float:
    """Median, or 0 for a sample a failed run left empty (such a run
    reports ``correct: false`` anyway)."""
    return statistics.median(xs) if xs else 0.0


def mean_or_zero(xs: list[float]) -> float:
    """Mean, or 0 for a sample a failed run left empty."""
    return statistics.fmean(xs) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q) - 1]


def request(ctx: Ctx, kind: str, rid: int, execute, plans: dict) -> tuple[list, float]:
    """Run one search request: ``execute()`` builds the DataFrame and the
    rows are collected. Returns ``(rows, seconds)``. In a traced run the
    request gets a span, its own Spark job group and counters, which are
    read after the clock stops."""
    if ctx.tracer is None:
        t0 = time.perf_counter()
        rows = execute().collect()
        return rows, time.perf_counter() - t0
    group = f"{kind}-{rid}"
    w0 = ctx.counters.begin(group)
    with ctx.tracer.span(f"request.{kind}", request=group):
        t0 = time.perf_counter()
        with ctx.tracer.span("plans.execute"):
            df = execute()
        t1 = time.perf_counter()
        with ctx.tracer.span("plans.collect"):
            rows = df.collect()
        t2 = time.perf_counter()
    c = ctx.counters.end(group, w0, time.time())
    c["execute_ms"], c["collect_ms"] = (t1 - t0) * 1e3, (t2 - t1) * 1e3
    plans.setdefault(kind, []).append(c)
    return rows, t2 - t0
