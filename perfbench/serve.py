"""``serve-hybrid``: read-only search traffic on a warm index.

A closed loop of ``CLIENTS`` threads, each waiting for its reply before
sending the next request. Requests come in four equal types (exact
``flat`` k-NN, ``ivf`` with 8 probes, BM25 ``text``, and ``hybrid``
vector + text + a metadata filter fused by RRF), drawn Zipf from a pool
of distinct queries so a share of them repeat. Set-up caches the docs,
writes a bucketed BM25 index and reads it back with its side tables
cached, trains the IVF layout, and sends one warm-up request per type.
Nothing is written while requests are timed. ``op_mean_ms`` is the mean
over every request, so each type's latency moves it by its share of the
traffic; ``text_mean_ms`` is the mean text request. Latencies are
reported as means: within one type they are bimodal (a request whose
query terms the index has not seen yet runs one more Spark job), and a
median that flips between the two modes from run to run is less steady
than the mean of the mixture. Per-type medians and p90s go to stderr.
"""

from __future__ import annotations

import statistics
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
import oracle
from common import (
    Ctx, Outcome, cached_mb, du, index_segments, mean_or_zero, percentile, request,
    write_docs,
)

SIZES = {
    False: {"docs": 2000, "vocab": 20000, "per_type": 100, "nlist": 64},
    True: {"docs": 400, "vocab": 2000, "per_type": 4, "nlist": 8},
}
CLIENTS = 2
K = 10
NPROBE = 8
BUCKETS = 16


def _filter(sel: str):
    from comet_spark.operators.metadata import Eq, Field, In, Lt, NumField

    name, op, v = gen.FILTERS[sel]
    if op == "lt":
        return Lt(NumField(name), v)
    if op == "in":
        return In(NumField(name, quantize=False), list(v))
    return Eq(Field(name), v)


def _mask(docs: gen.Docs, sel: str) -> np.ndarray:
    """The filter's rows, with the library's x100 truncation for floats."""
    name, op, v = gen.FILTERS[sel]
    if op == "lt":
        return np.trunc(docs.prices * 100).astype(np.int64) < int(v * 100)
    if op == "in":
        return np.isin(docs.cats, v)
    return np.asarray(docs.langs) == v


def _search(corpus, kind: str, q: dict):
    """The DataFrame of one request (built, not yet run)."""
    from comet_spark.plans.builder import HybridSearch, TextSearch, VectorSearch

    if kind == "flat":
        return VectorSearch(corpus).with_query(q["vec"]).with_k(K).execute()
    if kind == "ivf":
        return VectorSearch(corpus).with_query(q["vec"]).with_k(K).with_nprobes(NPROBE).execute()
    if kind == "text":
        return TextSearch(corpus).with_query(q["text"]).with_k(K).execute()
    return (
        HybridSearch(corpus).with_vector(q["vec"]).with_text(q["text"])
        .with_metadata(_filter(q["filter"])).with_fusion("rrf").with_k(K).execute()
    )


def _setup(spark, docs_path, ix_path, nlist: int, warm: dict):
    from comet_spark.operators.bm25 import BM25
    from comet_spark.plans.builder import Corpus

    docs = spark.read.parquet(str(docs_path)).cache()
    docs.count()
    BM25(docs).write(str(ix_path), buckets=BUCKETS)
    ix = BM25.read(spark, str(ix_path))
    ix.doc_len, ix.df, ix.stats = ix.doc_len.cache(), ix.df.cache(), ix.stats.cache()
    corpus = Corpus(docs, _bm25=ix).build_ivf(nlist)
    for kind in gen.QUERY_TYPES:
        _search(corpus, kind, warm[kind][0]).collect()
    return corpus


class _Oracle:
    """Reference answers for the pool, memoized per query."""

    def __init__(self, docs: gen.Docs, centroids: np.ndarray):
        self.docs = docs
        self.vecs = docs.vectors
        self.ids = docs.ids
        self.centroids = centroids
        self.cluster = np.argmin(oracle.sq_dist(self.vecs, centroids), axis=1)
        self.bm25 = oracle.BM25Ref()
        self.bm25.add(docs.ids, docs.texts)
        self.memo: dict = {}

    def answer(self, kind: str, qi: int, q: dict):
        key = (kind, qi)
        if key not in self.memo:
            self.memo[key] = self._answer(kind, q)
        return self.memo[key]

    def _answer(self, kind: str, q: dict):
        if kind in ("flat", "exact"):  # "exact": ground truth of an ivf query
            return oracle.exact_knn(self.vecs, self.ids, q["vec"], K)
        if kind == "ivf":
            probed = oracle.probe_lists(self.centroids, q["vec"], NPROBE)
            return oracle.exact_knn(
                self.vecs, self.ids, q["vec"], K, mask=np.isin(self.cluster, probed)
            )
        if kind == "text":
            return self.bm25.topk(q["text"], K)
        mask = _mask(self.docs, q["filter"])
        vec_leg, _ = oracle.exact_knn(self.vecs, self.ids, q["vec"], K, mask=mask)
        txt_leg, _ = self.bm25.topk(q["text"], K, candidates=set(self.ids[mask].tolist()))
        return oracle.rrf(vec_leg, txt_leg, K)


def run(ctx: Ctx) -> Outcome:
    size = SIZES[ctx.smoke]
    g = gen.Generator(ctx.seed, size["vocab"])
    docs = g.docs(size["docs"])
    warm = gen.query_pool(g, 1)
    pool = gen.query_pool(g, size["per_type"])
    seq = gen.request_sequence(g, size["per_type"], 5000)
    docs_path = write_docs(docs, ctx.tmp / "docs")
    spark = ctx.spark

    ix_path = ctx.tmp / "bm25"
    t0 = time.perf_counter()
    corpus = _setup(spark, docs_path, ix_path, size["nlist"], warm)
    setup_s = time.perf_counter() - t0
    # the IVF oracle needs the trained centroids to know which lists 8
    # probes cover; it reads the model, never a search result
    ref = _Oracle(docs, corpus._ivf.centroids)

    # -- the timed window: CLIENTS closed-loop clients --------------------
    lock = threading.Lock()
    it = iter(enumerate(seq))
    done, errors, plans, issued = [], [], {}, set()
    start = time.perf_counter()
    deadline = start + ctx.seconds

    def client():
        while True:
            with lock:
                # past the deadline, stop once every type has been sent
                if time.perf_counter() >= deadline and len(issued) == len(gen.QUERY_TYPES):
                    return
                rid, (kind, qi) = next(it)
                issued.add(kind)
            try:
                rows, dt = request(
                    ctx, kind, rid, lambda: _search(corpus, kind, pool[kind][qi]), plans
                )
            except Exception:  # a failed request counts, the loop goes on
                errors.append(traceback.format_exc(limit=3))
                continue
            done.append((rid, kind, qi, rows, dt, time.perf_counter()))

    with ThreadPoolExecutor(CLIENTS) as ex:
        for f in [ex.submit(client) for _ in range(CLIENTS)]:
            f.result()
    elapsed = max(t for *_, t in done) - start if done else ctx.seconds
    held_mb = cached_mb(spark)

    # -- checks, outside the timed window ---------------------------------
    failed, notes, recalls, seen, repeats = len(errors), [], [], set(), 0
    notes += [f"request error: {e}" for e in errors[:3]]
    for rid, kind, qi, rows, _, _ in sorted(done):
        repeats += (kind, qi) in seen
        seen.add((kind, qi))
        want, truth = ref.answer(kind, qi, pool[kind][qi])
        got = [(r["id"], r["score"]) for r in rows]
        why = oracle.same_ranking(got, want, truth)
        if why is not None:
            failed += 1
            notes.append(f"wrong {kind} result for pool query {qi}: {why}")
        if kind == "ivf":
            exact, _ = ref.answer("exact", qi, pool[kind][qi])
            recalls.append(len({i for i, _ in got} & {i for i, _ in exact}) / K)

    lat = {t: [d for _, k, _, _, d, _ in done if k == t] for t in gen.QUERY_TYPES}
    all_lat = [d for *_, d, _ in done]
    for t in gen.QUERY_TYPES:
        xs = lat[t]
        if xs:
            notes.append(
                f"{t}: n={len(xs)} p50={statistics.median(xs) * 1e3:.1f}ms "
                f"p90={percentile(xs, 90) * 1e3:.1f}ms"
            )
    recall = statistics.mean(recalls) if recalls else 0.0
    p90 = percentile(all_lat, 90) * 1e3 if all_lat else 0.0
    notes.append(
        f"requests={len(done)} in {elapsed:.1f}s, p90={p90:.1f}ms "
        f"(n={len(all_lat)}), repeats={repeats / max(1, len(done)):.2f}, "
        f"ivf_recall_at_10={recall:.3f}, cached_mb={held_mb:.1f}, setup={setup_s:.2f}s"
    )
    return Outcome(
        attempted=len(done) + len(errors),
        failed=failed,
        e2e={
            "setup_s": setup_s,
            "ops_per_s": len(done) / elapsed,
            "op_mean_ms": mean_or_zero(all_lat) * 1e3,
            "text_mean_ms": mean_or_zero(lat["text"]) * 1e3,
            "disk_bytes_per_doc": du(docs_path, ix_path) / len(docs),
        },
        plans=plans,
        layer_extra={
            "session.cached_mb": held_mb,
            "operators.ann.recall_at_10": recall,
            "operators.bm25.segments": index_segments(ix_path),
            "storage.segments": 0,
            "storage.write_amp": 0.0,
        },
        notes=notes,
    )
