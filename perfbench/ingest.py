"""``ingest-live``: writes beside reads on the persisted store.

One client, closed loop, starting from a ``base``-doc ``DocumentStore``
plus a persisted (plain parquet) BM25 index. Each batch appends ``batch``
new docs to both, deletes ``deletes`` live ids from both, then reopens a
fresh view (``store.read()`` + ``BM25.read``) and runs two text queries on
it, the second prefiltered on metadata. Every ``COMPACT_EVERY``-th batch
both are compacted (tiered). The loop ends on a compaction once
``--seconds`` of operation time has passed, so every run holds whole
append/compact cycles. Vector search runs nowhere here; every read goes
to parquet, past the program's caches. Set-up builds the store and the
index from the base docs, then runs one warm-up batch and a compaction
through the same calls and checks, outside the timed figures.
"""

from __future__ import annotations

import time
import traceback
from contextlib import nullcontext

import gen
import oracle
from common import (
    Ctx, Outcome, cached_mb, du, file_sizes, index_segments, mean_or_zero, median_or_zero,
    request,
    write_docs,
)

SIZES = {
    False: {"base": 2000, "vocab": 20000, "batch": 100, "deletes": 5},
    True: {"base": 300, "vocab": 2000, "batch": 30, "deletes": 3},
}
COMPACT_EVERY = 2
K = 10
PREFILTER_LANG = "en"


def _written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that are new or changed between two listings."""
    return sum(s for p, s in after.items() if before.get(p) != s)


class _Loop:
    """The store and index under test, the reference model they must
    agree with, and the operation counts. Each step runs, checks its
    outputs outside the clock and returns its timings, or None when it
    failed (the store state is then unknown and the loop stops)."""

    def __init__(self, ctx: Ctx, size: dict, g: gen.Generator, base: gen.Docs):
        from comet_spark.operators.bm25 import BM25
        from comet_spark.storage.store import DocumentStore

        self.ctx, self.size, self.g, self.spark = ctx, size, g, ctx.spark
        base_path = write_docs(base, ctx.tmp / "base")
        self.store = DocumentStore(self.spark, str(ctx.tmp / "store"))
        self.store.append(self.spark.read.parquet(str(base_path)))
        self.ix = str(ctx.tmp / "bm25")
        BM25(self.spark.read.parquet(str(base_path))).write(self.ix)
        self.ref = oracle.BM25Ref()
        self.ref.add(base.ids, base.texts)
        self.lang = dict(zip(base.ids.tolist(), base.langs))
        self.attempted = self.failed = 0
        self.notes: list[str] = []

    def _span(self, name: str, rid: str):
        tracer = self.ctx.tracer
        return tracer.span(name, request=rid) if tracer else nullcontext()

    def batch(self, tag: str, plans: dict):
        """Append + delete, then a fresh view and two text queries.
        Returns ``(write_s, read_s, bytes written, user bytes)``."""
        from comet_spark.operators.bm25 import BM25
        from comet_spark.operators.metadata import Eq, Field
        from comet_spark.plans.builder import Corpus, TextSearch

        spark, store, ix, g = self.spark, self.store, self.ix, self.g
        # inputs for this batch, outside the clock
        new = g.docs(self.size["batch"])
        dels = sorted(g.rng.choice(sorted(self.lang), self.size["deletes"], replace=False).tolist())
        queries = [g.query_text(), g.query_text()]
        bpath = write_docs(new, self.ctx.tmp / f"batch-{tag}")
        batch_df = spark.read.parquet(str(bpath))
        del_df = spark.createDataFrame([(i,) for i in dels], "id bigint")
        before = file_sizes(store.path)
        self.attempted += 1
        try:
            with self._span("batch.write", f"batch-{tag}"):
                t0 = time.perf_counter()
                store.append(batch_df)
                BM25.append(spark, ix, batch_df)
                store.delete(del_df)
                BM25.delete(spark, ix, dels)
                write_s = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            self.notes.append(f"write batch {tag} failed: {traceback.format_exc(limit=3)}")
            return None
        written = _written(before, file_sizes(store.path))
        self.ref.add(new.ids, new.texts)
        self.ref.remove(dels)
        self.lang.update(zip(new.ids.tolist(), new.langs))
        for i in dels:
            del self.lang[i]

        self.attempted += 2
        try:
            with self._span("batch.fresh_read", f"read-{tag}"):
                t0 = time.perf_counter()
                bm = BM25.read(spark, ix)
                view = Corpus(store.read(), _bm25=bm)
                reopen = time.perf_counter() - t0
            r1, d1 = request(
                self.ctx, "fresh", f"{tag}a",
                lambda: TextSearch(view).with_query(queries[0]).with_k(K).execute(),
                plans,
            )
            r2, d2 = request(
                self.ctx, "fresh", f"{tag}b",
                lambda: TextSearch(view).with_query(queries[1]).with_k(K)
                .with_prefilter(Eq(Field("lang"), PREFILTER_LANG).expr()).execute(),
                plans,
            )
        except Exception:
            self.failed += 2
            self.notes.append(f"fresh read {tag} failed: {traceback.format_exc(limit=3)}")
            return None

        # checks, outside the clock
        en = {i for i, v in self.lang.items() if v == PREFILTER_LANG}
        for rows, q, cands in ((r1, queries[0], None), (r2, queries[1], en)):
            got = [(r["id"], r["score"]) for r in rows]
            want, truth = self.ref.topk(q, K, candidates=cands)
            why = oracle.same_ranking(got, want, truth)
            if why is None and any(i not in self.lang for i, _ in got):
                why = "returned a deleted id"
            if why is not None:
                self.failed += 1
                self.notes.append(f"wrong fresh read after batch {tag} for {q!r}: {why}")
        n_index = int(bm.stats.first()["n_docs"])
        if n_index != len(self.lang):
            self.failed += 1
            self.notes.append(f"index live count after batch {tag}: {n_index}, want {len(self.lang)}")
        return write_s, reopen + d1 + d2, written, du(bpath)

    def compact(self, tag: str):
        """Tiered compaction of both. Returns ``(seconds, bytes written)``."""
        from comet_spark.operators.bm25 import BM25

        self.attempted += 1
        before = file_sizes(self.store.path)
        try:
            with self._span("batch.compact", f"compact-{tag}"):
                t0 = time.perf_counter()
                self.store.compact(tiered=True)
                BM25.compact(self.spark, self.ix, tiered=True)
                dt = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            self.notes.append(f"compaction {tag} failed: {traceback.format_exc(limit=3)}")
            return None
        return dt, _written(before, file_sizes(self.store.path))


def run(ctx: Ctx) -> Outcome:
    size = SIZES[ctx.smoke]
    g = gen.Generator(ctx.seed, size["vocab"])
    base = g.docs(size["base"])

    t0 = time.perf_counter()
    loop = _Loop(ctx, size, g, base)
    # warm-up: the first call of each operation in a fresh JVM runs
    # 1.5-3x slower, so one batch and a compaction go through every call
    # (and every check) before the clock starts
    warm = loop.batch("warm", {}) is not None and loop.compact("warm") is not None
    setup_s = time.perf_counter() - t0

    write_ms, fresh_ms, compact_ms, plans = [], [], [], {}
    ingested = user_bytes = written = 0
    store_segs, ix_segs = [], []
    busy, b = 0.0, 0
    while warm and (b < COMPACT_EVERY or busy < ctx.seconds or b % COMPACT_EVERY):
        step = loop.batch(str(b), plans)
        if step is None:
            break
        write_s, read_s, w, u = step
        write_ms.append(write_s * 1e3)
        fresh_ms.append(read_s * 1e3)
        busy += write_s + read_s
        ingested += size["batch"]
        written += w
        user_bytes += u
        store_segs.append(loop.store.segment_count())
        ix_segs.append(index_segments(loop.ix))
        b += 1
        if b % COMPACT_EVERY == 0:
            step = loop.compact(str(b))
            if step is None:
                break
            compact_ms.append(step[0] * 1e3)
            busy += step[0]
            written += step[1]

    n_store = loop.store.read().count()
    if n_store != len(loop.lang):
        loop.failed += 1
        loop.notes.append(f"store live count: {n_store}, want {len(loop.lang)}")

    loop.notes.append(
        f"batches={b} ingested={ingested} busy={busy:.1f}s "
        f"write_batch_p50={median_or_zero(write_ms):.0f}ms "
        f"fresh_read_p50={median_or_zero(fresh_ms):.0f}ms "
        f"compact_p50={median_or_zero(compact_ms):.0f}ms setup={setup_s:.2f}s"
    )
    return Outcome(
        attempted=loop.attempted,
        failed=loop.failed,
        e2e={
            "setup_s": setup_s,
            "ops_per_s": ingested / busy if busy else 0.0,
            "op_mean_ms": mean_or_zero(write_ms),
            "text_mean_ms": mean_or_zero(fresh_ms),
            "disk_bytes_per_doc": du(loop.store.path, loop.ix) / len(loop.lang),
        },
        plans=plans,
        layer_extra={
            "session.cached_mb": cached_mb(ctx.spark),
            "operators.ann.recall_at_10": 0.0,
            "operators.bm25.segments": median_or_zero(ix_segs),
            "storage.segments": median_or_zero(store_segs),
            "storage.write_amp": written / user_bytes if user_bytes else 0.0,
        },
        notes=loop.notes,
    )
